package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{Q, SparkEntry, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A fixed set of registry rows over a copy of the fixture tables in
  * `dataDir`. Each pass runs every row once: the cold pass in registry
  * order, so that the JVM's warm-up lands on the same rows in every run, and
  * each warm pass in an order drawn from the seed. Each row's output digest
  * must equal the one recorded in `expectedFile`.
  */
final class QueryWorkload(dataDir: String, work: java.io.File, seed: Long,
                          expectedFile: Option[String]) extends Workload {

  /** Every twelfth relational row and every twelfth dedup row, in registry
    * order, so that a cold and a warm pass fit one run; plus a window, a
    * MERGE upsert and a set-operation row, which the sampling misses, and the
    * two dedup rows furthest behind the DuckDB oracle.
    */
  val rows: Seq[Q] = {
    def sample(qs: Seq[Q], keep: Set[String]) =
      qs.zipWithIndex.collect { case (q, i) if i % 12 == 0 || keep(q.name) => q }
    sample(graft.queries.CoreQueries.qs,
        Set("q_w1_dedup_latest", "q_j7_upsert_merge", "q_u5_except_all")) ++
      sample(SparkEntry.registry.filter(_.name.startsWith("q_dedup_")),
        Set("q_dedup_lsh_recall", "q_dedup_sparse_spans"))
  }

  private lazy val expected: Map[String, String] = expectedFile.toSeq
    .flatMap(f => Files.readAllLines(Paths.get(f)).asScala)
    .map(_.split('\t')).collect { case Array(n, d) => n -> d }.toMap

  private var setUps = 0
  private var sfDir = dataDir

  /** Copies the fixture tables to a fresh path, so that nothing the program
    * caches per path survives from an earlier set-up; warms the JVM's scan,
    * shuffle and sink paths with a query that is not a registry row; then
    * runs the rows' set-up hooks.
    */
  def setUp(spark: SparkSession): Unit = {
    setUps += 1
    val copy = new java.io.File(work, s"tables-$setUps")
    copy.mkdirs()
    new java.io.File(dataDir).listFiles().foreach(f =>
      Files.copy(f.toPath, new java.io.File(copy, f.getName).toPath))
    sfDir = copy.getAbsolutePath
    DigestSink.run(Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")), count(lit(1))))
    Layers.span("queries.prepare") {
      rows.foreach(q => q.prepare.foreach(_(spark, sfDir)))
    }
  }

  def pass(spark: SparkSession, passNo: Int): Seq[Op] = {
    val order =
      if (passNo == 0) rows else new scala.util.Random(seed * 1000003L + passNo).shuffle(rows)
    order.map { q =>
      Op(q.name, () => {
        Layers.tracer.foreach(_.takeActions())
        val df = Layers.span("queries.construct", countJobs = true)(q.run(spark, sfDir))
        val digest = Layers.span("queries.sink")(DigestSink.run(df))
        // the result frame is analysed when it is built; every SQL action the
        // row ran, the sink's included, reports its own planning phases
        Layers.tracer.foreach { t =>
          val phases = df.queryExecution.tracker.phases.map { case (p, s) =>
            p -> s.durationMs.toDouble } +: t.takeActions().map(_.phasesMs)
          for (m <- phases; p <- Seq("analysis", "optimization", "planning"))
            Layers.add(s"plans.${p}_ms", m.getOrElse(p, 0.0))
        }
        () => expected.get(q.name) match {
          case Some(`digest`) => None
          case Some(e) => Some(s"digest $digest, expected $e")
          case None => Some("no expected digest recorded")
        }
      })
    }
  }

  /** Runs every row once and writes `<dir>/expected.tsv` (name, digest) and,
    * for comparison against the DuckDB oracles, each result as parquet plus
    * `oracle_sql.json` in the layout of the repository's correctness dump.
    */
  def record(spark: SparkSession, dir: String): Unit = {
    setUp(spark)
    val out = rows.map { q =>
      val digest = DigestSink.run(q.run(spark, sfDir))
      q.run(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$dir/dump/${q.name}")
      spark.catalog.clearCache(); graft.CkptCycle.releaseAll(spark)
      s"${q.name}\t$digest"
    }
    Files.write(Paths.get(s"$dir/expected.tsv"), out.asJava)
    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val oracles = rows.flatMap(q => q.oracle.map(o => s"${js(q.name)}: ${js(o.trim)}"))
    Files.writeString(Paths.get(s"$dir/dump/oracle_sql.json"), oracles.mkString("{", ",", "}"))
    println(s"""{"recorded": ${out.size}}""")
  }
}
