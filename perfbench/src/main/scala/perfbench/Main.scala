package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchShim
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One timed operation. `timed` runs inside the timer and returns the output
  * check, which runs after the timer stops and returns an error message when
  * the output is wrong.
  */
final case class Op(name: String, timed: () => (() => Option[String]))

trait Workload {
  /** Builds the inputs and runs the program's set-up hooks: part of setup_s. */
  def setUp(spark: SparkSession): Unit
  /** The operations of pass `passNo` (0 is the cold pass), in run order. */
  def pass(spark: SparkSession, passNo: Int): Seq[Op]
}

/** Per-layer values of the traced run. Spans are recorded only while a
  * tracer is installed, so the timed run pays nothing for them.
  */
object Layers {
  @volatile var tracer: Option[Tracer] = None
  val values: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  /** One tab-separated line per traced operation: the per-row artifact. */
  val rows: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def add(name: String, v: Double): Unit = if (tracer.isDefined) values(name) += v

  /** Times `body` as `<name>_ms`; with `countJobs`, also counts the Spark
    * jobs it launched as `<name>_jobs`.
    */
  def span[T](name: String, countJobs: Boolean = false)(body: => T): T = tracer match {
    case None => body
    case Some(t) =>
      val j0 = if (countJobs) t.jobs else 0L
      val t0 = System.nanoTime()
      val r = body
      values(name + "_ms") += (System.nanoTime() - t0) / 1e6
      if (countJobs) values(name + "_jobs") += t.jobs - j0
      r
  }
}

/** Runs one workload and prints the result line:
  * `--workload W --seed N --seconds S --trace 0|1 --work DIR [--data DIR --expected FILE]
  * [--rows FILE]`, or `--record DIR` to record a query workload's expected
  * digests. The result line holds the measured values by name; `run.py`
  * matches them to the metrics of BENCHMARK.json.
  */
object Main {
  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val work = new java.io.File(opt("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    var spark: SparkSession = null
    def newSession(): SparkSession = {
      if (spark != null) spark.stop()
      spark = Session.build(cores, work)
      spark
    }
    val wl: Workload = workload match {
      case "etl_nightly" => new EtlWorkload(new java.io.File(work, "etl"), seed)
      case "registry_queries" => new QueryWorkload(opt("data"), work, seed, opt.get("expected"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    opt.get("record") match {
      case Some(dir) =>
        wl.asInstanceOf[QueryWorkload].record(newSession(), dir)
      case None if opt("trace") == "1" =>
        val o = tracedRun(wl, newSession(), cores)
        opt.get("rows").foreach(f => java.nio.file.Files.write(java.nio.file.Paths.get(f),
          (RowHeader +: Layers.rows.toSeq).mkString("", "\n", "\n").getBytes("UTF-8")))
        emit(o)
      case None =>
        emit(timedRun(wl, () => newSession(), opt("seconds").toDouble))
    }
    spark.stop()
  }

  final case class Sample(op: String, secs: Double, ok: Boolean)
  final case class Outcome(samples: Seq[Sample], metrics: Map[String, Double])

  private val RowHeader = Seq("pass", "op", "wall_ms", "jobs", "stages", "tasks", "in_stage_ms",
    "outside_stage_ms", "shuffle_write_bytes", "ok").mkString("\t")

  /** Runs one pass, releasing cached and checkpointed blocks after every
    * operation outside the timer, as a long-lived session would between jobs.
    */
  private def runPass(spark: SparkSession, ops: Seq[Op], deadline: Long,
                      passNo: Int = 0): Seq[Sample] = {
    val out = mutable.ArrayBuffer.empty[Sample]
    val it = ops.iterator
    while (it.hasNext && System.nanoTime() < deadline) {
      val op = it.next()
      val before = Layers.tracer.map(_.snapshot())
      val t0 = System.nanoTime()
      val check = try Right(op.timed()) catch { case e: Throwable => Left(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      val after = Layers.tracer.map(t => (t, t.snapshot()))
      val err = check match {
        case Right(c) => try c() catch { case e: Throwable => Some(e.toString) }
        case Left(e) => Some(e.toString)
      }
      err.foreach(m => System.err.println(s"PERFBENCH FAIL ${op.name}: $m"))
      out += Sample(op.name, secs, err.isEmpty)
      for ((c0, spans0) <- before; (t, (c1, _)) <- after) {
        def d(k: String) = (c1(k) - c0(k)).toLong
        val wallMs = secs * 1e3
        Layers.rows += Seq(passNo, op.name, f"$wallMs%.1f", d("jobs"), d("stages"), d("tasks"),
          d("in_stage_ms"), f"${math.max(0.0, wallMs - t.busyMs(spans0))}%.1f",
          d("shuffle_write_bytes"), err.isEmpty).mkString("\t")
      }
      Layers.span("operators.release") {
        spark.catalog.clearCache(); graft.CkptCycle.releaseAll(spark)
      }
    }
    out.toSeq
  }

  /** Timed run: repeated set-up, one cold pass, then warm passes until the
    * measuring window of `seconds` (which includes the cold pass) is spent.
    */
  private def timedRun(wl: Workload, newSession: () => SparkSession, seconds: Double): Outcome = {
    val setups = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      wl.setUp(newSession())
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"perfbench setups ${setups.map(t => f"$t%.2f").mkString(" ")} s")
    val spark = SparkSession.active
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val cold = runPass(spark, wl.pass(spark, 0), Long.MaxValue)
    // the first warm pass always completes; a later one cut by the deadline
    // still counts its operations, but not as a pass total
    val warm = mutable.ArrayBuffer.empty[Seq[Sample]]
    val wholePasses = mutable.ArrayBuffer.empty[Double]
    while (warm.isEmpty || System.nanoTime() < deadline) {
      val ops = wl.pass(spark, warm.size + 1)
      val s = runPass(spark, ops, if (warm.isEmpty) Long.MaxValue else deadline)
      warm += s
      if (s.size == ops.size) wholePasses += s.map(latency).sum
    }
    val warmSamples = warm.toSeq.flatten
    Stats.summary(cold, warm.toSeq)
    Outcome(cold ++ warmSamples, Map(
      "setup_s" -> Stats.median(setups),
      "cold_total_s" -> cold.map(latency).sum,
      "cold_geomean_s" -> Stats.geomean(cold.map(latency)),
      "warm_total_s" -> Stats.median(wholePasses.toSeq),
      "warm_geomean_s" -> Stats.geomean(warmSamples.map(latency)),
      "ok_frac" -> (cold ++ warmSamples).count(_.ok).toDouble / (cold.size + warmSamples.size)))
  }

  /** A failed operation counts as slower than any latency limit. */
  private def latency(s: Sample): Double = if (s.ok) s.secs else Stats.FailedSecs

  /** Traced run: a traced cold pass, then warm passes untraced, traced and
    * untraced. The per-layer values cover the two traced passes. The tracing
    * overhead is the traced warm pass's wall time minus the mean of the two
    * untraced ones, which cancels the JVM's steady warming over the passes.
    * The listener counts jobs and stages in every pass, so the three warm
    * passes, with spans and without, must count the same: a run where they
    * differ fails its `exec_counts_repeat` check.
    */
  private def tracedRun(wl: Workload, spark: SparkSession, cores: Int): Outcome = {
    val tracer = new Tracer(spark)
    Layers.tracer = Some(tracer)
    wl.setUp(spark)
    val compileNs0 = CodeGenerator.compileTime
    val compiles0 = PerfbenchShim.codegenCompiles
    def pass(passNo: Int, traced: Boolean): (Seq[Sample], Map[String, Double], Double) = {
      tracer.reset()
      Layers.tracer = if (traced) Some(tracer) else None
      val t0 = System.nanoTime()
      val s = runPass(spark, wl.pass(spark, passNo), Long.MaxValue, passNo)
      val wallMs = (System.nanoTime() - t0) / 1e6
      Layers.tracer = None
      (s, tracer.execMetrics(wallMs, cores), wallMs)
    }
    val (cold, coldM, _) = pass(0, traced = true)
    val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    val compiles = (PerfbenchShim.codegenCompiles - compiles0).toDouble
    val (before, beforeM, beforeMs) = pass(1, traced = false)
    val (warm, warmM, warmMs) = pass(2, traced = true)
    val (after, afterM, afterMs) = pass(3, traced = false)
    val counts = Seq(beforeM, warmM, afterM)
      .map(m => (m("exec.jobs").toLong, m("exec.stages").toLong))
    val repeat = counts.distinct.size == 1
    System.err.println(s"perfbench warm-pass (jobs, stages): untraced ${counts(0)}, " +
      s"traced ${counts(1)}, untraced ${counts(2)}")
    if (!repeat) System.err.println("PERFBENCH FAIL exec_counts_repeat: the counts differ")
    val exec = coldM.keySet.map { k =>
      k -> (k match {
        case "exec.peak_exec_mem_bytes" => math.max(coldM(k), warmM(k))
        case "exec.slot_util" | "exec.task_failed_ratio" => warmM(k)
        case _ => coldM(k) + warmM(k)
      })
    }.toMap
    Outcome(cold ++ before ++ warm ++ after :+ Sample("exec_counts_repeat", 0.0, repeat),
      exec ++ Layers.values ++ Map(
        "plans.codegen_compile_ms" -> compileMs, "plans.codegen_compiles" -> compiles,
        "exec.peak_rss_mb" -> Stats.peakRssMb(), "trace.overhead_ms" -> (warmMs - (beforeMs + afterMs) / 2)))
  }

  private def emit(o: Outcome): Unit = {
    val failed = o.samples.count(!_.ok)
    val metrics = o.metrics.toSeq.sortBy(_._1).map { case (n, v) => s""""$n": $v""" }
      .mkString(", ")
    println(s"""{"correct": ${failed == 0}, "attempted": ${o.samples.size}, """ +
      s""""failed": $failed, "metrics": {$metrics}}""")
  }
}

object Session {
  /** The benchmark's session: `local[nproc]`, one shuffle partition per core,
    * AQE on, the repository's extensions, UTC, and scratch space inside the
    * work directory.
    */
  def build(cores: Int, work: java.io.File): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "spark-warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
