package perfbench

import java.io.File
import java.time.{DayOfWeek, LocalDate}
import java.time.temporal.TemporalAdjusters

import graft.airbnb.{AirbnbEtl, Warehouse}
import org.apache.spark.sql.SparkSession

/** The reference's nightly job over seeded csv.gz feeds. A pass loads an
  * empty warehouse, audits it (invariants plus the three views), and loads
  * the same feeds again, which takes the MERGE-update and review anti-join
  * path.
  */
final class EtlWorkload(work: File, seed: Long) extends Workload {
  import EtlWorkload._

  private val feeds = new File(work, "feeds")
  private val start = LocalDate.of(2024, 1, 1).plusDays(Math.floorMod(seed, 200L))
  private var feedBytes = 0L
  private var viewDigests: Option[Seq[String]] = None

  def setUp(spark: SparkSession): Unit = {
    deleteTree(work)
    writeFeeds()
    feedBytes = sizeOf(feeds)
  }

  /** Row counts of `Warehouse.stats` after the `runNo`th load, from the shape
    * alone: every listing id is numeric except the dirty ones, which reach
    * only the append-only id map; hosts cover all residues; every review is
    * distinct and lands inside the calendar's date span.
    */
  private def predictedStats(runNo: Int): Map[String, Long] = {
    val days = (0 until Days).map(start.plusDays(_))
    val weeks = days.map(_.`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY))).distinct
    Map("dim_listings" -> Listings.toLong,
      "dim_listing_id_map" -> (Listings + Dirty).toLong * runNo,
      "dim_hosts" -> Hosts.toLong, "dim_dates" -> Days.toLong,
      "fact_calendar" -> Listings.toLong * weeks.size, "fact_reviews" -> Reviews.toLong)
  }

  def pass(spark: SparkSession, passNo: Int): Seq[Op] = {
    deleteTree(new File(work, s"wh-${passNo - 1}"))
    val root = new File(work, s"wh-$passNo").getAbsolutePath
    def load(runNo: Int, action: String): Op = Op(if (runNo == 1) "first_load" else "rerun", () => {
      Layers.tracer.foreach(_.takeActions())
      val r = AirbnbEtl.run(spark, root, s"$feeds/listings/*.csv.gz",
        s"$feeds/calendar/*.csv.gz", s"$feeds/reviews/*.csv.gz")
      () => {
        Layers.tracer.foreach(t => traceLoad(t, r))
        val want = predictedStats(runNo)
        if (r.stats != want) Some(s"table rows ${r.stats}, expected $want")
        else if (r.mergeActions != Map(action -> Listings.toLong))
          Some(s"merge actions ${r.mergeActions}, expected $action = $Listings")
        else None
      }
    })
    val audit = Op("audit", () => {
      val bad = Layers.span("airbnb.validate")(AirbnbEtl.validate(Warehouse(spark, root)))
      val views = Layers.span("airbnb.views")(ViewNames.map(v => DigestSink.run(spark.table(v))))
      () => {
        val prev = viewDigests
        viewDigests = Some(views)
        if (bad.values.exists(_ != 0)) Some(s"invariants violated: $bad")
        else if (views.exists(_.startsWith("0:"))) Some(s"empty view: $views")
        else if (prev.exists(_ != views)) Some(s"views $views differ from earlier pass $prev")
        else None
      }
    })
    Seq(load(1, "insert"), audit, load(2, "update"))
  }

  /** Splits a load's SQL actions into the table writes, the post-load
    * `Warehouse.stats` scans (the `count` actions after the last write) and
    * the rest.
    */
  private def traceLoad(t: Tracer, r: AirbnbEtl.Result): Unit = {
    val actions = t.takeActions()
    val lastWrite = actions.lastIndexWhere(_.table.isDefined)
    actions.zipWithIndex.foreach {
      case (a, _) if a.table.isDefined =>
        val table = a.table.get
        Layers.add(s"airbnb.write_ms.$table", a.ms)
        Layers.add(s"airbnb.write_rows.$table", a.rows.toDouble)
        Layers.add(s"airbnb.write_bytes.$table", a.bytes.toDouble)
      case (a, i) if i > lastWrite && a.funcName == "count" =>
        Layers.add("airbnb.stats_ms", a.ms); Layers.add("airbnb.stats_jobs", a.jobs.toDouble)
      case (a, _) =>
        Layers.add("airbnb.other_actions", 1); Layers.add("airbnb.other_ms", a.ms)
    }
    Seq("insert", "update", "keep").foreach(a =>
      Layers.add(s"airbnb.merge_$a", r.mergeActions.getOrElse(a, 0L).toDouble))
    // filesystem metadata only: no Spark job
    Layers.values("airbnb.bytes_stored_ratio") = r.wh.sizeStats().values.sum.toDouble / feedBytes
  }

  /** Writes the three feeds as gzip csv, four files each (one per city, as
    * Inside Airbnb publishes them), from a seeded hash of each row's key.
    * The listings files carry the city in their names because the cleaner
    * reads property geography from the file name.
    */
  private def writeFeeds(): Unit = {
    def rnd(salt: Int, key: Long, m: Int): Int = Math.floorMod(mix(seed, salt, key), m.toLong).toInt
    def pick[T](salt: Int, key: Long, xs: Seq[T]): T = xs(rnd(salt, key, xs.size))
    def money(v: Int): String = String.format(java.util.Locale.US, "$%,.2f", Double.box(v))
    Cities.zipWithIndex.foreach { case (city, i) =>
      writeCsv(new File(feeds, s"listings/${city}_listings_$start.csv.gz"),
        Seq("id", "host_id", "host_name", "host_location", "neighbourhood_cleansed",
          "description", "latitude", "longitude", "price", "number_of_reviews",
          "review_scores_rating", "calculated_host_listings_count"),
        (1L to Listings + Dirty).iterator.filter(_ % Cities.size == i).map { k =>
          val host = Math.floorMod(k * 7919 + seed, Hosts.toLong)
          Seq(if (k <= Listings) k.toString else s"L$k", host + 1, s"Host $host",
            pick(1, k, HostLocations), pick(2, k, Neighbourhoods),
            s"${pick(3, k, Seq("Cozy", "Bright", "Quiet"))} room, \"near\" the centre\n" +
              s"sleeps ${rnd(4, k, 6) + 1}",
            f"${40.0 + rnd(5, k, 100000) / 1e5}%.6f", f"${-3.0 - rnd(6, k, 100000) / 1e5}%.6f",
            money(rnd(7, k, 1900) + 40), rnd(8, k, 300), f"${3.0 + rnd(9, k, 201) / 100.0}%.2f",
            rnd(10, k, 5) + 1)
        })
      writeCsv(new File(feeds, s"calendar/calendar_$i.csv.gz"),
        Seq("listing_id", "date", "available", "price", "adjusted_price", "minimum_nights"),
        (1L to Listings).iterator.filter(_ % Cities.size == i).flatMap { l =>
          (0 until Days).iterator.map { d =>
            Seq(l, start.plusDays(d), pick(11, l * 1000 + d, Seq("t", "f", "f")),
              money(rnd(12, l, 400) + 30), money(rnd(13, l * 1000 + d, 400) + 30),
              rnd(14, l, 5) + 1)
          }
        })
      // distinct review ids, then re-sent duplicates that the loader drops
      writeCsv(new File(feeds, s"reviews/reviews_$i.csv.gz"),
        Seq("listing_id", "id", "date", "reviewer_id", "reviewer_name", "comments"),
        ((1L to Reviews) ++ (1L to ReviewDups)).iterator.filter(_ % Cities.size == i).map { r =>
          Seq(rnd(15, r, Listings) + 1, r, start.plusDays(rnd(16, r, Days)), rnd(17, r, 5000),
            s"${pick(18, r, Seq("Ana", "Luc", "Mei", "Sam", "Olu"))} ${rnd(19, r, 90)}",
            pick(20, r, Comments))
        })
    }
  }
}

object EtlWorkload {
  val Listings = 600
  val Dirty = 6
  val Hosts = 200
  val Days = 56
  val Reviews = 6000
  val ReviewDups = 120

  val ViewNames = Seq("vw_local_foreign_analysis", "vw_neighborhood_performance",
    "vw_host_activity")
  val Cities = Seq("United_States_Austin", "France_Paris", "Spain_Madrid", "Japan_Tokyo")
  val HostLocations = Seq("Austin, TX", "Paris, France", "Madrid, Spain", "Tokyo, Japan",
    "New York, NY", "London, United Kingdom", "", "Lyon, France")
  val Neighbourhoods = Seq("Downtown", "Old Town", "Riverside", "Hills", "Harbour")
  val Comments = Seq(
    "Great stay, the host was very kind and the place was clean.",
    "Lovely flat, close to everything. Would come back!",
    "Tres bel appartement, tres propre et bien situe. Merci beaucoup.",
    "El piso es muy bonito y la ubicacion es perfecta, gracias.",
    "Die Wohnung war sauber und die Lage ist sehr gut.",
    "Noisy at night, but \"good value\",\nand the host answered fast.",
    "")

  /** splitmix64 of (seed, salt, key). */
  private def mix(seed: Long, salt: Int, key: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + key
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** RFC 4180 csv, gzip-compressed, with a header row. */
  private def writeCsv(f: File, header: Seq[String], rows: Iterator[Seq[Any]]): Unit = {
    def field(v: Any): String = {
      val s = v.toString
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }
    f.getParentFile.mkdirs()
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(f), 1 << 16), "UTF-8"))
    try {
      w.write(header.mkString(",")); w.write('\n')
      rows.foreach { r => w.write(r.map(field).mkString(",")); w.write('\n') }
    } finally w.close()
  }

  private def sizeOf(f: File): Long =
    if (f.isDirectory) f.listFiles().map(sizeOf).sum
    else if (f.getName.endsWith(".csv.gz")) f.length() else 0L

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete()
  }
}
