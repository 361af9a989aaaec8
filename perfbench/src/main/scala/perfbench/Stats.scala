package perfbench

object Stats {
  /** The latency a failed operation counts as: above any limit. */
  val FailedSecs = 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Per-operation medians on stderr, for reading a run by eye. */
  def summary(cold: Seq[Main.Sample], warm: Seq[Seq[Main.Sample]]): Unit = {
    val w = warm.flatten.groupBy(_.op)
    cold.foreach { c =>
      val ws = w.getOrElse(c.op, Nil).map(_.secs)
      System.err.println(f"perfbench ${c.op}%-44s cold ${c.secs}%8.3f s  warm p50 " +
        (if (ws.isEmpty) "      -" else f"${median(ws)}%8.3f") + f" s  n=${ws.size}")
    }
    System.err.println(f"perfbench warm passes ${warm.size}, warm samples ${warm.map(_.size).sum}")
  }
}
