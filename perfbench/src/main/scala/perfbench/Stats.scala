package perfbench

/** Summary statistics for the figures a run reports. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile, `q` in (0, 100]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(q * s.length / 100.0 - 1e-9).toInt
    s(math.min(math.max(rank, 1), s.length) - 1)
  }

  /** A distribution as the median plus the highest tail percentile that
    * still has at least `minBeyond` samples above its rank, with the
    * sample count. Fewer samples than that for p90 report no tail: a
    * p99 read off 50 samples would be the maximum in disguise.
    */
  final case class Summary(n: Int, median: Double, tail: Option[(Double, Double)]) {
    def toJson: String = {
      val t = tail.map { case (q, v) => s""", "p${fmtQ(q)}": ${Json.num(v)}""" }.getOrElse("")
      s"""{"n": $n, "median": ${Json.num(median)}$t}"""
    }
  }

  val TailLevels: Seq[Double] = Seq(90.0, 99.0, 99.9)

  def summary(xs: Seq[Double], minBeyond: Int = 10): Summary = {
    val n = xs.length
    val tail = TailLevels.reverse
      .find(q => n * (100.0 - q) / 100.0 >= minBeyond - 1e-9)
      .map(q => q -> percentile(xs, q))
    Summary(n, median(xs), tail)
  }

  private def fmtQ(q: Double): String =
    if (q == math.rint(q)) q.toLong.toString else q.toString.replace('.', '_')
}

/** Just enough JSON writing for flat result objects and span lists. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
