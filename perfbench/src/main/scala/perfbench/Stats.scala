package perfbench

import java.security.MessageDigest

/** Pure helpers the workloads and the trace share; covered by the
  * benchmark's own tests.
  */
object Stats {

  /** Percentile `p` in [0, 100] with linear interpolation between closest
    * ranks (the numpy default). Empty input has no percentile.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p out of [0, 100]")
    val s = xs.sorted
    val pos = (s.length - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Order-independent digest of a result: rows are rendered canonically
    * (doubles to 12 significant digits, null as `\N`), sorted, and hashed,
    * so two engines or two runs that return the same multiset of rows in
    * any order agree.
    */
  def digest(rows: Seq[Seq[Any]]): String = {
    def cell(v: Any): String = v match {
      case null | None => "\\N"
      case Some(x) => cell(x)
      case d: Double if d.isNaN => "NaN"
      case d: Double => if (d == 0.0) "0" else new java.math.BigDecimal(d)
        .round(new java.math.MathContext(12)).stripTrailingZeros().toString
      case x => x.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.map(cell).mkString("\u0001")).sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString.take(16)
  }

  /** Module that launched a Spark job, from its long call site (one stack
    * frame per line): the first engine frame (`graft.<pkg>.<Class>`) names
    * it as `<pkg>.<file in snake case>`, with the short names the profile
    * uses for a few files. A job no engine frame launched belongs to the
    * benchmark itself.
    */
  def moduleOf(callSite: String): String = {
    val Frame = """\s*(?:at\s+)?graft\.([a-z_]+)\.[\w$.]+\((\w+)\.scala:\d+\).*""".r
    callSite.split('\n').iterator.collectFirst { case Frame(pkg, file) =>
      s"$pkg.${ShortNames.getOrElse(file, snake(file))}"
    }.getOrElse("bench")
  }

  private val ShortNames = Map("CurrencyConverter" -> "currency")

  def snake(s: String): String =
    s.replaceAll("([a-z0-9])([A-Z])", "$1_$2").toLowerCase

  /** Total length of the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    intervals.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
