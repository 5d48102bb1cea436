package graftbench

/** Summary statistics and the result line's metric rules. */
object Stats {

  val MetricName = "[A-Za-z0-9_.-]+".r

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  /** The percentiles a tail is reported at, highest last. */
  val TailLadder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest ladder percentile that has at least 10 samples beyond it,
    * as (percentile, value); None when even the median has fewer.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    TailLadder.filter(p => beyond(xs.size, p) >= 10).lastOption
      .map(p => (p, quantile(xs, p / 100)))

  /** Samples strictly above the `p`-th percentile of `n` samples. */
  def beyond(n: Int, p: Double): Int = n - 1 - math.floor(p / 100 * (n - 1)).toInt

  /** Metric names must be unique and match [[MetricName]]. */
  def checkNames(names: Seq[String]): Unit = {
    val bad = names.filterNot(n => MetricName.matches(n))
    require(bad.isEmpty, s"malformed metric names: ${bad.mkString(", ")}")
    val dup = names.groupBy(identity).collect { case (n, v) if v.size > 1 => n }
    require(dup.isEmpty, s"duplicate metric names: ${dup.mkString(", ")}")
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number $d")
      if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${apply(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"cannot render ${other.getClass}")
  }
}
