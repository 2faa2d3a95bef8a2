package perfbench

/** JSON rendering for the result file (maps, sequences and scalars). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '\\'         => "\\\\"
    case '"'          => "\\\""
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None                   => "null"
    case Some(x)                       => apply(x)
    case s: String                     => str(s)
    case b: Boolean                    => b.toString
    case d: Double                     => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int                        => n.toString
    case n: Long                       => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]               => xs.map(apply).mkString("[", ",", "]")
    case other                         => str(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) Double.NaN
    else if (n % 2 == 1) s(n / 2)
    else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Geometric mean: every operation weighs the same, whatever its size. */
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
