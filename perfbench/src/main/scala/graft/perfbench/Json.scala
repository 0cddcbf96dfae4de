package graft.perfbench

/** The little JSON and statistics the benchmark needs, without a
  * library. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** A flat JSON object; values are Doubles, Strings or nested maps. */
  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    str(k) + ":" + (v match {
      case d: Double => num(d)
      case n: Int => n.toString
      case n: Long => n.toString
      case b: Boolean => b.toString
      case s: String => str(s)
      case m: Seq[_] => obj(m.asInstanceOf[Seq[(String, Any)]])
      case other => str(other.toString)
    })
  }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of nothing")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def geomean(xs: Seq[Double]): Double =
    math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
