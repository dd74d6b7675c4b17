package perfbench

/** Minimal JSON writer for flat objects (the benchmark's result line,
  * run context and trace lines). Doubles keep all their digits.
  */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'          => sb ++= "\\\""
      case '\\'         => sb ++= "\\\\"
      case '\n'         => sb ++= "\\n"
      case '\r'         => sb ++= "\\r"
      case '\t'         => sb ++= "\\t"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c            => sb += c
    }
    (sb += '"').toString
  }

  def value(v: Any): String = v match {
    case null                     => "null"
    case s: String                => str(s)
    case b: Boolean               => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double                => java.lang.Double.toString(d)
    case n: Int                   => n.toString
    case n: Long                  => n.toString
    case Raw(s)                   => s
    case xs: Iterable[_]          => xs.map(value).mkString("[", ",", "]")
    case other                    => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Pre-rendered JSON spliced in verbatim. */
  final case class Raw(json: String)
}

object Stats {
  /** Median, with the mean of the two middle values for even sizes; NaN
    * when empty.
    */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}
