package perfbench

/** The few JSON shapes the benchmark prints. A `Seq` of `(String, _)`
  * pairs is an object, any other `Seq` an array. */
object Json {
  final case class Raw(json: String)

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case Raw(s) => s
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "a metric is not a number")
      d.toString
    case s: String => str(s)
    case fs: Seq[_] if fs.nonEmpty && fs.forall {
        case (_: String, _) => true
        case _ => false
      } => obj(fs.asInstanceOf[Seq[(String, Any)]])
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
  }

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
