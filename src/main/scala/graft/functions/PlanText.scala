package graft.functions

/** How Explain prints an array that rides an expression as a literal
  * argument: element type, shape and a content hash
  * (`double[4][8]:1a2b3c4d`) in place of the JVM identity (`[[D@…`),
  * so two plans over the same data print alike. Only the printed
  * arguments use it; equality and hashing stay the expression's own. */
private[functions] object PlanText {
  def array(a: AnyRef): String = {
    val shape = a match {
      case m: Array[Array[Double]] => s"double[${m.length}]${widths(m.map(_.length))}"
      case m: Array[Array[Long]] => s"long[${m.length}]${widths(m.map(_.length))}"
      case v: Array[Double] => s"double[${v.length}]"
      case v: Array[Long] => s"long[${v.length}]"
      case v: Array[Byte] => s"byte[${v.length}]"
    }
    f"$shape:${java.util.Arrays.deepHashCode(Array[AnyRef](a))}%08x"
  }

  private def widths(ws: Array[Int]): String = ws.distinct.mkString("[", "|", "]")
}
