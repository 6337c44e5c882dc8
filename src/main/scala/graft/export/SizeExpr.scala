package graft.export

/** Size-expression parsing (reference: utils.py:9-32): bare/IEC
  * suffixes ("4M", "512K", "1G", "4096") are powers of 1024; "xB" SI
  * suffixes ("4MB") are powers of 1000; "xiB" IEC words ("4MiB") are
  * powers of 1024. Case-insensitive.
  */
object SizeExpr {

  private val iec = Map("" -> 1L, "K" -> 1024L, "M" -> 1024L * 1024,
    "G" -> 1024L * 1024 * 1024)
  private val si = Map("KB" -> 1000L, "MB" -> 1000L * 1000,
    "GB" -> 1000L * 1000 * 1000)

  private val re = "^\\s*(\\d+)\\s*([KMG]?)(I?B)?\\s*$".r

  def parse(expr: String): Long = expr.trim.toUpperCase match {
    case re(n, u, ib) =>
      val v = n.toLong
      ib match {
        case null => v * iec(u)
        case "B" if si.contains(u + "B") => v * si(u + "B")
        case "B" => v // bare "B"
        case "IB" => v * iec(u)
        case _ => v
      }
    case other => throw new IllegalArgumentException(s"Invalid size: $other")
  }
}
