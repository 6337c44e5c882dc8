package graft.util

/** Minimal JSON encoder reproducing Python's
  * `json.dumps(obj, ensure_ascii=True)` byte format, which is the
  * reference's JSONL line format (reference: parser.py:294,316-321;
  * docs/output-contract.md:156-227 mandates ensure_ascii + LF endings).
  *
  * Rules matched:
  *  - separators `", "` and `": "` (Python defaults without indent)
  *  - `"` and `\` escaped; \b \t \n \f \r short escapes
  *  - every char outside 0x20..0x7E emitted as lowercase `\uXXXX`
  *    (UTF-16 code units, so astral chars become surrogate pairs —
  *    exactly like CPython's C encoder)
  *
  * Used by the per-thread JSONL sink so routed files are byte-equal to
  * the reference, and by tests that diff golden parsed.jsonl files.
  */
object PyJson {

  def str(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 16)
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      (c: @annotation.switch) match {
        case '"'  => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\t' => sb.append("\\t")
        case '\n' => sb.append("\\n")
        case '\f' => sb.append("\\f")
        case '\r' => sb.append("\\r")
        case _ =>
          if (c < 0x20 || c > 0x7e) sb.append(f"\\u${c.toInt}%04x")
          else sb.append(c)
      }
      i += 1
    }
    sb.append('"')
    sb.toString
  }

  def arr(xs: Seq[String]): String =
    xs.map(str).mkString("[", ", ", "]")

  /** One already-encoded key/value object with Python separators. */
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  /** Python `repr(float)` formatting, which is what json.dumps emits
    * after json_safe turns Decimals into floats: shortest round-trip
    * digits, fixed notation with a mandatory ".0" for integral values,
    * scientific `de+EE`/`de-EE` (two-digit, signed exponent) once the
    * decimal exponent leaves [-4, 16). Byte-parity pinned in
    * PropertySpec against executed CPython outputs.
    */
  def pyFloatRepr(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d.isInfinite) return if (d > 0) "Infinity" else "-Infinity"
    if (d == 0.0d)
      return if (1 / d < 0) "-0.0" else "0.0"
    val neg = d < 0
    val abs = math.abs(d)
    // Python repr uses the SHORTEST digit string that round-trips;
    // Java 17's Double.toString does not (e.g. 1.25e22 →
    // "1.2499999999999999E22"), so search precisions 1..17 over the
    // exact binary value — half-even rounding picks the same candidate
    // CPython's shortest-repr algorithm does
    val exact = new java.math.BigDecimal(abs)
    val bd = (1 to 17).iterator
      .map(p => exact.round(new java.math.MathContext(
        p, java.math.RoundingMode.HALF_EVEN)))
      .find(_.doubleValue() == abs)
      .getOrElse(exact)
      .stripTrailingZeros()
    val digits = bd.unscaledValue().toString
    val e10 = digits.length - bd.scale() - 1
    val sign = if (neg) "-" else ""
    if (e10 >= 16 || e10 < -4) {
      val mant =
        if (digits.length == 1) digits
        else s"${digits.head}.${digits.tail}"
      f"$sign$mant%se${if (e10 < 0) "-" else "+"}${math.abs(e10)}%02d"
    } else if (e10 >= 0) {
      val intPart =
        if (digits.length > e10 + 1) digits.substring(0, e10 + 1)
        else digits + "0" * (e10 + 1 - digits.length)
      val frac =
        if (digits.length > e10 + 1) digits.substring(e10 + 1) else "0"
      s"$sign$intPart.$frac"
    } else {
      s"${sign}0.${"0" * (-e10 - 1)}$digits"
    }
  }

  /** `json_safe` + `json.dumps(..., ensure_ascii=True)` in one step
    * (reference: providers/openai/utils.py:14-26 json_safe): Decimals
    * become floats, JSON-native types pass through, maps/sequences
    * recurse, and anything else is stringified rather than failing the
    * export. Scala mapping of the Python rules:
    *  - null / None → null; Some unwraps
    *  - String → PyJson string (ensure_ascii)
    *  - Boolean / integral (incl. BigInt — Python ints are unbounded)
    *    emitted verbatim
    *  - Double/Float → Python repr formatting; BigDecimal → float
    *    first, exactly like `Decimal` in the reference
    *  - scala Map → object in iteration order (pass a ListMap for
    *    stable key order); non-string keys stringified like json.dumps
    *  - Seq/Iterable (non-Map) → array
    *  - Spark Row → object over its schema field names
    *  - anything else → str(obj) — e.g. a tuple stringifies, the exact
    *    analog of the reference stringifying Python tuples/sets/bytes
    */
  def safe(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => safe(x)
    case s: String => str(s)
    case b: Boolean => if (b) "true" else "false"
    case n @ (_: Byte | _: Short | _: Int | _: Long) => n.toString
    case bi: BigInt => bi.toString
    case bi: java.math.BigInteger => bi.toString
    case d: Double => pyFloatRepr(d)
    case f: Float => pyFloatRepr(f.toDouble)
    case dec: java.math.BigDecimal => pyFloatRepr(dec.doubleValue())
    case dec: scala.math.BigDecimal => pyFloatRepr(dec.toDouble)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(String.valueOf(k))}: ${safe(x)}" }
        .mkString("{", ", ", "}")
    case r: org.apache.spark.sql.Row if r.schema != null =>
      r.schema.fieldNames.zipWithIndex
        .map { case (n, i) => s"${str(n)}: ${safe(r.get(i))}" }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(safe).mkString("[", ", ", "]")
    case xs: Array[_] => xs.map(safe).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
