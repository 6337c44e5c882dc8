package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word k-shingles of a text column as a codegen'd expression.
  *
  * Replaces the equivalent split + transform(sequence…) + array_distinct
  * HOF chain, whose interpreted lambdas measured ~8 s per pass over a
  * 5000-doc corpus (and dedup plans evaluate shingles on several join
  * branches). One compiled pass: split on \s+ (same Java regex class
  * as Spark's split(), mirrored by \s+ in the DuckDB oracle), join k
  * consecutive words with single spaces, de-dup preserving first
  * occurrence.
  */
case class WordShingles(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    WordShingles.compute(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordShingles.compute($c, $k)")

  override protected def withNewChildInternal(
      newChild: Expression): WordShingles = copy(child = newChild)

  override def prettyName: String = "word_shingles"
}

object WordShingles {

  private val ws = Pattern.compile("\\s+")

  /** SQL trim() semantics: spaces only (Java String.trim would also
    * strip tabs/newlines and diverge from the DuckDB oracle). */
  private def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  /** THE oracle-contract tokenization, shared by every word-gram
    * expression (WordShingles, WordNgrams, NgramRepetition) so the
    * trim/split semantics live in exactly one place.
    *
    * split limit is -1: trailing empty tokens are KEPT, matching both
    * Spark's built-in split() and DuckDB's string_split_regex (the
    * oracle). Pattern.split's default limit 0 silently drops them, so
    * any doc ending in non-space whitespace (trimSpaces only strips
    * spaces) would otherwise produce a different shingle set here than
    * in the oracle.
    */
  private[functions] def tokenize(text: UTF8String): Array[String] =
    ws.split(trimSpaces(text.toString), -1)

  /** k consecutive words joined with single spaces, reusing sb. */
  private[functions] def joinGram(words: Array[String], i: Int, k: Int,
      sb: java.lang.StringBuilder): String = {
    sb.setLength(0)
    var j = 0
    while (j < k) {
      if (j > 0) sb.append(' ')
      sb.append(words(i + j))
      j += 1
    }
    sb.toString
  }

  /** Java-callable entry for generated code. */
  def compute(text: UTF8String, k: Int): ArrayData = {
    val words = tokenize(text)
    if (words.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](words.length * 2)
    var i = 0
    val last = words.length - k
    val sb = new java.lang.StringBuilder
    while (i <= last) {
      seen.add(joinGram(words, i, k, sb))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var n = 0
    while (it.hasNext) { out(n) = UTF8String.fromString(it.next()); n += 1 }
    new GenericArrayData(out)
  }
}
