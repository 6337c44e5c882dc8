package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash over an array of string tokens, as a codegen'd
  * Catalyst expression. Classic Charikar construction: each token is
  * hashed to 64 bits; per bit position, +1 if set else -1; the sign of
  * each accumulated counter yields the signature bit. Near-duplicate
  * texts differ in few bits (small hamming distance).
  *
  * The token hash is the FIRST 8 BYTES OF md5(token), big-endian —
  * i.e. the first 16 hex chars as an unsigned 64-bit value. md5 (not
  * FNV/xxhash) is deliberate: DuckDB evaluates the identical value as
  * `CAST('0x' || substr(md5(tok), 1, 16) AS UBIGINT)`, which is what
  * makes the q33 cross-engine oracle possible (FNV would need a
  * per-byte SQL loop; Spark's xxhash64 seed/variant is engine-local).
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SimHash64.compute($c)")

  override protected def withNewChildInternal(
      newChild: Expression): SimHash64 = copy(child = newChild)

  override def prettyName: String = "simhash64"
}

object SimHash64 {

  private val md5 =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** First 8 bytes of md5(token), big-endian (== first 16 hex chars as
    * an unsigned 64-bit integer — the DuckDB-portable form). */
  def hash64(s: UTF8String): Long = {
    val md = md5.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var h = 0L
    var i = 0
    while (i < 8) {
      h = (h << 8) | (d(i) & 0xffL)
      i += 1
    }
    h
  }

  /** Java-callable entry for generated code. */
  def compute(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = hash64(tokens.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}
