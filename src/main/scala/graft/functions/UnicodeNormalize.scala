package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization as a codegen'd Catalyst expression — the
  * canonicalization step every multilingual training-data pipeline
  * runs before fingerprinting/dedup: visually-identical strings with
  * different codepoint sequences (precomposed é vs e +  ́, full-width
  * compatibility forms under NFKC) must hash identically or every
  * downstream dedup/fingerprint operator silently under-merges.
  *
  * Spark has no built-in for this (regexp can't express it); a Scala
  * UDF would break codegen and add encoder overhead per row — this is
  * the custom-Expression tier of the operator preference order.
  * Forms: NFC (canonical compose — DuckDB's `nfc_normalize` evaluates
  * the identical function, giving q18 a bit-exact cross-engine
  * oracle), NFD, NFKC, NFKD (compatibility forms; engine-local, spec
  * tested). The common already-normalized case is a single
  * `Normalizer.isNormalized` scan with NO allocation — at 100 TB
  * virtually all text is already NFC and the expression is then a
  * passthrough.
  */
case class UnicodeNormalize(child: Expression, form: String)
  extends UnaryExpression {

  private val javaForm = java.text.Normalizer.Form.valueOf(form)

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    UnicodeNormalize.compute(input.asInstanceOf[UTF8String], form)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val formRef = ctx.addReferenceObj("form", form, "java.lang.String")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.UnicodeNormalize.compute($c, $formRef)")
  }

  override protected def withNewChildInternal(
      newChild: Expression): UnicodeNormalize = copy(child = newChild)

  override def prettyName: String = s"unicode_normalize_$javaForm"
}

object UnicodeNormalize {

  /** Java-callable entry for generated code. */
  def compute(s: UTF8String, form: String): UTF8String = {
    val f = java.text.Normalizer.Form.valueOf(form)
    val str = s.toString
    // fast path: already normalized (the overwhelmingly common case)
    // — no new string, no re-encode
    if (java.text.Normalizer.isNormalized(str, f)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, f))
  }
}
