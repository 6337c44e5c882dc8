package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}

/** Column-level entry points for the custom Catalyst expressions —
  * usable directly in DataFrame code (no registry indirection). None is
  * registered as a SQL function: no entry point runs SQL text over them.
  */
package object functions {

  private def e(c: Column): Expression = ExpressionUtils.expression(c)
  private def c(x: Expression): Column = ExpressionUtils.column(x)

  /** Distinct word k-shingles (codegen'd). */
  def word_shingles(col: Column, k: Int = 3): Column =
    c(WordShingles(e(col), k))

  /** Word k-grams with multiplicity (codegen'd). */
  def word_ngrams(col: Column, k: Int = 2): Column =
    c(WordNgrams(e(col), k))

  /** One-pass k-gram repetition stats struct (codegen'd). */
  def ngram_repetition(col: Column, k: Int = 2): Column =
    c(NgramRepetition(e(col), k))

  /** 64-bit SimHash over a token array (codegen'd). */
  def simhash64(tokens: Column): Column = c(SimHash64(e(tokens)))

  /** Double dot product of two array<float> columns (codegen'd). */
  def vec_dot(a: Column, b: Column): Column = c(VecDot(e(a), e(b)))

  /** Σ x² of an array<float> column (codegen'd). */
  def vec_norm2(a: Column): Column = c(VecNorm2(e(a)))

  /** Unicode normalization NFC/NFD/NFKC/NFKD (codegen'd; no-alloc
    * passthrough when the input is already normalized). */
  def unicode_normalize(col: Column, form: String = "NFC"): Column =
    c(UnicodeNormalize(e(col), form))

  /** Latest value at-or-before a timestamp from a sorted change
    * history (codegen'd binary search). */
  def asof_lookup(history: Column, ts: Column): Column =
    c(AsofLookup(e(history), e(ts)))

  /** Whole-conversation extraction from one raw export JSON line
    * (codegen'd single-pass scanner; null for corrupt lines). */
  def extract_conversation(line: Column): Column =
    c(ExtractConversation(e(line)))

  /** Bloom-filter membership probe of a driver-built serialized
    * digest (codegen'd; filter deserialized once per executor). */
  def bloom_might_contain(bloomBytes: Column, value: Column): Column =
    c(BloomMightContain(e(bloomBytes), e(value)))
}
