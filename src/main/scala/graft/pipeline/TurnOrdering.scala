package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stable per-conversation turn ordering.
  *
  * The reference sorts every thread by `(ts is None, ts, message_id or "")`
  * (reference: adapter.py:239, parser.py:269, exporter.py:175). Here that
  * becomes a window `partitionBy(conv) orderBy(ts asc_nulls_last,
  * message_id)` with `row_number()-1` as the 0-based `turn_idx` — the
  * north-rule stable-ordering invariant.
  *
  * Scale notes (100 TB / 10^12 turns):
  *  - The window shuffles once on conv_id (hash exchange) and sorts within
  *    partitions; AQE coalesces small post-shuffle partitions.
  *  - row_number over a mega-conversation cannot be salted (it needs the
  *    whole partition); skew is bounded by thread size (~10^4 turns per
  *    the reference's own model), not by data volume. Genuine hot convs
  *    are handled downstream: the routed WRITE salts on message_id so one
  *    conversation never serializes into a single output task (see
  *    Router.scala).
  */
object TurnOrdering {

  def withTurnIdx(
      df: DataFrame,
      conv: String = "conversation_id",
      ts: String = "ts",
      tie: String = "message_id"): DataFrame = {
    val w = Window.partitionBy(col(conv))
      .orderBy(col(ts).asc_nulls_last, col(tie).asc)
    df.withColumn("turn_idx", row_number().over(w) - 1)
  }
}
