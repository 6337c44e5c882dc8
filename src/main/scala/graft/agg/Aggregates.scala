package graft.agg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Aggregate stage: per-sink routed-row counts, per-thread stats, run
  * summary. All built-in hash aggregates (map-side partial aggregation
  * makes these shuffle only the group keys + counters, never rows).
  */
object Aggregates {

  /** Per-sink routed-row counts — THE reference-parity metric
    * (reference golden: multi fixture → assistant 6, user 5, tool 3,
    * system 2; BASELINE.md). Keyed by (role, tool); tool null → "none"
    * so the sink key is total.
    */
  def routedCounts(
      msgs: DataFrame,
      roleCol: String = "role",
      toolCol: String = "tool"): DataFrame =
    msgs.groupBy(
      col(roleCol).as("role"),
      coalesce(col(toolCol), lit("none")).as("tool"))
      .agg(count(lit(1)).as("n_rows"))

  /** Per-conversation thread stats = manifest index entries
    * (reference: parser.py:276-278,329-337: count, ts_min, ts_max).
    * No product entry point calls this (`Main`'s thread pass takes each
    * entry from its conversation row, with no aggregation of message
    * rows): perfbench's `TracedPipeline` compiles against it; remove it
    * in the benchmark PR that realigns `TracedPipeline`. The registry's
    * `q03_thread_stats` is `Queries.threadStats`, not this. */
  def threadStats(
      msgs: DataFrame,
      conv: String = "conversation_id",
      ts: String = "ts"): DataFrame =
    msgs.groupBy(col(conv))
      .agg(
        count(lit(1)).as("count"),
        min(col(ts)).as("ts_min"),
        max(col(ts)).as("ts_max"))

  /** Run summary (reference: parser.py:360-363: threads, messages).
    * No product entry point calls this: perfbench's `TracedPipeline`
    * compiles against it; remove it in the benchmark PR that realigns
    * `TracedPipeline`. */
  def runSummary(msgs: DataFrame, conv: String = "conversation_id"): DataFrame =
    msgs.agg(
      countDistinct(col(conv)).as("threads"),
      count(lit(1)).as("messages"))
}
