package graft.enrich

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Enrich stage (north-rule addition; the reference has no joins —
  * SURVEY.md §2.6): attach tool metadata from a small dimension table
  * with an explicit broadcast-hash join. At 100 TB the fact side never
  * shuffles for it: the dim is a few KB, so the join is a
  * map-side BroadcastHashJoin inside the same whole-stage-codegen span
  * as the parse projections.
  */
object Enrich {

  /** tool → category dimension (tool vocabulary of the synthesizer plus
    * one unmatched tool to keep the left-join null path honest). */
  def dimTool(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("file_search", "retrieval", true),
      ("browser", "web", true),
      ("python", "code", true),
      ("dalle", "image", true),
      ("zapier", "plugin", false))
      .toDF("tool", "category", "is_builtin")
  }

  /** Left-join tool metadata onto turns. Broadcast is explicit so the
    * plan is a BroadcastHashJoin regardless of autoBroadcast thresholds.
    */
  def attachToolMeta(turns: DataFrame): DataFrame =
    turns.join(broadcast(dimTool(turns.sparkSession)), Seq("tool"), "left")
}
