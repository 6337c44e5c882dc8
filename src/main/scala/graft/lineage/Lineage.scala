package graft.lineage

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.util.PyJson

/** Per-partition lineage manifests + checkpoint/resume.
  *
  * Re-realizes the reference's manifest (reference: parser.py:329-358 —
  * schema_version 1.3, per-thread {conversation_id, path, count, ts_min,
  * ts_max}) and its differential skip cache (parser.py:182-195
  * should_skip_thread), fixed: the reference forgets to re-index skipped
  * threads (parser.py:271-274), degrading the cache run-over-run; we
  * carry unchanged entries forward.
  *
  * Additionally records per-PARTITION stats (north rule: "per-partition
  * lineage manifests (partition id, row counts, parse-failure counters)
  * committed atomically") so a resumed job can verify which input splits
  * completed.
  */
object Lineage {

  final case class PartitionLineage(
      partition_id: Int,
      row_count: Long,
      ts_min: Option[Long],
      ts_max: Option[Long])

  final case class ThreadEntry(
      conversation_id: String,
      count: Long,
      ts_min: Long,
      ts_max: Long)

  /** Capture per-partition stats without an extra shuffle: one pass
    * mapPartitions piggybacked on the already-partitioned data. */
  def capturePartitions(
      msgs: DataFrame,
      tsCol: String = "ts"): Dataset[PartitionLineage] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    msgs.select(col(tsCol).cast("long")).as[Option[Long]].mapPartitions {
      it =>
        val pid = TaskContext.getPartitionId()
        var n = 0L
        var mn = Long.MaxValue
        var mx = Long.MinValue
        it.foreach { ts =>
          n += 1
          ts.foreach { t =>
            if (t < mn) mn = t
            if (t > mx) mx = t
          }
        }
        Iterator.single(PartitionLineage(
          pid, n,
          if (mn == Long.MaxValue) None else Some(mn),
          if (mx == Long.MinValue) None else Some(mx)))
    }
  }

  /** Write the thread index as a DISTRIBUTED snapshot table (one row
    * per conversation, parquet part files, atomic pointer commit).
    * The round-1 shape collected every ThreadEntry onto the driver to
    * inline them into manifest.json — a guaranteed driver OOM at the
    * 10^8-conversation target; the driver now touches only the
    * constant-size pointer. Returns the committed snapshot.
    * No product entry point calls this (`Main` stages and publishes the
    * index itself): perfbench's `TracedPipeline` compiles against it;
    * remove it in the benchmark PR that realigns `TracedPipeline`.
    * `threadStats` is Aggregates.threadStats output. */
  def writeThreadIndex(threadStats: DataFrame,
      tableRoot: String): graft.table.Snapshot =
    new graft.table.SnapshotParquetTable(tableRoot).commit(threadStats.select(
      col("conversation_id"),
      col("count").cast("long"),
      col("ts_min").cast("long"),
      col("ts_max").cast("long")))

  /** The thread index's row schema: reads that pass it run no
    * schema-inference job. */
  val threadEntrySchema: StructType = Encoders.product[ThreadEntry].schema

  /** Previous run's thread index (resume anti-join side). */
  def readThreadIndex(spark: SparkSession, tableRoot: String): DataFrame =
    new graft.table.SnapshotParquetTable(tableRoot)
      .read(spark, Some(threadEntrySchema))

  def threadIndexExists(spark: SparkSession, tableRoot: String): Boolean =
    new graft.table.SnapshotParquetTable(tableRoot)
      .currentSnapshot(spark).isDefined

  /** Atomic manifest commit (tmp → replace, [[graft.util.AtomicFiles]]).
    * The manifest is a bounded POINTER document: run-level stats,
    * per-partition lineage (one row per task) and the thread-index
    * table path — never the per-thread entries themselves. Hadoop FS IO
    * so hdfs:/s3a: manifests work. */
  def writeManifest(
      path: String,
      provider: String,
      threadCount: Long,
      indexPath: String,
      partitions: Seq[PartitionLineage] = Nil,
      schemaVersion: String = "1.3",
      corruptLines: Long = 0L,
      hadoopConf: org.apache.hadoop.conf.Configuration = null): Unit = {
    // json_safe + dumps in one step (Options unwrap, None → null) —
    // ListMap pins the reference's key order
    import scala.collection.immutable.ListMap
    val json = PyJson.safe(ListMap(
      "schema_version" -> schemaVersion,
      "provider" -> provider,
      "index" -> ListMap(
        "path" -> indexPath,
        "threads" -> threadCount),
      "corrupt_lines" -> corruptLines,
      "partitions" -> partitions.sortBy(_.partition_id).map(p => ListMap(
        "partition_id" -> p.partition_id,
        "row_count" -> p.row_count,
        "ts_min" -> p.ts_min,
        "ts_max" -> p.ts_max))))
    // pass the SESSION conf (spark.hadoop.* — S3 creds, defaultFS)
    // from callers with a session; bare defaults only as a fallback
    graft.util.AtomicFiles.commit(path, json, Option(hadoopConf)
      .getOrElse(new org.apache.hadoop.conf.Configuration()))
  }

  /** Resume filter: conversations whose (conversation_id, count) already
    * match the previous manifest are unchanged → skip re-processing
    * (reference semantics parser.py:182-195). Left-anti join with NO
    * broadcast hint: the previous index is one row per conversation —
    * 10^8 rows at the design target, far past broadcast limits — so the
    * join must be allowed to shuffle; AQE still broadcasts it when the
    * index is actually small.
    * No product entry point calls this (`Main`'s thread pass left-joins
    * the previous index onto its conversation rows and skips unchanged
    * threads per row): perfbench's `TracedPipeline` compiles against
    * it; remove it in the benchmark PR that realigns `TracedPipeline`.
    */
  def changedThreads(
      currentStats: DataFrame,
      previousManifest: DataFrame): DataFrame =
    currentStats.join(
      previousManifest.select(col("conversation_id"), col("count")),
      Seq("conversation_id", "count"), "left_anti")
}
