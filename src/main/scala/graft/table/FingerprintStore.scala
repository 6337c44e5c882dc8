package graft.table

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.util.PyJson

/** Append-only fingerprint history for incremental cross-run dedup —
  * the persistent half of [[graft.ops.Dedup.incrementalIngest]].
  *
  * Why not [[SnapshotParquetTable]]: its commit() is copy-on-write —
  * every snapshot rewrites the FULL table. The fingerprint history of
  * a 100-TB corpus is itself a very large table, and the whole point
  * of incremental dedup is that each arriving batch costs O(batch),
  * not O(corpus). This store keeps ONE immutable parquet directory per
  * accepted batch plus an atomically swapped pointer recording how
  * many batches are committed, so:
  *
  *  - append cost is exactly the new fingerprints' write (the
  *    "one bounded write per batch" the dedup scaladoc promises);
  *  - a crash leaves at worst an orphaned un-pointed directory
  *    (ignored by readers, reaped on the next append to that slot id);
  *  - readers always see a consistent committed prefix of batches
  *    (same tmp-write + atomic-rename pointer protocol as
  *    [[SnapshotParquetTable]] / the reference's parsed.jsonl swap).
  *
  * read() unions the committed batch directories in one multi-path
  * parquet scan; at very long horizons [[compact]] merges them into
  * one deduplicated dir and commits a pointer starting above the old
  * ids (the pointer's first/count form exists for exactly this).
  */
class FingerprintStore(val root: String) {

  private def fs(spark: SparkSession): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  private def pointer = new Path(root, "_current.json")

  private def batchDir(id: Long) = f"batch-$id%05d"

  private def commitPointer(spark: SparkSession, json: String): Unit =
    graft.util.AtomicFiles.commit(pointer.toString, json,
      spark.sessionState.newHadoopConf())

  /** (first committed batch id, committed batch count). */
  def committed(spark: SparkSession): (Long, Long) = {
    val f = fs(spark)
    if (!f.exists(pointer)) (0L, 0L)
    else {
      val in = f.open(pointer)
      val txt =
        try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      def field(name: String): Option[Long] =
        ("\"" + name + "\": (\\d+)").r
          .findFirstMatchIn(txt).map(_.group(1).toLong)
      (field("first").getOrElse(0L), field("count").getOrElse(0L))
    }
  }

  /** All committed fingerprints as one multi-directory parquet scan;
    * an empty store reads as an empty (fp: string) frame so first-run
    * callers need no special case. */
  def read(spark: SparkSession): DataFrame = {
    val (first, n) = committed(spark)
    if (n == 0L)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("fp", StringType))))
    else
      spark.read.parquet(
        (first until first + n).map(i => s"$root/${batchDir(i)}"): _*)
  }

  /** Maintenance: rewrite all committed batches as ONE deduplicated
    * directory and commit a pointer that starts at a fresh slot above
    * every old id — bounding read() fan-in (and dropping duplicate
    * fps across batches) after long append horizons. This is the one
    * O(corpus) operation in the store, run on an operator's schedule,
    * never per batch. Crash-safe like append: the compacted dir is
    * written first, the pointer swap is atomic, and old batch dirs
    * are deleted only after the swap (a reader holding the old
    * pointer mid-compaction should re-read, same contract as
    * SnapshotParquetTable expiry). Returns the new sole batch id. */
  def compact(spark: SparkSession): Long = {
    val f = fs(spark)
    val (first, n) = committed(spark)
    if (n <= 1L) return first // nothing to merge
    val id = first + n
    val dir = new Path(root, batchDir(id))
    if (f.exists(dir)) f.delete(dir, true)
    read(spark).distinct()
      .write.mode(SaveMode.ErrorIfExists).parquet(dir.toString)
    commitPointer(spark, PyJson.obj("first" -> id.toString, "count" -> "1"))
    (first until first + n).foreach(i =>
      f.delete(new Path(root, batchDir(i)), true))
    id
  }

  /** Commit one batch of fingerprints: write the new directory, then
    * atomically advance the pointer. The caller must pass an already
    * MATERIALIZED frame if it was derived from read() of this same
    * store (see incrementalIngest — otherwise the lazy anti-join would
    * observe its own append). Returns the committed batch id. */
  def append(fps: DataFrame): Long = {
    val spark = fps.sparkSession
    val f = fs(spark)
    val (first, n) = committed(spark)
    val id = first + n
    val dir = new Path(root, batchDir(id))
    // reap an orphan from a crashed earlier append to this slot: it
    // was never committed (pointer still excludes it), so it is dead
    if (f.exists(dir)) f.delete(dir, true)
    fps.select("fp").write.mode(SaveMode.ErrorIfExists)
      .parquet(dir.toString)
    commitPointer(spark, PyJson.obj(
      "first" -> first.toString, "count" -> (n + 1).toString))
    id
  }
}
