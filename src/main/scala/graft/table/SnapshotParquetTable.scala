package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.util.PyJson

/** One committed snapshot: its id and its data directory. */
final case class Snapshot(id: Long, dataPath: String)

/** Minimal Iceberg-shaped table (SURVEY.md §7.1): immutable
  * snapshot data directories + an atomically swapped JSON pointer file.
  *
  * Why not plain `SaveMode.Overwrite`: overwrite DELETES the existing
  * tree before the new write starts, so a crashed job leaves the table
  * empty and a resumed run has nothing to read (this bit the round-1
  * resume path — routed sinks were truncated whenever a subset was
  * rewritten). Here every commit writes a fresh `snap-<id>` directory
  * and only then swaps `_current.json`; readers always see the last
  * complete snapshot, a crash leaves at worst an orphaned (ignored)
  * data dir, and expiry garbage-collects old data dirs exactly like
  * an Iceberg metadata pointer.
  *
  * All IO goes through the Hadoop FileSystem of the root's scheme, so
  * `file:`, `hdfs:` and `s3a:` roots behave identically (rename
  * atomicity is per-FS: posix/HDFS atomic; object stores get
  * read-committed via the tiny pointer object).
  *
  * Each publish keeps the newest `retainSnapshots` (2) snapshot data
  * dirs (Iceberg's expire-snapshots contract: without expiry every
  * commit grows the table by a full data copy — on the bench's tmpfs
  * work dirs that is RAM). The pointer's current snapshot is never
  * deleted; readers holding an already-expired path break, exactly as
  * with Iceberg.
  */
class SnapshotParquetTable(val root: String) {

  private val retainSnapshots = 2

  private def fs(spark: SparkSession): FileSystem =
    new Path(root).getFileSystem(
      spark.sessionState.newHadoopConf(): Configuration)

  // strict numeric match: a stray non-numeric snap-* entry (e.g. a
  // leftover snap-tmp from manual debugging) must be IGNORED, not throw
  // NumberFormatException and brick every subsequent commit
  private val snapRe = """snap-(\d+)""".r
  private def snapId(name: String): Option[Long] = name match {
    case snapRe(id) => Some(id.toLong)
    case _ => None
  }

  private def pointer = new Path(root, "_current.json")

  def currentSnapshot(spark: SparkSession): Option[Snapshot] = {
    val f = fs(spark)
    if (!f.exists(pointer)) None
    else {
      val in = f.open(pointer)
      val txt =
        try new String(
          org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      val id = """"snapshot_id": (\d+)""".r
        .findFirstMatchIn(txt).map(_.group(1).toLong)
      val path = """"data_path": "([^"]+)"""".r
        .findFirstMatchIn(txt).map(_.group(1))
      for (i <- id; p <- path) yield Snapshot(i, s"$root/$p")
    }
  }

  /** Next free snapshot id: max over existing snap dirs + 1, so an
    * orphaned data dir from a crashed commit is never reused. */
  private def nextId(f: FileSystem): Long = {
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) 0L
    else f.listStatus(rootPath).toSeq
      .flatMap(s => snapId(s.getPath.getName))
      .maxOption.map(_ + 1).getOrElse(0L)
  }

  /** Write df as the table's next snapshot; atomic pointer swap on
    * success. Returns the committed snapshot. */
  def commit(df: DataFrame,
      partitionBy: Seq[String] = Nil): Snapshot =
    publish(df.sparkSession, stage(df, partitionBy))

  /** Write df as the next snapshot's data dir WITHOUT swapping the
    * pointer: readers keep seeing the current snapshot until
    * [[publish]]. Unpublished, the dir is an orphan like a crashed
    * commit's (skipped by the next id, reaped by expiry). */
  def stage(df: DataFrame, partitionBy: Seq[String] = Nil): Snapshot = {
    val id = nextId(fs(df.sparkSession))
    val dataDir = s"$root/${snapDir(id)}"
    val w = df.write.mode(SaveMode.ErrorIfExists)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(dataDir)
    Snapshot(id, dataDir)
  }

  /** Make a staged snapshot current (atomic pointer swap), then expire
    * old snapshot dirs. Returns `s`. */
  def publish(spark: SparkSession, s: Snapshot): Snapshot = {
    graft.util.AtomicFiles.commit(pointer.toString, PyJson.obj(
      "snapshot_id" -> s.id.toString,
      "data_path" -> PyJson.str(snapDir(s.id))),
      spark.sessionState.newHadoopConf())
    expireSnapshots(spark)
    s
  }

  private def snapDir(id: Long): String = f"snap-$id%05d"

  /** Delete all but the newest `retainSnapshots` snapshot data dirs
    * (never the pointer's current one — it is always among the newest
    * since ids are monotone). Also reaps orphaned dirs from crashed
    * commits. */
  private def expireSnapshots(spark: SparkSession): Unit = {
    val f = fs(spark)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) return
    val snaps = f.listStatus(rootPath).toSeq
      .flatMap(s => snapId(s.getPath.getName).map(id => (id, s.getPath)))
      .sortBy(_._1)
    val current = currentSnapshot(spark).map(_.id)
    snaps.dropRight(retainSnapshots).filterNot(p =>
      current.contains(p._1)).foreach(p => f.delete(p._2, true))
  }

  /** Current snapshot's data as a DataFrame. A known `schema` skips
    * the footer-inference job a schemaless parquet read runs. */
  def read(spark: SparkSession,
      schema: Option[StructType] = None): DataFrame =
    currentSnapshot(spark) match {
      case Some(s) => schema.fold(spark.read)(spark.read.schema)
        .parquet(s.dataPath)
      case None => throw new java.util.NoSuchElementException(
        s"no committed snapshot under $root")
    }
}
