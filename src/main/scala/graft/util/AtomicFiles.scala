package graft.util

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}

/** The one owner of the atomic file commit: write `<target>.tmp` next
  * to the target, then rename it over the target — the reference's
  * tmp → replace (parser.py:286,324) and the shape of an Iceberg
  * metadata pointer swap. A reader sees the previous file or the new
  * one, never a partial one. On Hadoop filesystems the replace is
  * `FileContext.rename(OVERWRITE)`: `FileSystem.rename` refuses an
  * existing target, and delete-then-rename would open a window with no
  * file at all.
  */
object AtomicFiles {

  /** Commit one driver-side file (a table pointer, a manifest) through
    * the Hadoop FS of its scheme. These stay on Hadoop IO even for
    * `file:` paths: Hadoop's LocalFileSystem keeps a `.crc` sidecar
    * beside what it writes and verifies it on read, so a java.nio
    * replace of a file it wrote would fail that file's next read. */
  def commit(path: String, content: String, conf: Configuration): Unit = {
    val target = new Path(path)
    val fs = target.getFileSystem(conf)
    Option(target.getParent).foreach(fs.mkdirs(_))
    replace(fs, FileContext.getFileContext(target.toUri, conf), target,
      content)
  }

  private def replace(fs: FileSystem, fc: FileContext, target: Path,
      content: String): Unit = {
    val tmp = new Path(target.getParent, target.getName + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(UTF_8)) finally out.close()
    fc.rename(tmp, target, Options.Rename.OVERWRITE)
  }

  /** A writer of many files under `root` from executor tasks (one file
    * per thread or per Markdown part). Build it on the driver with the
    * session's Hadoop conf (`sessionState.newHadoopConf()`): a bare
    * `new Configuration()` on an executor loads only the XML defaults
    * and silently drops every `spark.hadoop.*` setting (S3 credentials,
    * defaultFS, filesystem impls), so for a non-local root the conf is
    * captured here as a plain map — Spark's SerializableConfiguration
    * is private[spark] — and replayed where the writer runs. */
  def writer(root: String, conf: => Configuration): Writer = {
    val scheme = Option(new Path(root).toUri.getScheme)
    val local = scheme.isEmpty || scheme.contains("file")
    new Writer(root, if (local) None else {
      import scala.jdk.CollectionConverters._
      Some(conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap)
    })
  }

  /** @param hadoopConf None for a local root, which takes the java.nio
    *   path: Hadoop's LocalFileSystem measured ~45 ms per small file
    *   (checksum wrapper + permission plumbing) against <1 ms here, and
    *   at one file per conversation that difference is the whole write
    *   stage. These files are never written through Hadoop, so there
    *   is no `.crc` sidecar to keep in step.
    */
  final class Writer private[AtomicFiles] (root: String,
      hadoopConf: Option[Map[String, String]]) extends Serializable {

    @transient private lazy val hadoop = hadoopConf.map { entries =>
      val conf = new Configuration()
      entries.foreach { case (k, v) => conf.set(k, v) }
      val p = new Path(root)
      (p.getFileSystem(conf), FileContext.getFileContext(p.toUri, conf))
    }

    // the last directory this task created: consecutive files mostly
    // share one (a partition's Markdown parts)
    @transient private var madeDir: String = _

    private def ensureDir(dir: String)(mkdirs: => Unit): Unit =
      if (dir != madeDir) { mkdirs; madeDir = dir }

    /** Atomically write `content` (UTF-8) to `root/rel`, creating its
      * parent directories. */
    def write(rel: String, content: String): Unit = hadoop match {
      case None =>
        val target = Paths.get(root.stripPrefix("file:"), rel)
        val dir = target.getParent
        ensureDir(dir.toString)(Files.createDirectories(dir))
        val tmp = dir.resolve(s"${target.getFileName}.tmp")
        Files.write(tmp, content.getBytes(UTF_8))
        Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE)
      case Some((fs, fc)) =>
        val target = new Path(root, rel)
        ensureDir(target.getParent.toString)(fs.mkdirs(target.getParent))
        replace(fs, fc, target, content)
    }
  }
}
