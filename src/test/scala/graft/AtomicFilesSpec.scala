package graft

import java.net.URI
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, RawLocalFileSystem}
import org.scalatest.funsuite.AnyFunSuite

import graft.export.Exporter
import graft.export.Exporter.MdPart
import graft.lineage.Lineage

/** The local disk under a `graftfs:` scheme: a path that is not
  * `file:`, so the atomic writers take their Hadoop-FS branch. */
class GraftTestFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}

/** The FileContext side of [[GraftTestFileSystem]] (rename OVERWRITE
  * goes through FileContext). */
class GraftTestFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftTestFileSystem, conf,
      "graftfs", false)

class AtomicFilesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("atomic writes on a non-file scheme: content arrives, overwrite, no tmp left") {
    import spark.implicits._
    // session-scoped registration: the writers see the scheme only if
    // the session's Hadoop conf reaches the executor-side writer
    val keys = Seq(
      "fs.graftfs.impl" -> classOf[GraftTestFileSystem].getName,
      "fs.AbstractFileSystem.graftfs.impl" -> classOf[GraftTestFs].getName)
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dir = Files.createTempDirectory("graft-atomic")
      val out = s"graftfs:$dir"
      def parts(tag: String) = Seq("a", "b", "c").map(cid =>
        MdPart(cid, 1, 1, s"thread-$cid.md", s"$tag $cid\n")).toDS()
        .repartition(2)

      assert(Exporter.writeParts(parts("v1"), s"$out/md") === 3L)
      assert(Files.readString(dir.resolve("md/thread-a.md")) === "v1 a\n")
      assert(Exporter.writeParts(parts("v2"), s"$out/md") === 3L)
      Seq("a", "b", "c").foreach { cid =>
        assert(Files.readString(dir.resolve(s"md/thread-$cid.md")) ===
          s"v2 $cid\n")
      }

      // the driver-side commit (manifests, table pointers)
      val conf = spark.sessionState.newHadoopConf()
      Lineage.writeManifest(s"$out/m/manifest.json", "openai", 1L, "idx",
        hadoopConf = conf)
      Lineage.writeManifest(s"$out/m/manifest.json", "openai", 2L, "idx",
        hadoopConf = conf)
      assert(Files.readString(dir.resolve("m/manifest.json"))
        .contains("\"threads\": 2"))

      val names = Files.walk(dir).iterator().asScala
        .filter(Files.isRegularFile(_)).map(_.getFileName.toString).toSeq
      assert(names.sorted === Seq("manifest.json", "thread-a.md",
        "thread-b.md", "thread-c.md"))
      assert(!names.exists(_.contains(".tmp")))
    } finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
