package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.table.SnapshotParquetTable

/** Self-tests of the generator and the output checker, on small corpora:
  * the generator is deterministic and renders the intended conversation
  * and turn counts; the checker passes real `Main` outputs and fails each
  * deliberate perturbation of them. */
object SelfTest {

  private val json = new ObjectMapper()

  def run(spark: SparkSession, work: Path): String = {
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Boolean]
    def test(name: String)(ok: => Boolean): Unit = {
      val r = try ok catch {
        case e: Exception => System.err.println(s"$name: $e"); false
      }
      System.err.println(s"[selftest] ${if (r) "ok  " else "FAIL"} $name")
      results(name) = r
    }
    val seed = 11L
    val dir = (s: String) => { val p = work.resolve(s); Io.delete(p); p }

    // generator
    val a = Corpus.threads(spark, dir("st-a"), 120, seed)
    val b = Corpus.threads(spark, dir("st-b"), 120, seed)
    val other = Corpus.threads(spark, dir("st-c"), 120, seed + 1)
    test("same seed gives a byte-identical JSONL corpus")(
      treeDigest(a.input) == treeDigest(b.input))
    test("another seed gives another corpus")(
      treeDigest(a.input) != treeDigest(other.input))
    val factor = 30
    val ma = Corpus.megaArray(spark, dir("st-ma"), 40, 3, seed, factor)
    val mb = Corpus.megaArray(spark, dir("st-mb"), 40, 3, seed, factor)
    test("same seed gives a byte-identical array corpus")(
      treeDigest(ma.input) == treeDigest(mb.input))
    test("array corpus has the intended conversations and turns") {
      val convs = rendered(Files.readAllBytes(Check.path(ma.input)), array = true)
      val ordTurns = Corpus.synth(spark, 40, seed).count()
      counts(convs, 43, ordTurns + 3L * 8 * factor) &&
        ma.megaIds.forall(m => convs.toMap.apply(m).size == 8 * factor) &&
        ma.turns.size == ordTurns + 3L * 8 * factor
    }
    test("JSONL corpus has the intended conversations and turns") {
      counts(renderedDir(a.input), 120, Corpus.synth(spark, 120, seed).count())
    }
    val edit = Corpus.resumeEdit(spark, dir("st-edit"), a, seed)
    test("resume corpus has the intended conversations and turns") {
      counts(renderedDir(edit.input), 120 + edit.added.size,
        a.turns.size + 3L * edit.edited.size + 10L * edit.added.size) &&
        edit.edited.size == 6 && edit.added.size == 1
    }

    // checker on a real chain run, then perturbed copies of its outputs
    val out = dir("st-out")
    val (rc, stdout) = Bench.runMain(Array("chain", "--input", ma.input,
      "--outdir", out.toString, "--split", "auto"))
    val sample = Check.sample(ma, seed)
    val report = Check.parseReport(stdout)
    def verdict(o: Path, r: Option[ParseReport] = report) =
      Check.run(spark, ma, o, sample, rc, r, markdown = true)
    test("checker passes Main chain outputs")(verdict(out).ok)

    def perturbed(name: String)(perturb: Path => Unit): Unit = {
      val copy = dir(s"st-perturbed")
      Io.copyTree(out, copy)
      perturb(copy)
      test(s"checker fails: $name")(!verdict(copy).ok)
    }
    perturbed("one routed row dropped")(dropRoutedRow(spark, _))
    val thread = sample.filterNot(ma.megaIds.contains).head
    perturbed("two turns swapped in parsed.jsonl") { o =>
      val f = o.resolve("openai").resolve(s"thread-$thread").resolve("parsed.jsonl")
      val ls = Files.readAllLines(f, UTF_8).asScala.toVector
      Files.write(f, ls.updated(1, ls(2)).updated(2, ls(1))
        .mkString("", "\n", "\n").getBytes(UTF_8))
    }
    perturbed("one message block dropped from a Markdown part") { o =>
      val f = Check.mdParts(Check.listFiles(o.resolve("md")), thread).head
      val ls = Files.readAllLines(f, UTF_8).asScala.toVector
      val blocks = ls.indices.filter(i => ls(i).startsWith("## ["))
      Files.write(f, (ls.take(blocks(0)) ++ ls.drop(blocks(1)))
        .mkString("", "\n", "\n").getBytes(UTF_8))
    }
    test("checker fails: parse report one message short")(
      !verdict(out, report.map(r => r.copy(messages = r.messages - 1))).ok)

    // resume: skipped_threads must equal the unchanged-thread count
    val baseOut = dir("st-base-out")
    Bench.runMain(Array("parse", "--input", a.input, "--outdir", baseOut.toString))
    val resOut = dir("st-res-out")
    Io.copyTree(baseOut, resOut)
    val (rrc, rstdout) = Bench.runMain(Array("parse", "--input", edit.input,
      "--outdir", resOut.toString, "--resume"))
    val rreport = Check.parseReport(rstdout)
    def rverdict(r: Option[ParseReport]) =
      Check.run(spark, edit, resOut, Check.sample(edit, seed), rrc, r,
        markdown = false)
    test("checker passes Main parse --resume outputs")(rverdict(rreport).ok)
    test("checker fails: skipped_threads off by one")(
      !rverdict(rreport.map(r => r.copy(skipped = r.skipped + 1))).ok)

    val body = results.map { case (k, v) => s""""$k": $v""" }.mkString(", ")
    s"""{"selftest": {$body}, "ok": ${results.values.forall(identity)}}"""
  }

  /** Rewrites one routed sink directory without one of its rows. */
  private def dropRoutedRow(spark: SparkSession, out: Path): Unit = {
    val table = new SnapshotParquetTable(out.resolve("openai/routed").toString)
    val data = Check.path(table.currentSnapshot(spark).get.dataPath
      .stripPrefix("file:"))
    val sink = data.resolve("role=user").resolve("tool_sink=none")
    val tmp = out.resolve("dropped-row-tmp")
    val df = spark.read.parquet(sink.toString)
    df.limit((df.count() - 1).toInt).write.parquet(tmp.toString)
    Io.delete(sink)
    Files.move(tmp, sink)
  }

  /** (conversation id, message ids) per conversation of a rendered raw
    * export, in file order. */
  private def rendered(bytes: Array[Byte],
      array: Boolean): Seq[(String, Seq[String])] = {
    val convs: Seq[JsonNode] =
      if (array) json.readTree(bytes).elements().asScala.toSeq
      else new String(bytes, UTF_8).linesIterator.filter(_.nonEmpty)
        .map(l => json.readTree(l)).toSeq
    convs.map { c =>
      val msgs = c.get("mapping").elements().asScala
        .filter(n => !n.get("message").isNull)
        .map(_.get("message").get("id").asText).toSeq
      c.get("conversation_id").asText -> msgs
    }
  }

  private def renderedDir(dir: String): Seq[(String, Seq[String])] =
    Check.listFiles(Check.path(dir)).sortBy(_.toString)
      .flatMap(f => rendered(Files.readAllBytes(f), array = false))

  /** Exact conversation and turn counts, and no conversation or message
    * id used twice. */
  private def counts(convs: Seq[(String, Seq[String])], nConvs: Int,
      nTurns: Long): Boolean = {
    val ids = convs.flatMap(_._2)
    convs.size == nConvs && convs.map(_._1).distinct.size == nConvs &&
      ids.size == nTurns && ids.distinct.size == ids.size
  }

  /** Digest of a corpus: one file, or every file of a directory. */
  private def treeDigest(input: String): String = {
    val p = Check.path(input)
    val files =
      if (Files.isDirectory(p)) Check.listFiles(p).sortBy(_.toString)
      else Seq(p)
    Check.sha256(files.flatMap(f =>
      f.getFileName.toString.getBytes(UTF_8) ++ Files.readAllBytes(f)).toArray)
  }
}
