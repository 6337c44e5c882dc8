package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.table.SnapshotParquetTable

/** What a parse reported: Main's stdout JSON, or the traced run's own
  * values. */
final case class ParseReport(threads: Long, messages: Long, skipped: Long)

/** Result of checking one operation's outputs. `digest` covers every
  * output the check read, so two runs' checked outputs can be compared. */
final case class Verdict(failures: Seq[String], digest: String) {
  def ok: Boolean = failures.isEmpty
}

/** Output checker: compares the program's outputs with ground truth the
  * benchmark derives from its own generator.
  *
  *  - per-sink (role, tool_sink) counts of the routed snapshot equal the
  *    generator's turn table after the null-ts drop;
  *  - each checked thread's parsed.jsonl holds every kept turn, text
  *    byte-equal, in (ts, message_id) order;
  *  - the Markdown parts of each checked thread carry each of its
  *    messages once, in the same order (chain only);
  *  - the parse report's thread, message and skipped-thread counts match.
  */
object Check {

  private val json = new ObjectMapper()

  /** Parse report from Main's stdout (its `{"mode":"parse",...}` line). */
  def parseReport(stdout: String): Option[ParseReport] =
    stdout.linesIterator.map(_.trim)
      .filter(_.startsWith("{\"mode\":\"parse\""))
      .toSeq.lastOption.map { l =>
        val n = json.readTree(l)
        ParseReport(n.get("threads").asLong, n.get("messages").asLong,
          n.get("skipped_threads").asLong)
      }

  /** Threads to check: every mega thread, every new and a sample of the
    * edited threads on resume, and a seeded sample of the others. */
  def sample(c: Corpus, seed: Long, n: Int = 16): Seq[String] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    val special = c.megaIds ++ c.added.toSeq.sorted ++
      rnd.shuffle(c.edited.toSeq.sorted).take(n / 2)
    val rest = c.byConv.keys.toSeq.sorted.filterNot(special.toSet)
    special ++ rnd.shuffle(rest).take(n)
  }

  def run(spark: SparkSession, c: Corpus, out: Path, checked: Seq[String],
      rc: Int, report: Option[ParseReport], markdown: Boolean): Verdict = {
    val fails = Seq.newBuilder[String]
    val md = MessageDigest.getInstance("SHA-256")
    if (rc != 0) fails += s"exit code $rc"

    val expectedSkipped = c.byConv.size - c.edited.size - c.added.size
    report match {
      case None => fails += "no parse report"
      case Some(r) =>
        if (r.threads != c.byConv.size)
          fails += s"threads ${r.threads} != ${c.byConv.size}"
        if (r.messages != c.kept.size)
          fails += s"messages ${r.messages} != ${c.kept.size}"
        val wantSkipped = if (c.edited.isEmpty && c.added.isEmpty) 0L
          else expectedSkipped.toLong
        if (r.skipped != wantSkipped)
          fails += s"skipped_threads ${r.skipped} != $wantSkipped"
    }

    val provider = out.resolve("openai")
    val sinks = routedCounts(spark, provider.resolve("routed").toString)
    if (sinks != c.expectedSinks)
      fails += s"routed sinks ${sinks.toSeq.sorted} != " +
        s"${c.expectedSinks.toSeq.sorted}"
    md.update(sinks.toSeq.sorted.mkString(",").getBytes(UTF_8))

    val mdFiles =
      if (markdown) listFiles(out.resolve("md")) else Seq.empty[Path]
    checked.foreach { cid =>
      val want = c.expectedThread(cid)
      val f = provider.resolve(s"thread-$cid").resolve("parsed.jsonl")
      if (!Files.isRegularFile(f)) fails += s"$cid: no parsed.jsonl"
      else {
        val bytes = Files.readAllBytes(f)
        md.update(bytes)
        fails ++= threadJsonl(cid, new String(bytes, UTF_8), want)
      }
      if (markdown) {
        val parts = mdParts(mdFiles, cid)
        parts.foreach(p => md.update(Files.readAllBytes(p)))
        fails ++= markdownParts(cid, parts, want)
      }
    }
    Verdict(fails.result(), md.digest().map("%02x".format(_)).mkString)
  }

  def routedCounts(spark: SparkSession,
      root: String): Map[(String, String), Long] =
    new SnapshotParquetTable(root).read(spark)
      .groupBy("role", "tool_sink").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  /** Header line plus one line per kept turn, (ts, message_id) order,
    * text byte-equal. */
  def threadJsonl(cid: String, content: String,
      want: Vector[Turn]): Seq[String] = {
    val lines = content.split("\n", -1).toVector.filter(_.nonEmpty)
    if (lines.isEmpty) return Seq(s"$cid: empty parsed.jsonl")
    val head = json.readTree(lines.head)
    val msgs = lines.tail.map(json.readTree)
    val fails = Seq.newBuilder[String]
    if (head.get("message_count").asLong != want.size)
      fails += s"$cid: header message_count ${head.get("message_count")}" +
        s" != ${want.size}"
    val ids = msgs.map(_.get("message_id").asText)
    if (ids != want.map(_.message_id))
      fails += s"$cid: message order/ids differ from (ts, message_id) order"
    else msgs.zip(want).foreach { case (m, t) =>
      if (m.get("text").asText != t.text)
        fails += s"$cid/${t.message_id}: text differs"
    }
    fails.result()
  }

  /** A thread's Markdown files: `thread-<cid>.md`, or
    * `thread-<cid>__partNN.md` in part order. */
  def mdParts(files: Seq[Path], cid: String): Seq[Path] = {
    val whole = s"thread-$cid.md"
    val part = ("\\Q" + s"thread-$cid" + "\\E__part(\\d+)\\.md").r
    files.flatMap { p =>
      p.getFileName.toString match {
        case `whole` => Some(0 -> p)
        case part(i) => Some(i.toInt -> p)
        case _ => None
      }
    }.sortBy(_._1).map(_._2)
  }

  def markdownParts(cid: String, parts: Seq[Path],
      want: Vector[Turn]): Seq[String] = {
    if (parts.isEmpty) return Seq(s"$cid: no Markdown part")
    val ids = parts.flatMap { p =>
      new String(Files.readAllBytes(p), UTF_8).linesIterator
        .filter(_.startsWith("- message_id: "))
        .map(_.stripPrefix("- message_id: ")).toSeq
    }
    if (ids != want.map(_.message_id))
      Seq(s"$cid: Markdown parts hold ${ids.size} messages, not the " +
        s"${want.size} expected in (ts, message_id) order")
    else Nil
  }

  def listFiles(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.toVector finally s.close()
    }

  def sha256(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString

  def path(s: String): Path = Paths.get(s)
}
