package graft.export

import java.time.{Instant, ZoneId, ZonedDateTime}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Export stage: normalized messages → GFM Markdown with optional
  * splitting (reference: exporter.py:122-342).
  *
  * Distribution model: one conversation = one row; rendering and the
  * greedy split packer run per conversation row (the packer's decision
  * depends on the running *rendered-byte* sum, so it cannot be a SQL
  * window — SURVEY.md §2 E13). `Main chain` renders the conversation
  * rows its thread pass already holds ([[renderConversation]]);
  * `export` regroups the JSONL tree's message rows into one row per
  * conversation first ([[exportThreads]]). Threads are bounded (~10^4
  * turns by the reference's own model), so one thread per row is safe;
  * conversations themselves are unbounded in number and spread across
  * the cluster.
  *
  * Determinism: the reference stamps `generated_at_utc: now()` into
  * split front matter (exporter.py:320-333) making output
  * non-deterministic; here it is the pinned epoch stamp
  * `pinnedGeneratedAt`.
  * The reference also glues split front matter with "".join (a bug —
  * one long line, exporter.py:334); we reproduce the *no-split* format
  * and emit split front matter line-joined, documenting the divergence.
  */
object Exporter {

  final case class SplitConf(
      mode: Option[String], // size | count | auto
      sizeLimit: Option[Long],
      countLimit: Option[Int])

  object SplitConf {
    val none: SplitConf = SplitConf(None, None, None)

    /** Parse "size=4M" | "count=1500" | "auto" (reference:
      * exporter.py:93-120; auto = size 4M & count 1500). */
    def parse(spec: String): SplitConf = spec.trim.toLowerCase match {
      case "auto" => SplitConf(Some("auto"),
        Some(SizeExpr.parse("4M")), Some(1500))
      case s if s.startsWith("size=") => SplitConf(Some("size"),
        Some(SizeExpr.parse(s.stripPrefix("size="))), None)
      case s if s.startsWith("count=") => SplitConf(Some("count"),
        None, Some(s.stripPrefix("count=").toInt))
      case other => throw new IllegalArgumentException(
        s"invalid --split: $other")
    }
  }

  final case class MdPart(
      conversation_id: String,
      part_index: Int,
      part_total: Int,
      file_name: String,
      content: String)

  /** Row shape consumed by the exporter. */
  final case class ExportMsg(
      conversation_id: String,
      provider_id: String,
      message_id: String,
      parent_id: Option[String],
      role: String,
      ts: Option[Long],
      text: String,
      model: Option[String])

  // ---------------------------------------------------------------
  // Timestamp rendering (reference: exporter.py:13-34)
  // ---------------------------------------------------------------

  /** Heuristic: values ≥ 1e11 are epoch-ms → seconds (E5). */
  def tsToSeconds(ts: Double): Double = if (ts >= 1e11) ts / 1000.0 else ts

  /** Python datetime.fromtimestamp(sec, utc).isoformat(): microseconds
    * printed (6 digits) only when non-zero; offset "+00:00".
    * fromtimestamp rounds to microseconds half-even → math.rint. */
  def toIsoUtc(ts: Option[Double]): String = ts.map { t =>
    val sec = tsToSeconds(t)
    val micros = math.rint(sec * 1e6).toLong
    val epochSec = Math.floorDiv(micros, 1000000L)
    val micro = Math.floorMod(micros, 1000000L)
    val zdt = ZonedDateTime.ofInstant(
      Instant.ofEpochSecond(epochSec, micro * 1000L), ZoneId.of("UTC"))
    val base = zdt.format(DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss"))
    val frac = if (micro == 0) "" else f".$micro%06d"
    s"$base$frac+00:00"
  }.getOrElse("")

  /** Local "%Y-%m-%d %H:%M" (E7). */
  def toLocalHuman(ts: Option[Double], tz: ZoneId): String = ts.map { t =>
    val sec = tsToSeconds(t)
    val micros = math.rint(sec * 1e6).toLong
    val zdt = ZonedDateTime.ofInstant(
      Instant.ofEpochSecond(
        Math.floorDiv(micros, 1000000L),
        Math.floorMod(micros, 1000000L) * 1000L), tz)
    zdt.format(DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm"))
  }.getOrElse("")

  /** Quoted YAML array (E8). */
  def asYamlList(items: Seq[String]): String =
    items.map(s => "\"" + s + "\"").mkString("[", ", ", "]")

  /** One message block (reference: exporter.py:182-206). */
  def renderBlock(m: ExportMsg, tz: ZoneId, formatting: String): String = {
    val tsHuman = toLocalHuman(m.ts.map(_.toDouble), tz)
    val text =
      if (formatting == "none") m.text else LightFormatter.render(m.text)
    val metaLines = Seq(
      if (m.message_id.nonEmpty) Some(s"- message_id: ${m.message_id}")
      else None,
      m.parent_id.filter(_.nonEmpty).map(p => s"- parent_id: $p")).flatten
    val meta =
      if (metaLines.nonEmpty) metaLines.mkString("\n") + "\n\n" else ""
    s"## [${m.role}] $tsHuman\n$meta$text\n\n"
  }

  /** Windows-reserved chars + control chars → _, whitespace collapsed,
    * length-capped (reference: utils.py:41-51). The cap mirrors Python
    * slicing exactly: `root[:maxLen-len(ext)-3]` with a NEGATIVE bound
    * drops characters from the end (a naive substring threw
    * StringIndexOutOfBounds when the extension alone exceeded
    * maxLen-3, failing the whole export task). */
  def sanitizeFilename(name: String, maxLen: Int = 120): String = {
    var n = name.replaceAll("[<>:\"/\\\\|?*\\x00-\\x1F]", "_")
    n = n.replaceAll("\\s+", " ").trim
    if (n.length > maxLen) {
      val (root, ext) =
        if (n.contains(".")) {
          val i = n.lastIndexOf('.')
          (n.substring(0, i), n.substring(i))
        } else (n, "")
      val bound = maxLen - ext.length - 3
      val cut =
        if (bound >= 0) math.min(bound, root.length)
        else math.max(0, root.length + bound)
      n = root.substring(0, cut) + "..." + ext
    }
    n
  }

  /** Part file name for a conversation. When sanitization had to alter
    * the raw name, distinct cids can collide onto one file name and the
    * executor-side REPLACE_EXISTING write would last-writer-win
    * nondeterministically — so a deterministic disambiguator derived
    * from the ORIGINAL cid is appended (clean cids keep the exact
    * reference naming). */
  def partFileName(cid: String, suffix: String): String = {
    val raw = s"thread-$cid$suffix.md"
    val safe = sanitizeFilename(raw)
    if (safe == raw) safe
    else {
      val h = f"${scala.util.hashing.MurmurHash3.stringHash(cid)}%08x"
      val dot = safe.lastIndexOf('.')
      val (root, ext) =
        if (dot < 0) (safe, "") else (safe.substring(0, dot),
          safe.substring(dot))
      // cap the root BEFORE appending so the name stays within the
      // length limit AND the disambiguator always survives (a re-cap
      // afterwards would truncate the hash away and reopen collisions)
      val budget = math.max(1, 120 - ext.length - h.length - 1)
      val capped = if (root.length > budget) root.substring(0, budget)
                   else root
      s"$capped-$h$ext"
    }
  }

  // ---------------------------------------------------------------
  // Thread assembly + split packer (reference: exporter.py:239-342)
  // ---------------------------------------------------------------

  private def utf8Len(s: String): Int =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length

  /** Greedy packer over rendered blocks (E13) — byte accounting with
    * a 1024B front-matter approximation, soft overflow +20%, tiny-tail
    * merge (reference: exporter.py:239-342). Returns block index ranges
    * per part. Verified golden: 50 msgs, count=10, tail 20 → parts
    * 10/10/30.
    */
  def packBlocks(blocks: IndexedSeq[String],
      conf: SplitConf): IndexedSeq[IndexedSeq[Int]] = {
    val fmApprox = 1024
    val softOverflow = 0.20
    val tinyTailThreshold = 20
    val parts = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[Int]]
    var buf = scala.collection.mutable.ArrayBuffer.empty[Int]
    var bufBytes = 0L

    def flush(): Unit = if (buf.nonEmpty) {
      parts += buf.toIndexedSeq
      buf = scala.collection.mutable.ArrayBuffer.empty[Int]
      bufBytes = 0L
    }

    for (i <- blocks.indices) {
      val bsz = utf8Len(blocks(i))
      val overSize = conf.sizeLimit.exists(bufBytes + bsz + fmApprox > _)
      val overCount = !overSize && conf.countLimit.exists(buf.length >= _)
      if (overSize || overCount) {
        val withinSoft = !overCount && conf.sizeLimit.exists { lim =>
          bufBytes + bsz + fmApprox <= (lim * (1 + softOverflow)).toLong
        }
        val smallTail = blocks.length - (i + 1) <= tinyTailThreshold
        if (!withinSoft && !smallTail) flush()
      }
      buf += i; bufBytes += bsz
    }
    flush()
    if (parts.isEmpty) IndexedSeq(blocks.indices)
    else parts.toIndexedSeq
  }

  private val pinnedGeneratedAt = "1970-01-01T00:00:00+00:00"

  /** Render one whole thread to its Markdown parts. */
  def renderThread(
      cid: String,
      msgs: Seq[ExportMsg],
      tz: ZoneId,
      formatting: String,
      split: SplitConf): Seq[MdPart] = {
    val sorted = msgs.sortBy(m => (m.ts.isEmpty, m.ts, m.message_id))
    val provider = sorted.headOption.map(_.provider_id).getOrElse("unknown")
    val models = sorted.flatMap(_.model).distinct.sorted
    val tss = sorted.flatMap(_.ts)
    val tsMin = tss.minOption.map(_.toDouble)
    val tsMax = tss.maxOption.map(_.toDouble)
    val blocks = sorted.map(renderBlock(_, tz, formatting)).toIndexedSeq

    if (split.mode.isEmpty) {
      val fm = Seq(
        "---",
        s"thread: $cid",
        s"provider: $provider",
        s"messages: ${sorted.size}",
        s"models: ${asYamlList(models)}",
        s"range: ${toIsoUtc(tsMin)} 〜 ${toIsoUtc(tsMax)}",
        "---",
        "")
      val md = fm.mkString("\n") + blocks.mkString
      return Seq(MdPart(cid, 1, 1, partFileName(cid, ""), md))
    }

    // split-mode front matter (reference: exporter.py:320-333)
    def fmLines(msgCount: Int, partIdx: Int, partTotal: Int): Seq[String] =
      Seq(
        "---",
        s"thread: $cid",
        s"provider: $provider",
        s"models: ${asYamlList(models)}",
        s"message_count: $msgCount",
        s"range: ${toIsoUtc(tsMin)} 〜 ${toIsoUtc(tsMax)}",
        s"part_index: $partIdx",
        s"part_total: $partTotal",
        s"generated_at_utc: $pinnedGeneratedAt",
        s"tz: ${tz.getId}",
        "---",
        "")

    val ranges = packBlocks(blocks, split)
    val total = ranges.length
    ranges.zipWithIndex.map { case (idxs, p) =>
      val page = fmLines(idxs.length, p + 1, total).mkString("\n") +
        idxs.map(blocks(_)).mkString
      val suffix = if (total == 1) "" else f"__part${p + 1}%02d"
      MdPart(cid, p + 1, total, partFileName(cid, suffix), page)
    }
  }

  /** The Markdown parts of one conversation row: the renderer `Main`'s
    * thread pass calls (a routed message carries no model). */
  def renderConversation(
      c: graft.model.Schemas.Conversation,
      tz: ZoneId,
      formatting: String,
      split: SplitConf): Seq[MdPart] =
    renderThread(c.conversation_id, c.messages.map(m => ExportMsg(
      c.conversation_id, c.provider_id, m.message_id, m.parent_id, m.role,
      Some(m.ts), m.text, None)), tz, formatting, split)

  /** Distributed export of message rows: one conversation row per
    * conversation_id (`groupBy` + `sort_array(collect_list)`), each
    * rendered + packed by [[renderThread]]. Input needs columns:
    * conversation_id, provider_id, message_id, parent_id, role, ts,
    * text [, model]. */
  def exportThreads(
      msgs: DataFrame,
      tz: String = "UTC",
      formatting: String = "light",
      split: SplitConf = SplitConf.none): Dataset[MdPart] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    val withModel =
      if (msgs.columns.contains("model")) msgs
      else msgs.withColumn("model", lit(null).cast("string"))
    val fields = Seq("conversation_id", "provider_id", "message_id",
      "parent_id", "role", "ts", "text", "model")
    withModel
      .groupBy(col("conversation_id"))
      .agg(sort_array(collect_list(struct(fields.map(col): _*))))
      .as[(String, Seq[ExportMsg])]
      .flatMap { case (cid, thread) =>
        renderThread(cid, thread, ZoneId.of(tz), formatting, split)
      }
  }

  /** Write parts as files, executor-side and atomic per file
    * ([[graft.util.AtomicFiles]]); returns the number of parts
    * written, counted by accumulator inside this single pass — no
    * second execution of the render+pack pipeline. */
  def writeParts(parts: Dataset[MdPart], outDir: String): Long = {
    val acc = parts.sparkSession.sparkContext.longAccumulator("md_parts")
    val out = graft.util.AtomicFiles.writer(outDir,
      parts.sparkSession.sessionState.newHadoopConf())
    parts.foreachPartition { (it: Iterator[MdPart]) =>
      it.foreach { p =>
        out.write(p.file_name, p.content)
        acc.add(1L)
      }
    }
    acc.value
  }
}
