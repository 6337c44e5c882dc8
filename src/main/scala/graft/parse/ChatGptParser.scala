package graft.parse

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas

/** Parse stage: raw ChatGPT-export conversations → normalized messages.
  *
  * Re-realizes the reference's provider adapter
  * (reference: src/llm_logparser/core/providers/openai/adapter.py:175-240)
  * as a single declarative Catalyst plan — scan → one expression per
  * conversation that filters, maps and sorts its mapping's nodes — so
  * nested-schema pruning applies and no step shuffles. No RDDs, no UDFs.
  *
  * Semantics matched exactly (all verified against the reference's golden
  * outputs in src/test/resources/golden/):
  *  - conversation_id coalesce chain + filename-stem fallback
  *    (adapter.py:148-163)
  *  - structural nodes (message == null) skipped (adapter.py:199-203)
  *  - role = author.role or message.role or "unknown" (adapter.py:205-208)
  *  - parts = ONLY string elements of content.parts (adapter.py:210-218) —
  *    done with VariantType elements + schema_of_variant filter
  *  - ts = int(float(create_time or node.create_time) * 1000), epoch-ms,
  *    truncating toward zero like Python int(); Python falsy `or` (0.0
  *    falls through) reproduced (adapter.py:166-172,220)
  *  - null-ts messages DROPPED — count-critical (adapter.py:220-222)
  *  - text = "\n".join(parts) (adapter.py:225)
  *
  * The BFS linearization (adapter.py:100-141) is deliberately NOT on
  * this path: the adapter's final sort by (ts, message_id) makes BFS
  * order unobservable in normalized output (see SURVEY.md §2 A5).
  *
  * Array (`[`) and pretty single-object containers come here through
  * the multiLine reader, which streams an array's elements (the scanner
  * would need a multi-GB export as one string), to the conversation row
  * [[FastTranscriptParser]] yields for JSONL. `normalize` over
  * [[readRawJsonl]] is the reference the scanner is checked against.
  */
object ChatGptParser {

  /** Streaming JSONL scan (one conversation per line) — the scale path:
    * splittable, per-line parse, corrupt lines quarantined not fatal
    * (reference reader semantics: parser.py:56-120 warn-skip).
    */
  def readRawJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(Schemas.rawConversationSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("encoding", "UTF-8") // never the platform charset
      .json(path)

  /** JSON-array / single-object container (reference: parser.py:86-113).
    * multiLine files are not splittable — fine for the import edge, the
    * normalized table is what runs at scale.
    */
  def readRawMultiline(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(Schemas.rawConversationSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("encoding", "UTF-8") // multiLine decodes with platform charset otherwise
      .option("multiLine", value = true)
      .json(path)

  /** Container sniffing (reference: parser.py:56-76): true for a JSON
    * array (`[` first) or a pretty-printed single object (the first
    * non-blank line, trimmed, is exactly `{`, as `json.dump(indent=…)`
    * writes it), read by the multiLine reader; false for JSONL, one
    * document per line, a one-line object file included. Reads a few
    * bytes on the driver only, through the Hadoop FileSystem of the
    * path's scheme — java.nio only ever worked for local files and
    * silently broke hdfs:/s3a: inputs. A directory input (the scale
    * shape: a dir of JSONL part files) sniffs its first contained data
    * file.
    */
  def sniffMultiline(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val target =
      if (!fs.getFileStatus(p).isDirectory) p
      else {
        // recursive: part files may sit under nested partition dirs
        // (raw/date=…/part-*.jsonl); a clean error beats fs.open(dir)
        val it = fs.listFiles(p, true)
        var found: Option[org.apache.hadoop.fs.Path] = None
        while (found.isEmpty && it.hasNext) {
          val s = it.next()
          val n = s.getPath.getName
          if (s.isFile && !n.startsWith("_") && !n.startsWith("."))
            found = Some(s.getPath)
        }
        found.getOrElse(throw new java.nio.file.NoSuchFileException(
          s"no data files under $path"))
      }
    val head = {
      val in = fs.open(target)
      try {
        val buf = new Array[Byte](4096)
        val n = math.max(in.read(buf, 0, buf.length), 0)
        new String(buf, 0, n, java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
    }
    head.replace("\uFEFF", "").linesIterator.map(_.trim).find(_.nonEmpty)
      .exists(first => first.startsWith("[") || first == "{")
  }

  /** The raw conversations of `path`, read by the container's reader
    * (see [[sniffMultiline]]). No product entry point calls this
    * (`Main` sniffs, then picks a reader itself): perfbench's
    * `TracedPipeline` compiles against it; remove it in the benchmark PR
    * that realigns `TracedPipeline`. */
  def readRawAuto(spark: SparkSession, path: String): DataFrame =
    if (sniffMultiline(spark, path)) readRawMultiline(spark, path)
    else readRawJsonl(spark, path)

  private def nonEmpty(c: Column): Column = when(c.isNotNull && c =!= "", c)

  /** The reference's `Path(source).stem` (adapter.py:148-163) of a file
    * URI as `input_file_name()` gives it; null for a null or empty one.
    * That URI is URL-encoded (`my conv.jsonl` reads as
    * `my%20conv.jsonl`), so the name is decoded, with `+` escaped first
    * because `url_decode` reads it as a space. The suffix is the last
    * `.`-part after a non-empty root, as pathlib splits it (`.bashrc`
    * and `foo.` keep their whole names), so a non-empty name has a
    * non-empty stem: only the cheap base-name split sits under the
    * empty check, and the decode and the regex run once per row (a
    * `nullif` over the stem is inlined inside `coalesce`, which ran
    * both twice). */
  def fileStem(file: Column): Column = {
    val name = nullif(substring_index(file, "/", -1), lit(""))
    regexp_replace(url_decode(replace(name, lit("+"), lit("%2B"))),
      "(?<=.)\\.[^.]+$", "")
  }

  /** conversation_id derivation (adapter.py:148-163). The sha1 branch
    * formats create_time with Spark's double→string cast, which differs
    * from Python repr — only reachable when a conversation has no id AND
    * no source filename, which never happens on the live path (the
    * reference always passes source; parser.py:243-256).
    */
  private def conversationId: Column = coalesce(
    nonEmpty(col("conversation_id")),
    nonEmpty(col("id")),
    nonEmpty(col("uuid")),
    fileStem(input_file_name()),
    substring(
      sha1(concat_ws("|",
        coalesce(col("title"), lit("")),
        coalesce(col("create_time").cast(StringType),
          col("update_time").cast(StringType), lit("")))), 1, 12),
    lit("unknown"))

  /** One row per raw conversation, as
    * [[FastTranscriptParser.conversations]] yields for JSONL:
    * `(provider_id, conversation_id, messages)`, the nodes filtered,
    * mapped and (ts, message_id)-sorted inside the row. */
  def conversations(raw: DataFrame, provider: String = "openai")
      : DataFrame = {
    // Python `msg.create_time or node.create_time`: 0.0 is falsy.
    def tsSec(node: Column): Column = {
      val ct = node("message")("create_time")
      when(ct.isNotNull && ct =!= 0.0d, ct).otherwise(node("create_time"))
    }
    // structural nodes (no message) and null-ts messages (A10,
    // count-critical) are dropped
    val kept = filter(map_entries(col("mapping")), e =>
      e("value")("message").isNotNull && tsSec(e("value")).isNotNull)
    val keyed = transform(kept, { e =>
      val msg = e("value")("message")
      // Micro-divergence (documented, unreachable on well-formed
      // exports): a NUMERIC author.role is stringified by Spark's JSON
      // reader (role="123"); the reference's isinstance check yields
      // "unknown" and the scanner falls through to msg.role. All three
      // agree on every string-or-absent role.
      val role = coalesce(
        nonEmpty(msg("author")("role")), nonEmpty(msg("role")), lit("unknown"))
      // Keep only string-typed parts (Variant-typed elements carry the
      // original JSON type); non-list / missing parts → empty array.
      val stringParts = coalesce(
        transform(
          filter(msg("content")("parts"),
            p => schema_of_variant(p) === lit("STRING")),
          p => try_variant_get(p, "$", "string")),
        array().cast(ArrayType(StringType)))
      struct(
        (tsSec(e("value")) * 1000d).cast(LongType).as("ts"),
        coalesce(nonEmpty(msg("id")), e("key")).as("message_id"),
        e("value")("parent").as("parent_id"),
        role.as("role"),
        when(role === "tool", nonEmpty(msg("author")("name"))).as("tool"),
        coalesce(msg("content")("content_type"), lit("text"))
          .as("content_type"),
        stringParts.as("parts"))
    })
    raw
      .filter(col("mapping").isNotNull)
      .select(
        lit(provider).as("provider_id"),
        conversationId.as("conversation_id"),
        FastTranscriptParser.orderedMessages(keyed).as("messages"))
  }

  /** Normalize raw conversations into the message contract: the turns
    * of [[conversations]], without `turn_idx`.
    *
    * Output columns (Schemas.messageColumns): provider_id,
    * conversation_id, message_id, parent_id, role, tool, ts (epoch-ms
    * long), content_type, parts (array<string>), text.
    */
  def normalize(raw: DataFrame, provider: String = "openai"): DataFrame =
    FastTranscriptParser.turns(conversations(raw, provider)).drop("turn_idx")

  /** Corrupt-line count over a raw read (reference warn-skips broken
    * lines and reports them in the run summary, parser.py:82-84,338-345):
    * an aggregate for `observe` on the scan that parses anyway, or for a
    * side `select`. */
  def corruptLines: Column =
    // also references a data column (mapping) — Spark disallows queries
    // touching ONLY the corrupt-record column on raw file scans
    count(when(col("_corrupt_record").isNotNull && col("mapping").isNull, 1))
      .as("corrupt_lines")
}
