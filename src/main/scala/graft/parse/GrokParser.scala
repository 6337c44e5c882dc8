package graft.parse

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Grok-style parse of PLAIN-TEXT transcript logs — the north-star's
  * "compiled-regex parse stage extracts role markers, tool-call blocks
  * and turn boundaries from raw text bytes via Catalyst expressions"
  * (BASELINE.json north_star), complementing the JSON-export parsers:
  * many agent frameworks log conversations as text, not JSON.
  *
  * Wire format (one document per conversation):
  * {{{
  * ### user 1756622514615
  * hello there
  * ### assistant [tool: python] 1756622519001
  * line one
  * line two
  * }}}
  * A turn boundary is a line starting `### `; the header line carries
  * `role [tool: name]? epoch_ms`; everything until the next boundary
  * is the turn's text (multi-line bodies supported).
  *
  * Escaping contract: a BODY line that would collide with the boundary
  * marker — `^(>*)### ` — is quoted on render with one leading `>` and
  * unquoted on parse (the mbox "From "-quoting scheme). This makes the
  * wire format total: markdown headings like "### Section" inside turn
  * text round-trip byte-exactly instead of silently fabricating extra
  * turns, and text that already looks quoted (">### x") survives too,
  * because render quotes every line in the collision class and parse
  * strips exactly one ">" from it.
  *
  * Spark-first: the parser is split + transform + regexp_extract — no
  * UDF, no RDD, and parsing is a NARROW map over conversations (the
  * graph of a transcript never crosses rows), so at 10^12 turns it
  * scales with input splits alone.
  * [[render]] is the inverse (used to exercise the parser against the
  * oracle's independently-derived expected rows: parse ∘ render must
  * be the identity on the transcript table).
  */
object GrokParser {

  // mbox-style quoting of the reserved boundary sequence (see class
  // doc): quote ^(>*)### on render, strip one ">" from ^>(>*)### on
  // parse — each is a single codegen'd multiline regexp pass
  private def escapeBody(text: Column): Column =
    regexp_replace(text, "(?m)^(>*### )", ">$1")
  private def unescapeBody(body: Column): Column =
    regexp_replace(body, "(?m)^>(>*### )", "$1")

  /** Per-conversation text document from the transcript table —
    * turns ordered by (ts, event_id) like every sink in this engine.
    * One shuffle (the groupBy), unavoidable: a per-conversation
    * document IS a per-conversation grouping. */
  def render(transcripts: DataFrame): DataFrame = {
    val header = concat(
      lit("### "), col("role"),
      when(col("tool").isNotNull,
        concat(lit(" [tool: "), col("tool"), lit("]"))).otherwise(lit("")),
      lit(" "), unix_millis(col("ts").cast("timestamp")).cast("string"))
    transcripts
      .select(col("conv_id"),
        struct(
          unix_millis(col("ts").cast("timestamp")).as("ts_ms"),
          col("event_id"),
          concat(header, lit("\n"), escapeBody(col("text"))).as("turn"))
          .as("t"))
      .groupBy("conv_id")
      .agg(concat_ws("\n",
        transform(sort_array(collect_list(col("t"))), _.getField("turn")))
        .as("raw"))
  }

  private val headerRe = "^(\\w+)(?: \\[tool: ([^\\]]+)\\])? (\\d+)$"

  /** A document's turns from its `raw` text, in document order:
    * array<struct<role, tool, ts, text>>, ts in epoch-ms. Malformed
    * headers yield null role/ts rather than failing the scan. */
  private def documentTurns: Column = {
    // CRLF logs are the common case for text exports: normalize line
    // endings first or the trailing \r defeats both the boundary split
    // and the header's (\d+)$ anchor. Leading "\n" then makes every
    // boundary the uniform "\n### " separator; element 0 is the (empty)
    // preamble.
    val normalized = regexp_replace(col("raw"), "\r\n", "\n")
    val segs = split(concat(lit("\n"), normalized), "\n### ")
    transform(slice(segs, lit(2), greatest(size(segs) - 1, lit(0))), { seg =>
      val headerLine = substring_index(seg, "\n", 1)
      val body = seg.substr(length(headerLine) + lit(2), length(seg))
      struct(
        nullif(regexp_extract(headerLine, headerRe, 1), lit("")).as("role"),
        nullif(regexp_extract(headerLine, headerRe, 2), lit("")).as("tool"),
        nullif(regexp_extract(headerLine, headerRe, 3), lit(""))
          .cast(LongType).as("ts"),
        unescapeBody(body).as("text"))
    })
  }

  /** Parse raw documents (conv_id, raw) → one row per turn:
    * (conv_id, turn_idx, role, tool, ts_ms, text), narrow end to end. */
  def parse(raw: DataFrame): DataFrame =
    raw
      .select(col("conv_id"),
        posexplode(documentTurns).as(Seq("turn_idx", "t")))
      .select(col("conv_id"), col("turn_idx"), col("t.role").as("role"),
        col("t.tool").as("tool"), col("t.ts").as("ts_ms"),
        col("t.text").as("text"))

  /** The conversation row of each document (conv_id, raw), as
    * [[FastTranscriptParser.conversations]] yields for JSONL, so text
    * feeds the SAME route/index/export stages. Turns with a malformed
    * header (null role/ts: the A10 null-ts drop) are dropped, and
    * counted on `obs`, when given, as `corrupt_lines`. Message ids are
    * positional (`conv-idx`, dropped turns counted), parent_id the
    * PREVIOUS index: text transcripts are already linear, there is no
    * DAG to walk. */
  def conversations(raw: DataFrame, provider: String,
      obs: Option[Observation]): DataFrame = {
    val malformed = (t: Column) => t("role").isNull || t("ts").isNull
    val docs = raw.select(col("conv_id"), documentTurns.as("turns"))
    val counted = obs.fold(docs)(docs.observe(_,
      sum(size(filter(col("turns"), malformed))).as("corrupt_lines")))
    val id = (i: Column) => concat(col("conv_id"), lit("-"), i)
    val keyed = filter(transform(col("turns"), (t, i) => struct(
        t("ts").as("ts"), id(i).as("message_id"),
        when(i > 0, id(i - 1)).as("parent_id"), t("role").as("role"),
        t("tool").as("tool"), lit("text").as("content_type"),
        array(t("text")).as("parts"))),
      k => !malformed(k))
    counted.select(
      lit(provider).as("provider_id"),
      col("conv_id").as("conversation_id"),
      FastTranscriptParser.orderedMessages(keyed).as("messages"))
  }
}
