package graft.parse

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Fast-path parse stage: raw export JSONL → ordered normalized turns
  * in ONE narrow codegen'd pass (graft.functions.ExtractConversation),
  * with NO shuffle — the per-conversation (ts, message_id) sort runs
  * inside the expression (a conversation is one input row), so
  * `turn_idx` falls out of posexplode instead of a window exchange.
  *
  * The conversation row it yields, `(provider_id, conversation_id,
  * messages)`, is the one row shape every container parses to: JSONL
  * here (`Main` and `SparkEntry`), arrays and single objects through
  * [[ChatGptParser.conversations]], text through
  * [[GrokParser.conversations]]. [[turns]] explodes any of them.
  *
  * Semantics are identical to ChatGptParser.normalize +
  * TurnOrdering.withTurnIdx on JSONL (asserted by FastPathSpec on
  * fixtures and the synthesized corpus, and through `Main` by
  * MainAppSpec's hostile-input test, which also pins the documented
  * divergences).
  */
object FastTranscriptParser {

  /** The lines of a JSONL file or directory, with `_file` for the
    * conversation-id filename-stem fallback. */
  def readLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(col("value").as("line"), input_file_name().as("_file"))

  /** Columns: Schemas.messageColumns + turn_idx. */
  def parse(
      spark: SparkSession,
      path: String,
      provider: String = "openai"): DataFrame =
    parseLines(readLines(spark, path), provider)

  /** Same over an in-memory line column (no file source); `_file` is
    * optional (conversation-id filename-stem fallback). */
  def parseLines(lines: DataFrame, provider: String = "openai"): DataFrame =
    turns(conversations(lines, provider))

  /** One row per parseable line: `(provider_id, conversation_id,
    * messages)`, the messages already in (ts, message_id) order, so a
    * conversation's kept-turn count is `size(messages)`.
    *
    * With `obs`, the same scan observes `corrupt_lines`: the lines the
    * scanner rejects, blank and whitespace-only lines excluded (Spark's
    * JSON reader skips those too, and the reference's JSONL reader never
    * sees them as records). */
  def conversations(
      lines: DataFrame,
      provider: String = "openai",
      obs: Option[Observation] = None): DataFrame = {
    val withFile =
      if (lines.columns.contains("_file")) lines
      else lines.withColumn("_file", lit(null).cast("string"))
    // `c` comes out of a one-element explode: the null filter below,
    // pushed through a projection of the scanner, would re-run it
    val scanned = withFile.select(col("line"), col("_file"),
      explode(array(graft.functions.extract_conversation(col("line"))))
        .as("c"))
    obs.fold(scanned)(scanned.observe(_, corruptLines))
      .filter(col("c").isNotNull)
      .select(
        lit(provider).as("provider_id"),
        coalesce(col("c.conversation_id"),
          ChatGptParser.fileStem(col("_file")), lit("unknown"))
          .as("conversation_id"),
        col("c.messages").as("messages"))
  }

  private def corruptLines: Column =
    count(when(col("c").isNull && !col("line").rlike("^\\s*$"), 1))
      .as("corrupt_lines")

  /** A conversation row's `messages` from `keyed`, structs `(ts,
    * message_id, parent_id, role, tool, content_type, parts)` sorted by
    * their leading (ts, message_id), as ExtractConversation.messageType:
    * `text` is the parts joined by newlines. */
  private[parse] def orderedMessages(keyed: Column): Column =
    transform(sort_array(keyed), k => struct(messageFields.map {
      case "text" => array_join(k("parts"), "\n").as("text")
      case f => k(f).as(f)
    }: _*))

  private val messageFields =
    graft.functions.ExtractConversation.messageType.fieldNames.toSeq

  /** One row per turn of `conv` (rows shaped like [[conversations]]):
    * Schemas.messageColumns + turn_idx, then any other columns of `conv`
    * carried onto each of its turns. */
  def turns(conv: DataFrame): DataFrame = {
    val carried = conv.columns.toSeq
      .filterNot(Set("provider_id", "conversation_id", "messages"))
      .map(col)
    val fields = messageFields.map(f => col(s"m.$f"))
    // the outer generator's row for an empty array is filtered out
    // after it: for a plain posexplode Spark infers a `size(messages) >
    // 0` filter, and pushed through the projection that builds
    // `messages` it would re-run that expression
    conv
      .select(Seq(col("provider_id"), col("conversation_id")) ++ carried :+
        posexplode_outer(col("messages")).as(Seq("turn_idx", "m")): _*)
      .filter(col("turn_idx").isNotNull)
      .select(Seq(col("provider_id"), col("conversation_id")) ++ fields ++
        (col("turn_idx") +: carried): _*)
  }
}
