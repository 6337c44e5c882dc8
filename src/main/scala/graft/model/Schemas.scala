package graft.model

import org.apache.spark.sql.types._

/** Canonical data model of the engine.
  *
  * Mirrors the reference's normalized-message contract
  * (reference: src/llm_logparser/core/schemas/message.schema.json:5-40 and
  * docs/output-contract.md:156-227) re-expressed as Spark types, plus the
  * north-rule transcript row (conv_id, turn_idx, role, text, tool, ts).
  */
object Schemas {

  /** North-rule canonical transcript row (BASELINE.json input_hint). */
  final case class Turn(
      conv_id: String,
      turn_idx: Int,
      role: String,
      text: String,
      tool: Option[String],
      ts: java.sql.Timestamp)

  /** Normalized message — the parse-stage output contract.
    * `ts` is integer epoch-milliseconds (reference: adapter.py:166-172);
    * `text` is `parts.mkString("\n")` (reference: adapter.py:225).
    */
  final case class Message(
      provider_id: String,
      conversation_id: String,
      message_id: String,
      parent_id: Option[String],
      role: String,
      tool: Option[String],
      ts: Long,
      content_type: String,
      parts: Seq[String],
      text: String)

  /** One message of a conversation row (ExtractConversation.messageType):
    * a [[Message]] without the ids its row already holds. */
  final case class ThreadMessage(
      message_id: String,
      parent_id: Option[String],
      role: String,
      tool: Option[String],
      ts: Long,
      content_type: String,
      parts: Seq[String],
      text: String)

  /** The conversation row every container parses to, messages in
    * (ts, message_id) order (rows merged under one id are not). */
  final case class Conversation(
      provider_id: String,
      conversation_id: String,
      messages: Seq[ThreadMessage])

  // ---------------------------------------------------------------------
  // Raw ChatGPT-export read schema (fixed contract; reference:
  // providers/openai/adapter.py:15-23 expected_top_keys and the fixture
  // shape in tests/fixtures/openai_sample*.json).
  //
  // `parts` is ArrayType(VariantType): the reference keeps ONLY string
  // elements of `content.parts` (adapter.py:210-218); with plain
  // ArrayType(StringType) Spark's JSON reader would coerce object/number
  // parts to their raw JSON text instead of dropping them. Variant keeps
  // the element's JSON type so we can filter on it.
  // ---------------------------------------------------------------------

  val authorSchema: StructType = StructType(Seq(
    StructField("role", StringType),
    StructField("name", StringType)))

  val contentSchema: StructType = StructType(Seq(
    StructField("content_type", StringType),
    StructField("parts", ArrayType(VariantType))))

  val messageSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("author", authorSchema),
    StructField("role", StringType), // message-level fallback (adapter.py:205)
    StructField("create_time", DoubleType),
    StructField("content", contentSchema),
    StructField("metadata", StructType(Seq(
      StructField("model_slug", StringType))))))

  val nodeSchema: StructType = StructType(Seq(
    StructField("id", StringType),
    StructField("parent", StringType),
    StructField("children", ArrayType(StringType)),
    StructField("create_time", DoubleType), // node-level ts fallback (adapter.py:220)
    StructField("message", messageSchema)))

  /** Top-level conversation object (one per JSONL line / array element). */
  val rawConversationSchema: StructType = StructType(Seq(
    StructField("conversation_id", StringType),
    StructField("id", StringType),
    StructField("uuid", StringType),
    StructField("title", StringType),
    StructField("create_time", DoubleType),
    StructField("update_time", DoubleType),
    StructField("mapping", MapType(StringType, nodeSchema)),
    StructField("_corrupt_record", StringType)))

  /** Parse-output columns, in contract order. */
  val messageColumns: Seq[String] = Seq(
    "provider_id", "conversation_id", "message_id", "parent_id",
    "role", "tool", "ts", "content_type", "parts", "text")
}
