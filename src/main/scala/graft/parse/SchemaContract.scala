package graft.parse

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The message contract of emitted JSONL records — the reference's P2
  * operator (reference: src/llm_logparser/core/schema_validation.py:
  * 150-211, python-jsonschema over schemas/message.schema.json, Draft
  * 2020-12).
  *
  * One fixed contract, so one hand-written Column predicate: a
  * codegen'd projection over the VARIANT of each line, with no shuffle,
  * no UDF and no message string. It gives python-jsonschema's verdict
  * on that schema, which SchemaContractSpec pins: `required` accepts a
  * present JSON `null`, but no type of this contract does, so every
  * required key fails on `null` as on absence; `integer` accepts a
  * number with a zero fraction (5.0, 1e20); `minimum` compares the
  * number (-0.0 passes).
  */
object SchemaContract {

  /** Whether one JSONL line breaks the message contract (an unparseable
    * line does), for any pass that holds lines. A lambda binds the
    * parsed value: inside a higher-order function no subexpression is
    * shared, so each check would parse it again. */
  def invalid(line: Column): Column =
    transform(array(try_parse_json(line)), v => !message(v))(0)

  /** `v` is present and its type is one of `kinds`, each a prefix of
    * a schema_of_variant spelling (OBJECT<…>, ARRAY<…>, DECIMAL(p,s)). */
  private def is(v: Column, kinds: String*): Column = {
    val t = schema_of_variant(v)
    v.isNotNull && kinds.map(t.startsWith).reduce(_ || _)
  }

  private def nonEmptyString(v: Column): Column =
    is(v, "STRING") && try_variant_get(v, "$", "string") =!= ""

  /** Each check of a required key is false, never NULL, when the key is
    * absent, so `required` needs no check of its own; the optional
    * `parent_id` and `meta` pass when absent. */
  private def message(v: Column): Column = {
    def at(path: String): Column = try_variant_get(v, path, "variant")
    def absentOr(path: String, kind: String): Column =
      at(path).isNull || is(at(path), kind)
    val ts = try_variant_get(v, "$.ts", "double")
    val parts = at("$.content.parts")
    is(v, "OBJECT") &&
      try_variant_get(v, "$.record_type", "string") <=> "message" &&
      Seq("provider_id", "conversation_id", "message_id", "role")
        .map(k => nonEmptyString(at(s"$$.$k"))).reduce(_ && _) &&
      absentOr("$.parent_id", "STRING") &&
      is(at("$.ts"), "BIGINT", "DECIMAL", "DOUBLE") &&
      ts % 1 === 0 && ts >= 0 &&
      is(at("$.content"), "OBJECT") &&
      nonEmptyString(at("$.content.content_type")) &&
      is(parts, "ARRAY") &&
      forall(try_variant_get(parts, "$", "array<variant>"),
        is(_, "STRING")) &&
      is(at("$.text"), "STRING") &&
      absentOr("$.meta", "OBJECT")
  }
}
