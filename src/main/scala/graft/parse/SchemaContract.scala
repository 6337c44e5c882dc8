package graft.parse

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Runtime JSON-Schema validation of emitted JSONL records — the
  * reference's P2 operator (reference:
  * src/llm_logparser/core/schema_validation.py:150-211 over
  * schemas/message.schema.json, Draft 2020-12 via the `jsonschema`
  * package).
  *
  * Spark-first: instead of interpreting the schema per row (a Python
  * `iter_errors` loop), [[JsonSchemaCompiler]] compiles the schema ONCE
  * on the driver into a tree of Catalyst expressions over a VARIANT
  * value — schema_of_variant type dispatch, try_variant_get descent,
  * higher-order functions for arrays — so validation of a trillion rows
  * is one codegen'd projection with zero shuffle and no UDF.
  *
  * Keyword subset: everything the message contract uses — `type`
  * (object/string/integer/array), `required`, `properties`, `items`
  * (scalar and object element schemas, violations carry the element
  * index), `const`, `minLength`, `minimum`. Any other keyword fails
  * loud at compile time rather than silently passing.
  *
  * Semantics pinned by SchemaContractSpec against python-jsonschema
  * behavior: `required` accepts a present-but-null property; type
  * checks reject JSON null; `integer` accepts 5.0 (zero fractional
  * part); keywords only constrain instances of their type (minLength
  * ignores non-strings, required ignores non-objects, …).
  */
object JsonSchemaCompiler {

  private val mapper = new ObjectMapper()

  private def emptyViol: Column = array().cast("array<string>")

  private def typeName(s: JsonNode): Option[String] =
    Option(s.get("type")).map(_.asText())

  /** numeric variant types (schema_of_variant spellings) */
  private def isNumeric(t: Column): Column =
    t === "BIGINT" || t.startsWith("DECIMAL") ||
      t === "DOUBLE" || t === "FLOAT"

  /** Compile one (sub)schema into a violations expression.
    *
    * @param v    the VARIANT value being validated (SQL null = absent)
    * @param path dynamic JSON-pointer-ish path for messages
    */
  private val known = Set("type", "required", "properties", "items",
    "const", "minLength", "minimum")

  private def fieldNames(s: JsonNode): Seq[String] = {
    val it = s.fieldNames()
    Iterator.continually(if (it.hasNext) it.next() else null)
      .takeWhile(_ != null).toSeq
  }

  /** Eager compile-time keyword audit over the whole schema tree. */
  private def verifySupported(s: JsonNode): Unit = {
    val unknown = fieldNames(s).filterNot(known)
    require(unknown.isEmpty,
      s"unsupported JSON-Schema keywords: ${unknown.mkString(", ")} " +
        "(extend JsonSchemaCompiler rather than silently ignoring)")
    Option(s.get("properties")).foreach(p =>
      fieldNames(p).foreach(k => verifySupported(p.get(k))))
    Option(s.get("items")).foreach(verifySupported)
  }

  private def violations(s: JsonNode, v: Column, path: Column): Column = {
    val t = schema_of_variant(v)
    val checks = scala.collection.mutable.ArrayBuffer.empty[Column]
    // a check contributes only when the value is PRESENT; absence is
    // the parent's `required` concern (jsonschema: properties apply to
    // present members only)
    def when_(cond: Column, msg: Column): Unit =
      checks += (when(v.isNotNull && cond, array(msg)).otherwise(emptyViol))

    typeName(s).foreach {
      case "object" =>
        when_(!t.startsWith("OBJECT"),
          concat(path, lit(": not an object")))
      case "array" =>
        when_(!t.startsWith("ARRAY"),
          concat(path, lit(": not an array")))
      case "string" =>
        when_(t =!= "STRING", concat(path, lit(": not a string")))
      case "integer" =>
        val d = try_variant_get(v, "$", "double")
        when_(!(t === "BIGINT" || (isNumeric(t) && d === floor(d))),
          concat(path, lit(": not an integer")))
      case other =>
        throw new IllegalArgumentException(s"unsupported type: $other")
    }

    Option(s.get("const")).foreach { c =>
      // a JSON null/object/array casts to SQL NULL, making a plain
      // =!= comparison NULL → no violation recorded — a false negative
      // vs python-jsonschema, which flags ANY non-equal value. A null
      // string-cast of a PRESENT value is therefore itself a mismatch.
      val asStr = try_variant_get(v, "$", "string")
      when_(asStr.isNull || asStr =!= c.asText(),
        concat(path, lit(s": expected const '${c.asText()}'")))
    }
    Option(s.get("minLength")).foreach { n =>
      when_(t === "STRING" &&
          length(try_variant_get(v, "$", "string")) < n.asInt(),
        concat(path, lit(s": shorter than minLength ${n.asInt()}")))
    }
    Option(s.get("minimum")).foreach { n =>
      when_(isNumeric(t) &&
          try_variant_get(v, "$", "double") < n.asDouble(),
        concat(path, lit(s": below minimum ${n.asText()}")))
    }

    // object keywords
    val isObj = v.isNotNull && t.startsWith("OBJECT")
    Option(s.get("required")).foreach { req =>
      val names = (0 until req.size()).map(req.get(_).asText())
      names.foreach { r =>
        checks += (when(
          isObj && try_variant_get(v, s"$$.$r", "variant").isNull,
          array(concat(path, lit(s".$r: required")))).otherwise(emptyViol))
      }
    }
    Option(s.get("properties")).foreach { p =>
      fieldNames(p).foreach { k =>
        val child = try_variant_get(v, s"$$.$k", "variant")
        val childV = violations(p.get(k), child, concat(path, lit(s".$k")))
        checks += (when(isObj, childV).otherwise(emptyViol))
      }
    }

    // array element schemas — violations carry the element index
    Option(s.get("items")).foreach { items =>
      val elems = try_variant_get(v, "$", "array<variant>")
      checks += (when(v.isNotNull && t.startsWith("ARRAY"),
        flatten(transform(elems, (e, i) =>
          violations(items, e,
            concat(path, lit("["), i.cast("string"), lit("]"))))))
        .otherwise(emptyViol))
    }

    if (checks.isEmpty) emptyViol else concat(checks.toSeq: _*)
  }

  /** Compile `schemaJson` → a function producing an `array<string>` of
    * violations (empty = valid) for a VARIANT column. */
  def compile(schemaJson: String): Column => Column = {
    val root = mapper.readTree(schemaJson)
    verifySupported(root)
    v => violations(root, v, lit("$"))
  }
}

/** The engine's emitted-record contracts, compiled once. */
object SchemaContract {

  /** The normalized message contract — semantics of the reference's
    * schemas/message.schema.json (required envelope fields, epoch-ms
    * integer ts ≥ 0, content.parts all strings). */
  val messageSchemaJson: String = """{
    "type": "object",
    "required": ["record_type", "provider_id", "conversation_id",
                 "message_id", "role", "ts", "content", "text"],
    "properties": {
      "record_type": {"const": "message"},
      "provider_id": {"type": "string", "minLength": 1},
      "conversation_id": {"type": "string", "minLength": 1},
      "message_id": {"type": "string", "minLength": 1},
      "parent_id": {"type": "string"},
      "role": {"type": "string", "minLength": 1},
      "ts": {"type": "integer", "minimum": 0},
      "content": {
        "type": "object",
        "required": ["content_type", "parts"],
        "properties": {
          "content_type": {"type": "string", "minLength": 1},
          "parts": {"type": "array", "items": {"type": "string"}}
        }
      },
      "text": {"type": "string"},
      "meta": {"type": "object"}
    }
  }"""

  private lazy val messageViolations: Column => Column =
    JsonSchemaCompiler.compile(messageSchemaJson)

  /** Validate raw JSONL lines in a `value` column (e.g. a routed
    * parsed.jsonl sink read back): adds `violations: array<string>`;
    * an unparseable line is itself a violation. One narrow codegen'd
    * pass. */
  def validateJsonl(lines: DataFrame): DataFrame = {
    val v = try_parse_json(col("value"))
    lines.withColumn("violations",
      when(v.isNull, array(lit("$: not valid JSON")))
        .otherwise(messageViolations(v)))
  }

  /** Record and invalid-record counts for a run summary (the
    * reference's iter_validate_messages aggregate view). Two counters:
    * the aggregation buffer stays the same size for any input. */
  def summarize(validated: DataFrame): DataFrame =
    validated.agg(
      count(lit(1)).as("records"),
      count(when(size(col("violations")) > 0, 1)).as("invalid"))
}
