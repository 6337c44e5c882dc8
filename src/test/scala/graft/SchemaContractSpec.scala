package graft

import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.parse.{JsonSchemaCompiler, SchemaContract}

/** Runtime JSON-Schema validation (P2) — expected outcomes pinned by
  * EXECUTING python-jsonschema 4.26 (the reference's validator,
  * schema_validation.py:188-211) on the same documents against the
  * reference's message.schema.json. Violation
  * MESSAGE wording is ours; the violated (path, rule) set must match.
  */
class SchemaContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val valid =
    """{"record_type":"message","provider_id":"openai",""" +
      """"conversation_id":"c","message_id":"m","role":"user","ts":5,""" +
      """"content":{"content_type":"text","parts":["a","b"]},"text":"a\nb"}"""

  private def viols(lines: String*): Seq[Seq[String]] =
    lines.toDF("value").select(SchemaContract.violations(col("value")))
      .as[Seq[String]].collect().toSeq

  test("valid message has zero violations") {
    assert(viols(valid) === Seq(Nil))
  }

  test("golden parsed.jsonl message lines all validate") {
    val lines = spark.read.textFile(
        TestSpark.resource("/golden/sample_multi_parsed.jsonl"))
      .filter(col("value").contains("\"record_type\": \"message\""))
    val bad = lines.filter(size(SchemaContract.violations(col("value"))) > 0)
    assert(lines.count() === 16L)
    assert(bad.count() === 0L)
  }

  private def mod(repl: (String, String)*): String =
    repl.foldLeft(valid) { case (s, (from, to)) => s.replace(from, to) }

  test("each violation class fires at the jsonschema path") {
    // jsonschema: null is NOT a string (present-null parent_id fails)
    assert(viols(mod("\"parent_id\":\"p\"" -> ""))(0) === Nil) // absent ok
    assert(viols(mod(""""role":"user"""" -> """"role":"user","parent_id":null"""))(0)
      === Seq("$.parent_id: not a string"))
    // missing required
    assert(viols(valid.replace(""""role":"user",""", ""))(0)
      === Seq("$.role: required"))
    // minLength
    assert(viols(valid.replace("\"role\":\"user\"", "\"role\":\"\""))(0)
      === Seq("$.role: shorter than minLength 1"))
    // integer: 5.5 fails, 5.0 passes (zero fractional part), "5" fails
    assert(viols(mod(""""ts":5""" -> """"ts":5.5"""))(0)
      === Seq("$.ts: not an integer"))
    assert(viols(mod(""""ts":5""" -> """"ts":5.0"""))(0) === Nil)
    assert(viols(mod(""""ts":5""" -> """"ts":"5""""))(0)
      === Seq("$.ts: not an integer"))
    // minimum
    assert(viols(mod(""""ts":5""" -> """"ts":-1"""))(0)
      === Seq("$.ts: below minimum 0"))
    // const
    assert(viols(mod(""""record_type":"message"""" ->
        """"record_type":"thread""""))(0)
      === Seq("$.record_type: expected const 'message'"))
    // const vs non-string values: jsonschema flags ANY non-equal value;
    // a null/object/array used to cast to SQL NULL and silently pass
    assert(viols(mod(""""record_type":"message"""" ->
        """"record_type":null"""))(0)
      === Seq("$.record_type: expected const 'message'"))
    assert(viols(mod(""""record_type":"message"""" ->
        """"record_type":{"x":1}"""))(0)
      === Seq("$.record_type: expected const 'message'"))
    // meta must be an object when present (reference message.schema.json)
    assert(viols(mod(""""role":"user"""" ->
        """"role":"user","meta":{"model":"m"}"""))(0) === Nil)
    assert(viols(mod(""""role":"user"""" ->
        """"role":"user","meta":"not-an-object""""))(0)
      === Seq("$.meta: not an object"))
    // items carry element indexes; only non-strings flagged
    assert(viols(mod(""""parts":["a","b"]""" ->
        """"parts":["a",3,{"x":1}]"""))(0)
      === Seq("$.content.parts[1]: not a string",
        "$.content.parts[2]: not a string"))
    // type error short-circuits nested keywords, like jsonschema
    assert(viols(mod(""""parts":["a","b"]""" -> """"parts":"oops""""))(0)
      === Seq("$.content.parts: not an array"))
    assert(viols(mod(
        """"content":{"content_type":"text","parts":["a","b"]}""" ->
          """"content":"nope""""))(0)
      === Seq("$.content: not an object"))
    // nested required
    assert(viols(mod(""""content_type":"text",""" -> ""))(0)
      === Seq("$.content.content_type: required"))
    // broken JSON is a violation, not an exception
    assert(viols("{nope")(0) === Seq("$: not valid JSON"))
  }

  test("unsupported keyword fails at compile time, not silently") {
    // keywords outside the message contract's subset, including the
    // reference manifest schema's additionalProperties and minItems
    Seq("""{"type":"string","pattern":"x"}""",
        """{"type":"object","additionalProperties":false}""",
        """{"type":"array","minItems":1}""").foreach { schema =>
      intercept[IllegalArgumentException] {
        JsonSchemaCompiler.compile(schema)
      }
    }
  }

  test("validation plan is one narrow pass: zero Exchange, no UDF") {
    val df = Seq(valid).toDF("value")
      .select(SchemaContract.violations(col("value")))
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case e: Exchange => e }.isEmpty)
    assert(!plan.toString.toLowerCase.contains("batchevalpython") &&
      !plan.toString.contains("ScalaUDF"))
  }
}
