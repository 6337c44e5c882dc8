package graft

import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.parse.SchemaContract

/** The message contract (P2): whether a line is invalid, pinned by
  * EXECUTING python-jsonschema 4.26 (the reference's validator,
  * schema_validation.py:188-211) on the same documents against the
  * reference's message.schema.json. The verdict must match; no output
  * carries the violated (path, rule), so no test pins it.
  */
class SchemaContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val valid =
    """{"record_type":"message","provider_id":"openai",""" +
      """"conversation_id":"c","message_id":"m","role":"user","ts":5,""" +
      """"content":{"content_type":"text","parts":["a","b"]},"text":"a\nb"}"""

  private def invalid(lines: String*): Seq[Boolean] =
    lines.toDF("value").select(SchemaContract.invalid(col("value")))
      .as[Boolean].collect().toSeq

  test("valid message has zero violations") {
    assert(invalid(valid) === Seq(false))
  }

  test("golden parsed.jsonl message lines all validate") {
    val lines = spark.read.textFile(
        TestSpark.resource("/golden/sample_multi_parsed.jsonl"))
      .filter(col("value").contains("\"record_type\": \"message\""))
    val bad = lines.filter(SchemaContract.invalid(col("value")))
    assert(lines.count() === 16L)
    assert(bad.count() === 0L)
  }

  private def mod(repl: (String, String)*): String =
    repl.foldLeft(valid) { case (s, (from, to)) => s.replace(from, to) }

  test("each violation class fires at the jsonschema path") {
    // (line, python-jsonschema's verdict: invalid?)
    val cases = Seq(
      // jsonschema: null is NOT a string (present-null parent_id fails)
      mod("\"parent_id\":\"p\"" -> "") -> false, // absent ok
      mod(""""role":"user"""" -> """"role":"user","parent_id":null""") ->
        true,
      // missing required
      valid.replace(""""role":"user",""", "") -> true,
      // minLength
      valid.replace("\"role\":\"user\"", "\"role\":\"\"") -> true,
      // integer: 5.5 fails, 5.0 and 1e20 pass (zero fractional part),
      // "5" fails
      mod(""""ts":5""" -> """"ts":5.5""") -> true,
      mod(""""ts":5""" -> """"ts":5.0""") -> false,
      mod(""""ts":5""" -> """"ts":1e20""") -> false,
      mod(""""ts":5""" -> """"ts":"5"""") -> true,
      // minimum: -1 fails, -0.0 is not below 0
      mod(""""ts":5""" -> """"ts":-1""") -> true,
      mod(""""ts":5""" -> """"ts":-0.0""") -> false,
      // const
      mod(""""record_type":"message"""" -> """"record_type":"thread"""") ->
        true,
      // const vs non-string values: jsonschema flags ANY non-equal value
      mod(""""record_type":"message"""" -> """"record_type":null""") -> true,
      mod(""""record_type":"message"""" -> """"record_type":{"x":1}""") ->
        true,
      // meta must be an object when present (reference message.schema.json)
      mod(""""role":"user"""" -> """"role":"user","meta":{"model":"m"}""") ->
        false,
      mod(""""role":"user"""" -> """"role":"user","meta":"not-an-object"""") ->
        true,
      mod(""""role":"user"""" -> """"role":"user","meta":null""") -> true,
      // items: any element that is not a string, null included
      mod(""""parts":["a","b"]""" -> """"parts":["a",3,{"x":1}]""") -> true,
      mod(""""parts":["a","b"]""" -> """"parts":[null]""") -> true,
      mod(""""parts":["a","b"]""" -> """"parts":"oops"""") -> true,
      mod(""""content":{"content_type":"text","parts":["a","b"]}""" ->
        """"content":"nope"""") -> true,
      // nested required
      mod(""""content_type":"text",""" -> "") -> true,
      // not an object: a top-level array, a JSON null, and `{}`, which
      // lacks every required key
      "[1,2]" -> true,
      "null" -> true,
      "{}" -> true,
      // broken JSON is a violation, not an exception
      "{nope" -> true)
    cases.zip(invalid(cases.map(_._1): _*)).foreach {
      case ((line, want), got) => assert(got === want, line)
    }
  }

  test("validation plan is one narrow pass: zero Exchange, no UDF") {
    val df = Seq(valid).toDF("value")
      .select(SchemaContract.invalid(col("value")))
    val plan = df.queryExecution.executedPlan
    assert(plan.collect { case e: Exchange => e }.isEmpty)
    assert(!plan.toString.toLowerCase.contains("batchevalpython") &&
      !plan.toString.contains("ScalaUDF"))
  }
}
