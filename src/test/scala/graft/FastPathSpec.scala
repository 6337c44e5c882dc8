package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.parse.{ChatGptParser, FastTranscriptParser, GrokParser}
import graft.pipeline.TurnOrdering

/** The fast-path scanner must be observationally identical to the
  * generic Catalyst parse (+ window ordering) on every input we can
  * throw at it. */
class FastPathSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def genericParsed(path: String) =
    TurnOrdering.withTurnIdx(
      ChatGptParser.normalize(ChatGptParser.readRawJsonl(spark, path)))
      .select("provider_id", "conversation_id", "message_id", "parent_id",
        "role", "tool", "ts", "content_type", "parts", "text", "turn_idx")

  private def assertSame(path: String): Unit = {
    val fast = FastTranscriptParser.parse(spark, path)
    val slow = genericParsed(path)
    assert(fast.count() === slow.count())
    assert(fast.exceptAll(slow).count() === 0L, "fast-only rows")
    assert(slow.exceptAll(fast).count() === 0L, "generic-only rows")
  }

  test("fast path equals generic path on the synthesized corpus") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fast")
    TranscriptGen.renderRawJsonl(TranscriptGen.synthesize(spark, 50))
      .write.mode("overwrite").text(s"$tmp/raw")
    assertSame(s"$tmp/raw")
  }

  test("fast path equals generic path on the reference fixture (as JSONL)") {
    // the fixture is a single multi-line object: compact it to one
    // line. The fixtures contain no raw newlines inside JSON strings
    // (they are \n-escaped), so a plain replace is lossless.
    val tmp = java.nio.file.Files.createTempDirectory("graft-fastfx")
    val obj = java.nio.file.Files.readString(java.nio.file.Paths.get(
      TestSpark.resource("/fixtures/openai_sample_multi.json")))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/multi.jsonl"),
      obj.replace("\n", " ").replace("\r", " ") + "\n")
    val cols = Seq("message_id", "parent_id", "role", "tool", "ts",
      "content_type", "parts", "text", "turn_idx")
    val fast = FastTranscriptParser.parse(spark, s"$tmp/multi.jsonl")
      .select(cols.map(col): _*)
    val slow = TurnOrdering.withTurnIdx(ChatGptParser.normalize(
      ChatGptParser.readRawMultiline(
        spark, TestSpark.resource("/fixtures/openai_sample_multi.json"))))
      .select(cols.map(col): _*)
    assert(fast.count() === 16)
    assert(fast.exceptAll(slow).count() === 0L)
    assert(slow.exceptAll(fast).count() === 0L)
  }

  test("fast path plan is zero-shuffle (no Exchange before the sink)") {
    import spark.implicits._
    // materialize the rendered corpus first — the GENERATOR groups by
    // conversation and legitimately shuffles; the claim under test is
    // about the parse path alone
    val rendered = graft.gen.TranscriptGen.renderRawJsonl(
      graft.gen.TranscriptGen.synthesize(spark, 5)).collect().toSeq
    val lines = rendered.toDF("line")
    val plan = graft.parse.FastTranscriptParser.parseLines(lines)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"parse+order must not shuffle — turn_idx comes from the " +
        s"in-expression sort, not a window:\n$plan")
  }

  test("every container runs its conversation expression once per row") {
    // file inputs: a `toDF` input would be constant-folded, and its
    // plan would hide a filter that re-runs the expression
    val tmp = java.nio.file.Files.createTempDirectory("graft-once")
    val raw = TranscriptGen.renderRawJsonl(TranscriptGen.synthesize(spark, 3))
      .collect()
    java.nio.file.Files.writeString(tmp.resolve("raw.jsonl"),
      raw.mkString("", "\n", "\n"))
    java.nio.file.Files.writeString(tmp.resolve("raw.json"),
      raw.mkString("[\n", ",\n", "\n]\n"))
    java.nio.file.Files.createDirectory(tmp.resolve("text"))
    java.nio.file.Files.writeString(tmp.resolve("text/a.txt"),
      "### user 1000\nhi\n\n### assistant 2000\nhello\n")
    def observed(df: DataFrame, metric: Column) =
      df.observe(new Observation(), metric)
    def occurrences(df: DataFrame, s: String) =
      df.queryExecution.executedPlan.toString.sliding(s.length).count(_ == s)
    // `Main`'s shape: conversation row → hot flag → turns
    def mainTurns(conv: DataFrame) = FastTranscriptParser.turns(
      conv.withColumn("hot", size(col("messages")) >= 1))
    val jsonl = s"$tmp/raw.jsonl"
    val docs = spark.read.option("wholetext", "true").text(s"$tmp/text")
      .select(ChatGptParser.fileStem(input_file_name()).as("conv_id"),
        col("value").as("raw"))
    val plans = Seq(
      ("jsonl, no observation", "extract_conversation(",
        FastTranscriptParser.parse(spark, jsonl)),
      ("jsonl, Main", "extract_conversation(",
        mainTurns(FastTranscriptParser.conversations(
          FastTranscriptParser.readLines(spark, jsonl), "openai",
          Some(new Observation())))),
      ("array, Main", "sort_array(",
        mainTurns(ChatGptParser.conversations(observed(
          ChatGptParser.readRawMultiline(spark, s"$tmp/raw.json"),
          ChatGptParser.corruptLines)))),
      ("array, normalize", "sort_array(", ChatGptParser.normalize(
        ChatGptParser.readRawMultiline(spark, s"$tmp/raw.json"))),
      ("text, Main", "sort_array(", mainTurns(
        GrokParser.conversations(docs, "grok", Some(new Observation())))),
      ("text, parse", "(?m)^>(>*### )", GrokParser.parse(docs)))
    plans.foreach { case (name, expr, df) =>
      assert(occurrences(df, expr) === 1, s"$name:\n" +
        df.queryExecution.executedPlan)
    }
  }

  test("fast path: corrupt lines and junk are skipped, not fatal") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fastbad")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/bad.jsonl"),
      """{"conversation_id": "ok", "mapping": {"n1": {"id": "n1", "message": {"id": "m1", "author": {"role": "user"}, "create_time": 2.5, "content": {"content_type": "text", "parts": ["hi", 42, {"x": 1}, "yo"]}}}}}
        |not json at all
        |{"truncated": {"mapping":
        |123
        |{"conversation_id": "empty", "mapping": {}}
        |""".stripMargin)
    val fast = FastTranscriptParser.parse(spark, s"$tmp/bad.jsonl")
      .collect()
    assert(fast.length === 1)
    val r = fast.head
    assert(r.getAs[String]("conversation_id") === "ok")
    assert(r.getAs[Long]("ts") === 2500L)
    assert(r.getAs[String]("text") === "hi\nyo") // non-strings dropped
  }

  test("fast path handles escapes, unicode and surrogate pairs") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fastesc")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tmp/esc.jsonl"),
      "{\"conversation_id\": \"c\", \"mapping\": {\"n\": {\"id\": \"n\", " +
        "\"message\": {\"id\": \"m\", \"author\": {\"role\": \"user\"}, " +
        "\"create_time\": 1.0, \"content\": {\"content_type\": \"text\", " +
        "\"parts\": [\"a\\nb\\t\\\"q\\\" \\u304a\\ud83d\\ude00\"]}}}}}\n")
    val got = FastTranscriptParser.parse(spark, s"$tmp/esc.jsonl")
      .select("text").head().getString(0)
    assert(got === "a\nb\t\"q\" お😀")
  }
}
