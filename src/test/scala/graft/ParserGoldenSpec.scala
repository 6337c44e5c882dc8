package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Schemas
import graft.parse.ChatGptParser
import graft.route.Router

/** Golden parity vs the reference (Syun-tnb/llm-logparser) — the goldens
  * in src/test/resources/golden/ were produced by running the reference
  * on its own fixtures (BASELINE.md "Golden correctness baselines").
  */
class ParserGoldenSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def normalized(fixture: String) =
    ChatGptParser.normalize(
      ChatGptParser.readRawMultiline(spark, TestSpark.resource(fixture)))

  private val goldenSchema = StructType(Seq(
    StructField("record_type", StringType),
    StructField("provider_id", StringType),
    StructField("conversation_id", StringType),
    StructField("message_id", StringType),
    StructField("parent_id", StringType),
    StructField("role", StringType),
    StructField("ts", LongType),
    StructField("content", StructType(Seq(
      StructField("content_type", StringType),
      StructField("parts", ArrayType(StringType))))),
    StructField("text", StringType),
    StructField("message_count", LongType)))

  private def golden(file: String) =
    spark.read.schema(goldenSchema)
      .json(TestSpark.resource(s"/golden/$file"))
      .filter(col("record_type") === "message")

  test("multi fixture: 16 routed rows with reference role counts") {
    val got = normalized("/fixtures/openai_sample_multi.json")
    assert(got.count() === 16L)
    val byRole = got.groupBy("role").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byRole === Map(
      "assistant" -> 6L, "user" -> 5L, "tool" -> 3L, "system" -> 2L))
  }

  test("single fixture: 1 surviving message, role user") {
    val got = normalized("/fixtures/openai_sample.json").collect()
    assert(got.length === 1)
    val row = normalized("/fixtures/openai_sample.json")
      .select("role", "ts", "conversation_id").head()
    assert(row.getString(0) === "user")
    assert(row.getLong(1) === 1756622514615L)
    assert(row.getString(2) === "68b3eea1-1fc4-832c-878a-23896288675a")
  }

  test("multi fixture: every field matches the reference golden rows") {
    val got = normalized("/fixtures/openai_sample_multi.json")
      .select("message_id", "parent_id", "role", "ts", "content_type",
        "parts", "text")
    val want = golden("sample_multi_parsed.jsonl")
      .select(col("message_id"), col("parent_id"), col("role"), col("ts"),
        col("content.content_type").as("content_type"),
        col("content.parts").as("parts"), col("text"))
    assert(got.exceptAll(want).count() === 0L,
      "rows produced but not in golden")
    assert(want.exceptAll(got).count() === 0L,
      "golden rows missing from output")
  }

  test("per-thread JSONL bytes equal the reference parsed.jsonl") {
    import spark.implicits._
    for ((fixture, goldenFile) <- Seq(
        "/fixtures/openai_sample_multi.json" -> "sample_multi_parsed.jsonl",
        "/fixtures/openai_sample.json" -> "sample_parsed.jsonl")) {
      val msgs = normalized(fixture)
        .select(Schemas.messageColumns.map(col): _*)
        .as[Schemas.Message]
      val gotContent = Router.threadJsonl(msgs).collect()
      assert(gotContent.length === 1)
      val wantBytes = java.nio.file.Files.readString(
        java.nio.file.Paths.get(TestSpark.resource(s"/golden/$goldenFile")))
      assert(gotContent.head._2 === wantBytes, s"byte diff for $fixture")
    }
  }

  test("corrupt JSONL lines are quarantined, not fatal") {
    val tmp = java.nio.file.Files.createTempFile("graft", ".jsonl")
    java.nio.file.Files.writeString(tmp,
      """{"conversation_id": "c1", "mapping": {"n1": {"id": "n1", "parent": null, "message": {"id": "m1", "author": {"role": "user"}, "create_time": 1.5, "content": {"content_type": "text", "parts": ["hi"]}}}}}
        |this is not json
        |{"conversation_id": "c2", "mapping": {}}
        |""".stripMargin)
    val raw = ChatGptParser.readRawJsonl(spark, tmp.toString)
    assert(raw.select(ChatGptParser.corruptLines).head().getLong(0) === 1L)
    val msgs = ChatGptParser.normalize(raw)
    assert(msgs.count() === 1L)
    assert(msgs.head().getAs[Long]("ts") === 1500L)
    java.nio.file.Files.delete(tmp)
  }

  test("UTF-8 BOM JSONL parses identically through readRawAuto (S2, parser.py:64)") {
    val line = """{"conversation_id": "c1", "mapping": {"n1": {"id": "n1", "parent": null, "message": {"id": "m1", "author": {"role": "user"}, "create_time": 1.5, "content": {"content_type": "text", "parts": ["hi"]}}}}}"""
    val tmp = java.nio.file.Files.createTempFile("graft-bom", ".jsonl")
    java.nio.file.Files.write(tmp,
      Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val msgs = ChatGptParser.normalize(
      ChatGptParser.readRawAuto(spark, tmp.toString))
    val row = msgs.select("conversation_id", "role", "ts", "text").collect()
    assert(row.length === 1, "BOM line must parse, not quarantine")
    assert(row.head.getString(0) === "c1" && row.head.getString(1) === "user")
    assert(row.head.getLong(2) === 1500L && row.head.getString(3) === "hi")
    java.nio.file.Files.delete(tmp)
  }

  test("UTF-8 BOM raw transcript JSONL parses identically through the fast path") {
    import spark.implicits._
    val lines = graft.gen.TranscriptGen.renderRawJsonl(
      graft.gen.TranscriptGen.synthesize(spark, 2)).collect()
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val dir = java.nio.file.Files.createTempDirectory("graft-bom-fast")
    java.nio.file.Files.write(dir.resolve("plain.jsonl"),
      lines.mkString("", "\n", "\n").getBytes(utf8))
    val dirBom = java.nio.file.Files.createTempDirectory("graft-bom-fast2")
    java.nio.file.Files.write(dirBom.resolve("bom.jsonl"),
      Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
        lines.mkString("", "\n", "\n").getBytes(utf8))
    val plain = graft.parse.FastTranscriptParser
      .parse(spark, dir.toString)
      .orderBy("conversation_id", "turn_idx").collect()
    val bom = graft.parse.FastTranscriptParser
      .parse(spark, dirBom.toString)
      .orderBy("conversation_id", "turn_idx").collect()
    assert(plain.length > 0 && plain.toSeq === bom.toSeq)
  }
}
