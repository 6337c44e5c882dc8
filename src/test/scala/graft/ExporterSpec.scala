package graft

import java.time.ZoneId

import org.scalatest.funsuite.AnyFunSuite

import graft.export.{Exporter, LightFormatter, SizeExpr}
import graft.export.Exporter.{ExportMsg, SplitConf}
import graft.parse.ChatGptParser

class ExporterSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def msg(i: Int): ExportMsg = ExportMsg(
    "c50", "openai", f"m$i%03d", None,
    if (i % 2 == 1) "user" else "assistant",
    Some(1700000000000L + i * 1000L),
    s"message $i body text", None)

  test("no-split export of the multi fixture is byte-equal to reference") {
    val normalized = ChatGptParser.normalize(
      ChatGptParser.readRawMultiline(
        spark, TestSpark.resource("/fixtures/openai_sample_multi.json")))
    val parts = Exporter.exportThreads(normalized).collect()
    assert(parts.length === 1)
    val want = java.nio.file.Files.readString(java.nio.file.Paths.get(
      TestSpark.resource("/golden/sample_multi_export.md")))
    assert(parts.head.content === want)
  }

  test("count=10 split of 50 messages → parts 10/10/30 (reference golden)") {
    val msgs = (0 until 50).map(msg)
    val parts = Exporter.renderThread("c50", msgs, ZoneId.of("UTC"),
      "light", SplitConf.parse("count=10"), "PINNED")
    assert(parts.map(p => p.content.sliding(5).count(_ == "## [u") +
      p.content.sliding(5).count(_ == "## [a")) === Seq(10, 10, 30))
    assert(parts.map(_.part_index) === Seq(1, 2, 3))
    assert(parts.forall(_.part_total == 3))
    assert(parts.map(_.file_name) === Seq(
      "thread-c50__part01.md", "thread-c50__part02.md",
      "thread-c50__part03.md"))
  }

  test("size=1K split matches reference block distribution (14×2 + 22)") {
    val msgs = (0 until 50).map(msg)
    val parts = Exporter.renderThread("c50", msgs, ZoneId.of("UTC"),
      "light", SplitConf.parse("size=1K"), "PINNED")
    val blockCounts = parts.map(_.content.split("## \\[").length - 1)
    assert(blockCounts === Seq.fill(14)(2) :+ 22)
  }

  test("sanitize filename: long-extension clamp mirrors Python slicing") {
    // extension longer than maxLen-3: Python root[:negative] degrades
    // gracefully instead of throwing
    val ext = "." + "e" * 130
    val out = Exporter.sanitizeFilename("abcdef" + ext, maxLen = 120)
    assert(out.startsWith("...") || out.contains("..."))
    // collision disambiguation: two cids sanitizing to the same name
    // get distinct part files; clean cids keep reference naming
    val a = Exporter.partFileName("x/y", "")
    val b = Exporter.partFileName("x?y", "")
    assert(a !== b)
    assert(Exporter.partFileName("clean-cid", "") === "thread-clean-cid.md")
  }

  test("light formatter: blank collapse, fence verbatim, auto-close, tail strip") {
    assert(LightFormatter.render("a\n\n\n\nb") === "a\n\nb")
    assert(LightFormatter.render("x\n```\n\n\n\ncode\n```\ny") ===
      "x\n```\n\n\n\ncode\n```\ny")
    assert(LightFormatter.render("```scala\nval x = 1") ===
      "```scala\nval x = 1\n```")
    assert(LightFormatter.render("a\n\n\n") === "a")
    assert(LightFormatter.render("  ```indented\ncode\n  ```") ===
      "  ```indented\ncode\n  ```")
    assert(LightFormatter.render("") === "")
  }

  test("light formatter matches reference on the fixture texts") {
    // reference-computed pairs (python _render_message_text, light)
    assert(LightFormatter.render("line1\n\n\nline2  \n\nline3") ===
      "line1\n\nline2  \n\nline3")
    // unclosed fence with trailing blanks: blanks are INSIDE code,
    // kept; then fence closed
    assert(LightFormatter.render("```\ncode\n\n\n") === "```\ncode\n\n\n```")
  }

  test("iso / local formatting matches Python reference output") {
    assert(Exporter.toIsoUtc(Some(1756622514615d)) ===
      "2025-08-31T06:41:54.615000+00:00")
    assert(Exporter.toIsoUtc(Some(1700000000000d)) ===
      "2023-11-14T22:13:20+00:00") // no micros → no fraction
    assert(Exporter.toLocalHuman(Some(1756622514615d), ZoneId.of("UTC")) ===
      "2025-08-31 06:41")
    assert(Exporter.toLocalHuman(Some(1756622514615d),
      ZoneId.of("Asia/Tokyo")) === "2025-08-31 15:41")
    // sec-resolution input (< 1e11) is NOT divided
    assert(Exporter.toIsoUtc(Some(1700000000d)) ===
      "2023-11-14T22:13:20+00:00")
  }

  test("size expression parser (reference utils.py table)") {
    assert(SizeExpr.parse("4M") === 4L * 1024 * 1024)
    assert(SizeExpr.parse("512K") === 512L * 1024)
    assert(SizeExpr.parse("1G") === 1024L * 1024 * 1024)
    assert(SizeExpr.parse("4096") === 4096L)
    assert(SizeExpr.parse("4MB") === 4000000L)
    assert(SizeExpr.parse("4MiB") === 4L * 1024 * 1024)
    assert(SizeExpr.parse("512KiB") === 512L * 1024)
    assert(SizeExpr.parse("512kb") === 512000L)
    intercept[IllegalArgumentException](SizeExpr.parse("banana"))
  }

  test("sanitize filename") {
    assert(Exporter.sanitizeFilename("a<b>c:d.md") === "a_b_c_d.md")
    // tabs are control chars → _ BEFORE whitespace collapse (reference order)
    assert(Exporter.sanitizeFilename("a   b\t\tc.md") === "a b__c.md")
    val long = "x" * 200 + ".md"
    val s = Exporter.sanitizeFilename(long)
    assert(s.length <= 120 && s.endsWith("....md"))
  }

  test("export writes files atomically and deterministically") {
    val normalized = ChatGptParser.normalize(
      ChatGptParser.readRawMultiline(
        spark, TestSpark.resource("/fixtures/openai_sample_multi.json")))
    val tmp = java.nio.file.Files.createTempDirectory("graft-md")
    val parts = Exporter.exportThreads(normalized)
    Exporter.writeParts(parts, tmp.toString)
    val f = tmp.resolve(
      "thread-68b3eea1-1fc4-832c-878a-23896288675a.md")
    val run1 = java.nio.file.Files.readString(f)
    Exporter.writeParts(Exporter.exportThreads(normalized), tmp.toString)
    assert(java.nio.file.Files.readString(f) === run1)
  }
}
