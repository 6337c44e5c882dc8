package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.TranscriptGen

/** One generated turn exactly as the generator emitted it. */
final case class Turn(
    conv_id: String,
    message_id: String,
    role: String,
    tool: Option[String],
    text: String,
    ts_ms: Option[Long])

/** A rendered input corpus and the ground truth the checker compares
  * the program's outputs against. `edited` and `added` are the resume
  * edit set (empty for a first-run corpus). */
final case class Corpus(
    input: String,
    turns: Vector[Turn],
    convCount: Int,
    megaIds: Seq[String],
    edited: Set[String] = Set.empty,
    added: Set[String] = Set.empty) {

  lazy val byConv: Map[String, Vector[Turn]] = turns.groupBy(_.conv_id)

  /** Turns the parser keeps: null-ts turns are dropped (count-critical). */
  lazy val kept: Vector[Turn] = turns.filter(_.ts_ms.isDefined)

  /** Expected routed rows per (role, tool_sink) sink. */
  lazy val expectedSinks: Map[(String, String), Long] =
    kept.groupBy(t => (t.role, t.tool.getOrElse("none")))
      .map { case (k, v) => k -> v.size.toLong }

  /** A thread's kept turns in the contract's stable (ts, message_id) order. */
  def expectedThread(cid: String): Vector[Turn] =
    byConv(cid).filter(_.ts_ms.isDefined)
      .sortBy(t => (t.ts_ms.get, t.message_id))
}

/** Workload inputs built from `graft.gen.TranscriptGen.synthesize`, all a
  * pure function of the seed: the same seed gives byte-identical files. */
object Corpus {

  /** Main's default hot threshold is 10 000 turns; 8 × 1300 = 10 400. */
  val MegaFactor = 1300

  def synth(spark: SparkSession, nConvs: Int, seed: Long,
      megaFactor: Int = 1): DataFrame =
    TranscriptGen.synthesize(spark, nConvs, baseTurns = 8,
      megaFactor = megaFactor, seed = seed)

  /** Ordinary threads (8–15 turns each), rendered as a JSONL directory of
    * `parts` files. */
  def threads(spark: SparkSession, dir: Path, nConvs: Int, seed: Long,
      parts: Int = 4): Corpus = {
    val df = synth(spark, nConvs, seed)
    val turns = collectTurns(df)
    writeJsonlDir(dir, render(df), parts)
    Corpus(dir.toString, turns, nConvs, Nil)
  }

  /** A `conversations.json` array holding `nOrdinary` ordinary threads
    * and `nMega` conversations of 8 × `megaFactor` turns, each mega at a
    * seed-chosen position in the array. Megas are synthesized as the
    * generator's conversation 0 and renamed, conversation and message
    * ids both, so no two conversations share an id. */
  def megaArray(spark: SparkSession, dir: Path, nOrdinary: Int, nMega: Int,
      seed: Long, megaFactor: Int = MegaFactor): Corpus = {
    val megaIds = (0 until nMega).map(i => f"mega-$i%04d")
    val megas = megaIds.zipWithIndex.map { case (mid, i) =>
      synth(spark, 1, seed * 7919L + i + 1, megaFactor)
        .withColumn("conv_id", lit(mid))
        .withColumn("message_id", regexp_replace(col("message_id"),
          "^msg-conv-000000000-", s"msg-$mid-"))
    }
    val df = megas.foldLeft(synth(spark, nOrdinary, seed))(_ union _)
    val turns = collectTurns(df)
    val lines = render(df)
    val (megaLines, ordLines) =
      lines.partition(l => megaIds.exists(m => l.contains(s""""$m"""")))
    val rnd = new scala.util.Random(seed)
    val placed = megaLines.foldLeft(ordLines) { (acc, l) =>
      val at = rnd.nextInt(acc.size + 1)
      acc.patch(at, Seq(l), 0)
    }
    Files.createDirectories(dir)
    val file = dir.resolve("conversations.json")
    Files.write(file, placed.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
    Corpus(file.toString, turns, nOrdinary + nMega, megaIds)
  }

  /** The resume edit set on top of `base`: about 5% of its threads get
    * three appended turns and about 1% new threads appear. */
  def resumeEdit(spark: SparkSession, dir: Path, base: Corpus, seed: Long,
      parts: Int = 4): Corpus = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed ^ 0x5eed5eedL)
    val ids = base.byConv.keys.toVector.sorted
    val edited = rnd.shuffle(ids).take(math.max(1, ids.size / 20))
    val appended = edited.flatMap { cid =>
      val prev = base.byConv(cid)
      val lastTs = prev.flatMap(_.ts_ms).max
      (0 until 3).map { j =>
        val idx = prev.size + j
        mkTurn(cid, idx, lastTs + (j + 1) * 31007L, s"Appended turn $j of $cid")
      }
    }
    val nAdded = math.max(1, ids.size / 100)
    val added = (0 until nAdded).map(i => f"conv-new-$seed%d-$i%05d")
    val fresh = added.zipWithIndex.flatMap { case (cid, i) =>
      (0 until 10).map { idx =>
        mkTurn(cid, idx, 1800000000000L + i * 86400000L + idx * 31007L,
          s"New thread $cid turn $idx")
      }
    }
    val extra = (appended ++ fresh).toDS().toDF()
    val df = synth(spark, base.convCount, seed).union(extra)
    val turns = base.turns ++ appended ++ fresh
    writeJsonlDir(dir, render(df), parts)
    Corpus(dir.toString, turns, base.convCount + nAdded, Nil,
      edited.toSet, added.toSet)
  }

  /** A turn in the generator's own role/tool/id scheme. */
  private def mkTurn(cid: String, idx: Int, ts: Long, text: String): Turn = {
    val role =
      if (idx == 0) "system"
      else if (Set(1, 3, 5, 7).contains(idx % 10)) "user"
      else if (idx % 10 == 9) "tool"
      else "assistant"
    val tool =
      if (role == "tool") Some(TranscriptGen.toolVocab(idx % 4)) else None
    Turn(cid, f"msg-$cid-$idx%06d", role, tool, text, Some(ts))
  }

  def collectTurns(df: DataFrame): Vector[Turn] = {
    import df.sparkSession.implicits._
    df.select("conv_id", "message_id", "role", "tool", "text", "ts_ms")
      .as[Turn].collect().toVector
  }

  /** Raw export lines, one conversation each, sorted by conversation id
    * (each line opens with it) so the file bytes do not depend on task
    * order. */
  def render(df: DataFrame): Vector[String] =
    TranscriptGen.renderRawJsonl(df).collect().toVector.sorted

  private def writeJsonlDir(dir: Path, lines: Vector[String],
      parts: Int): Unit = {
    Files.createDirectories(dir)
    val per = math.max(1, (lines.size + parts - 1) / parts)
    lines.grouped(per).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(dir.resolve(f"part-$i%05d.jsonl"),
        chunk.mkString("", "\n", "\n").getBytes(UTF_8))
    }
  }
}
