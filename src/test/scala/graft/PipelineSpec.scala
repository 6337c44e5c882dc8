package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.lineage.Lineage
import graft.parse.ChatGptParser
import graft.pipeline.TurnOrdering
import graft.route.Router

/** Round-trip, ordering-stability, routing and lineage tests over the
  * deterministic synthesizer. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val synth = TranscriptGen.synthesize(spark, nConvs = 12).cache()

  test("synthesize is deterministic and skewed") {
    val a = synth.collect().map(_.toString).sorted
    val b = TranscriptGen.synthesize(spark, nConvs = 12)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
    val counts = synth.groupBy("conv_id").count()
      .orderBy(desc("count")).collect()
    assert(counts.head.getLong(1) > 10 * counts.last.getLong(1),
      "conv 0 must be a mega conversation")
    assert(synth.filter(col("ts_ms").isNull).count() > 0,
      "some null-ts turns required")
  }

  test("render → parse round-trip preserves surviving turns and text") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-rt")
    val rawPath = s"$tmp/raw.jsonl"
    TranscriptGen.renderRawJsonl(synth)
      .coalesce(1).write.mode("overwrite").text(s"$tmp/rendered")
    // concatenate part files into one jsonl
    val partFiles = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$tmp/rendered")).toArray
      .map(_.toString).filter(_.endsWith(".txt")).sorted
    val out = new java.io.FileOutputStream(rawPath)
    partFiles.foreach(f => out.write(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f))))
    out.close()

    val parsed = ChatGptParser.normalize(
      ChatGptParser.readRawJsonl(spark, rawPath)).cache()

    // expected: null-ts rows dropped; ts goes through the same IEEE-754
    // sec→ms math as the reference (ms → /1000.0 → ×1000 → trunc)
    val expected = synth.filter(col("ts_ms").isNotNull)
      .select(
        col("conv_id").as("conversation_id"),
        col("message_id"),
        col("role"),
        ((col("ts_ms").cast("double") / 1000d) * 1000d).cast("long").as("ts"),
        col("text"))
    val got = parsed.select(
      col("conversation_id"), col("message_id"), col("role"),
      col("ts"), col("text"))
    assert(got.exceptAll(expected).count() === 0L)
    assert(expected.exceptAll(got).count() === 0L)
    // tool attribution survives the round trip for tool turns
    val toolGot = parsed.filter(col("role") === "tool")
      .select("message_id", "tool")
    val toolWant = synth.filter(col("role") === "tool" && col("ts_ms").isNotNull)
      .select("message_id", "tool")
    assert(toolGot.exceptAll(toolWant).count() === 0L)
  }

  test("turn_idx is stable under any input partitioning / row order") {
    val base = synth.filter(col("ts_ms").isNotNull)
      .withColumn("ts", col("ts_ms"))
    val a = TurnOrdering.withTurnIdx(base, conv = "conv_id")
      .select("conv_id", "message_id", "turn_idx")
    val shuffled = base.repartition(7, col("text")) // unrelated partitioner
      .sortWithinPartitions(desc("message_id"))
    val b = TurnOrdering.withTurnIdx(shuffled, conv = "conv_id")
      .select("conv_id", "message_id", "turn_idx")
    assert(a.exceptAll(b).count() === 0L)
    assert(b.exceptAll(a).count() === 0L)
  }

  test("duplicate-ts turns are broken by message_id ascending") {
    val base = synth.filter(col("ts_ms").isNotNull)
      .withColumn("ts", col("ts_ms"))
    val dup = TurnOrdering.withTurnIdx(base, conv = "conv_id")
      .withColumn("n_same",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("conv_id"), col("ts"))))
      .filter(col("n_same") > 1)
    assert(dup.count() > 0, "synthesizer must produce duplicate-ts pairs")
    // within each (conv, ts) group, turn_idx order == message_id order
    val violations = dup
      .groupBy("conv_id", "ts")
      .agg(
        min(struct(col("turn_idx"), col("message_id"))).as("lo"),
        max(struct(col("turn_idx"), col("message_id"))).as("hi"))
      .filter(col("lo.message_id") > col("hi.message_id"))
    assert(violations.count() === 0L)
  }

  test("routed sinks: partitioned write + per-sink counts + pruning") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-route")
    val msgs = synth.filter(col("ts_ms").isNotNull).select(
      lit("openai").as("provider_id"),
      col("conv_id").as("conversation_id"),
      col("message_id"),
      lit(null).cast("string").as("parent_id"),
      col("role"), col("tool"), col("ts_ms").as("ts"),
      lit("text").as("content_type"),
      array(col("text")).as("parts"),
      col("text"))
    val root = Router.writeRoutedSinks(msgs, tmp.toString)
    val back = spark.read.parquet(root)
    assert(back.count() === msgs.count())
    val wantCounts = msgs.groupBy("role").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotCounts = back.groupBy("role").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gotCounts === wantCounts)
    // partition pruning: a (role, tool) predicate must reach the scan
    // as PartitionFilters, not a post-scan Filter
    val pruned = back.filter(col("role") === "tool" && col("tool_sink") === "python")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(back.filter(col("role") === "tool").count() ===
      msgs.filter(col("role") === "tool").count())
    assert(scan.contains("PartitionFilters: [isnotnull(role"),
      s"expected partition filters in scan:\n$scan")
  }

  test("lineage: distributed thread index + pointer manifest + resume anti-join") {
    val stats = synth.filter(col("ts_ms").isNotNull)
      .groupBy(col("conv_id").as("conversation_id"))
      .agg(count(lit(1)).as("count"),
        min("ts_ms").as("ts_min"), max("ts_ms").as("ts_max"))
    val parts = Lineage.capturePartitions(
      synth.filter(col("ts_ms").isNotNull), "ts_ms").collect().toSeq
    assert(parts.map(_.row_count).sum ===
      synth.filter(col("ts_ms").isNotNull).count())
    val tmp = java.nio.file.Files.createTempDirectory("graft-lin")
    val indexRoot = s"$tmp/thread_index"
    val mpath = s"$tmp/manifest.json"
    // thread index is a distributed snapshot table — never collected
    Lineage.writeThreadIndex(stats, indexRoot)
    Lineage.writeManifest(mpath, "openai", stats.count(), "thread_index",
      parts)
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(mpath))
    assert(manifest.contains("\"path\": \"thread_index\""))
    assert(manifest.contains("\"partitions\""))
    val prev = Lineage.readThreadIndex(spark, indexRoot)
    assert(prev.count() === stats.count())
    // unchanged run → nothing to re-process
    assert(Lineage.changedThreads(stats, prev).count() === 0L)
    // one conversation grows by a turn → exactly that one is re-processed
    val grown = stats.withColumn("count",
      when(col("conversation_id") === "conv-000000003", col("count") + 1)
        .otherwise(col("count")))
    val changed = Lineage.changedThreads(grown, prev).collect()
    assert(changed.map(_.getString(0)).toSeq === Seq("conv-000000003"))
    // a second index commit supersedes the first atomically
    Lineage.writeThreadIndex(stats.limit(3), indexRoot)
    assert(Lineage.readThreadIndex(spark, indexRoot).count() === 3L)
  }

  test("adaptive salting: mega-conversation spreads, normal convs stay co-located") {
    val msgs = synth.filter(col("ts_ms").isNotNull).select(
      col("conv_id").as("conversation_id"), col("message_id"),
      col("role"), col("tool"), col("text"))
    val counts = msgs.groupBy("conversation_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val megaConv = counts.maxBy(_._2)._1
    val threshold = counts.values.toSeq.sorted.apply(counts.size - 2) + 1
    val salted = Router.saltedForRouting(msgs, saltBuckets = 8,
      hotThreshold = threshold)
    val saltsPerConv = salted
      .groupBy("conversation_id")
      .agg(countDistinct(col("__salt")).as("n_salts"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // hot conversation fans out over multiple salt buckets → no single
    // task serializes it
    assert(saltsPerConv(megaConv) >= 4,
      s"mega conv must spread, got ${saltsPerConv(megaConv)} buckets")
    // every non-hot conversation keeps whole-conversation locality
    saltsPerConv.filterNot(_._1 == megaConv).foreach { case (c, n) =>
      assert(n === 1L, s"non-hot conv $c must map to one salt bucket")
    }
  }

  test("snapshot table: atomic commit, crash leaves previous snapshot readable") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-snap")
    val table = new graft.table.SnapshotParquetTable(s"$tmp/t")
    val s0 = table.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    assert(s0.id === 0L)
    assert(table.read(spark).count() === 2L)
    // simulate a crashed commit: data dir written, pointer NOT swapped
    Seq((9, "x")).toDF("id", "v").write
      .parquet(s"$tmp/t/snap-00001")
    assert(table.read(spark).count() === 2L, "reader must see old snapshot")
    // next commit skips the orphaned id and swaps atomically
    val s2 = table.commit(Seq((3, "c"), (4, "d"), (5, "e")).toDF("id", "v"))
    assert(s2.id === 2L)
    assert(table.read(spark).count() === 3L)
    assert(table.currentSnapshot(spark).map(_.id) === Some(2L))
    // auto-expiry (retain 2): a third commit reaps the oldest dirs so
    // the table does not grow by one corpus copy per commit
    table.commit(Seq((6, "f")).toDF("id", "v"))
    val snaps = java.nio.file.Files.list(
      java.nio.file.Paths.get(s"$tmp/t")).toArray.map(_.toString)
      .filter(_.contains("snap-")).sorted
    assert(snaps.map(_.split('/').last).toSeq ===
      Seq("snap-00002", "snap-00003"))
    assert(table.read(spark).count() === 1L)
    // time travel: retained snapshots readable by id (VERSION AS OF);
    // expired ones fail loud with the retained list
    assert(table.snapshots(spark).map(_.id) === Seq(2L, 3L))
    assert(table.readAt(spark, 2L).count() === 3L)
    assert(table.readAt(spark, 3L).count() === 1L)
    val gone = intercept[java.util.NoSuchElementException] {
      table.readAt(spark, 0L)
    }
    assert(gone.getMessage.contains("retained: 2, 3"))
  }

  test("snapshot table: a staged snapshot stays invisible until published") {
    import spark.implicits._
    val root = s"${java.nio.file.Files.createTempDirectory("graft-stage")}/idx"
    val table = new graft.table.SnapshotParquetTable(root)
    def entries(n: Int) = (1 to n).map(i =>
      Lineage.ThreadEntry(s"c$i", i.toLong, 0L, 1L)).toDF()
    // staged, never published (a crash before the pointer swap)
    val orphan = table.stage(entries(1))
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(orphan.dataPath)))
    assert(!Lineage.threadIndexExists(spark, root))
    intercept[java.util.NoSuchElementException](table.read(spark))
    intercept[java.util.NoSuchElementException](
      Lineage.readThreadIndex(spark, root))
    // the next commit takes a fresh id, not the orphan's
    val s1 = table.commit(entries(2))
    assert(s1.id === orphan.id + 1)
    assert(Lineage.readThreadIndex(spark, root).count() === 2L)
    // a staged successor is invisible next to a published snapshot too
    val s2 = table.stage(entries(3))
    assert(Lineage.threadIndexExists(spark, root))
    assert(table.currentSnapshot(spark) === Some(s1))
    assert(Lineage.readThreadIndex(spark, root).count() === 2L)
    assert(table.read(spark).count() === 2L)
    // publish swaps the pointer; expiry (retain 2) reaps the orphan
    assert(table.publish(spark, s2) === s2)
    assert(Lineage.readThreadIndex(spark, root).count() === 3L)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(orphan.dataPath)))
    assert(table.snapshots(spark).map(_.id) === Seq(s1.id, s2.id))
  }

  test("parse --resume after an unpublished index stage: same skips, same rewrites") {
    import scala.jdk.CollectionConverters._
    val work = java.nio.file.Files.createTempDirectory("graft-crash")
    def raw(n: Int): String = {
      val f = work.resolve(s"raw-$n.jsonl")
      java.nio.file.Files.write(f, (TranscriptGen.renderRawJsonl(
        TranscriptGen.synthesize(spark, n)).collect().mkString("\n") + "\n")
        .getBytes("UTF-8"))
      f.toString
    }
    val (base, grown) = (raw(20), raw(22))
    /** parse `base`, optionally stage (never publish) `grown`'s index
      * as a run that crashed before its pointer swap would, delete the
      * JSONL tree, resume on `grown`: (stdout report, rewritten threads) */
    def resume(out: String, crash: Boolean): (String, Set[String]) = {
      assert(graft.app.Main.run(Array("parse", "--input", base,
        "--outdir", out)) === 0)
      if (crash) {
        val ahead = s"$out-ahead"
        assert(graft.app.Main.run(Array("parse", "--input", grown,
          "--outdir", ahead)) === 0)
        new graft.table.SnapshotParquetTable(s"$out/openai/thread_index")
          .stage(Lineage.readThreadIndex(spark, s"$ahead/openai/thread_index"))
      }
      def jsonlThreads = java.nio.file.Files.list(java.nio.file.Paths.get(
        s"$out/openai")).iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("thread-")).toSet
      jsonlThreads.foreach { t =>
        val d = java.nio.file.Paths.get(s"$out/openai/$t")
        java.nio.file.Files.delete(d.resolve("parsed.jsonl"))
        java.nio.file.Files.delete(d)
      }
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        assert(graft.app.Main.run(Array("parse", "--input", grown,
          "--outdir", out, "--resume")) === 0)
      }
      (buf.toString("UTF-8"), jsonlThreads)
    }
    val (clean, cleanThreads) = resume(s"$work/clean", crash = false)
    val (crashed, crashedThreads) = resume(s"$work/crashed", crash = true)
    assert(clean.contains(""""skipped_threads":20,"""), clean)
    assert(crashed.contains(""""skipped_threads":20,"""), crashed)
    assert(cleanThreads.size === 2)
    assert(crashedThreads === cleanThreads)
  }

  test("exactly one turn_idx == 0 per surviving conversation (bench invariant)") {
    // Bench derives its pipeline thread count as Σ count(turn_idx == 0)
    // riding the routed grouped agg — this pins the invariant that
    // makes that correct, on BOTH parse paths, including conversations
    // whose ORIGINAL first turn was null-ts-dropped (turn_idx must
    // re-to zero-base on the survivors)
    val lines = TranscriptGen.renderRawJsonl(synth)
    val genericRaw = spark.read
      .schema(graft.model.Schemas.rawConversationSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(lines)
    for ((name, parsed) <- Seq(
        "fast" -> graft.parse.FastTranscriptParser.parseLines(
          lines.toDF("line")),
        "generic" -> TurnOrdering.withTurnIdx(
          ChatGptParser.normalize(genericRaw)))) {
      val r = parsed.agg(
        count(when(col("turn_idx") === 0, 1)),
        countDistinct(col("conversation_id"))).head()
      assert(r.getLong(0) === r.getLong(1),
        s"$name path: first-turn count ${r.getLong(0)} != " +
          s"distinct conversations ${r.getLong(1)}")
    }
  }

  test("incremental dedup history loop: batch 2 drops batch 1's docs") {
    import spark.implicits._
    val store = new graft.table.FingerprintStore(
      java.nio.file.Files.createTempDirectory("graft-fps").toString)
    // batch 1: two distinct texts, one within-batch duplicate
    val b1 = Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha"))
      .toDF("doc_id", "text")
    val r1 = graft.ops.Dedup.incrementalIngest(b1, store)
      .collect().map(_.getLong(0)).sorted
    assert(r1.toSeq === Seq(1L, 2L)) // first occurrence per fp
    // batch 2: batch 1's texts reappear (must be dropped against the
    // UPDATED history — this is the write-back being exercised) plus
    // one genuinely new text
    val b2 = Seq((10L, "alpha"), (11L, "beta"), (12L, "gamma"))
      .toDF("doc_id", "text")
    val r2 = graft.ops.Dedup.incrementalIngest(b2, store)
      .collect().map(_.getLong(0)).toSeq
    assert(r2 === Seq(12L), s"history failed to drop batch-1 dups: $r2")
    // steady state: the store now holds exactly the 3 distinct fps,
    // and a third run of already-seen texts accepts nothing
    assert(store.read(spark).distinct().count() === 3L)
    val r3 = graft.ops.Dedup.incrementalIngest(
      Seq((20L, "gamma"), (21L, "alpha")).toDF("doc_id", "text"), store)
    assert(r3.count() === 0L)
    // each run appended one bounded batch dir, atomically committed
    assert(store.committed(spark) === (0L, 3L))
    // compaction merges the batch log into one deduped dir and keeps
    // the dedup contract intact for subsequent runs
    store.compact(spark)
    assert(store.committed(spark) === (3L, 1L))
    assert(store.read(spark).count() === 3L) // distinct after compact
    val r4 = graft.ops.Dedup.incrementalIngest(
      Seq((30L, "beta"), (31L, "delta")).toDF("doc_id", "text"), store)
    assert(r4.collect().map(_.getLong(0)).toSeq === Seq(31L))
  }
}
