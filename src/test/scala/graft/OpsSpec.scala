package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{CorpusStats, Dedup, Hyperplanes, Similarity, TextAnalysis}

/** Semantics tests for the training-data operators (cross-engine
  * value parity is covered by the driver's DuckDB oracle; these pin
  * the operator-level invariants). */
class OpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
  private lazy val embs = spark.read.parquet(s"$sf/embeddings.parquet")

  test("exact dedup: identical texts cluster, distinct texts don't") {
    import spark.implicits._
    val d = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val clusters = Dedup.exactClusters(d).collect()
    assert(clusters.length === 2)
    val dup = clusters.find(_.getLong(1) == 2L).get
    assert(dup.getLong(2) === 1L) // canonical = min doc_id
  }

  test("ngram jaccard: identical docs → 1.0, disjoint docs absent") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e f"), (2L, "a b c d e f"),
      (3L, "q w e r t y u")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(d, minJaccard = 0.1).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getLong(0) === 1L && pairs.head.getLong(1) === 2L)
    assert(pairs.head.getDouble(2) === 1.0)
  }

  test("unicode normalize: forms, passthrough, codegen'd plan") {
    import spark.implicits._
    val deco = "cafe\u0301"   // e + combining acute
    val pre = "caf\u00e9"     // precomposed e-acute
    val full = "\uFF21\uFF22" // full-width AB (compatibility)
    val d = Seq((1L, deco), (2L, pre), (3L, full), (4L, null))
      .toDF("id", "s")
    val got = d.select(
      graft.functions.unicode_normalize(col("s"), "NFC").as("nfc"),
      graft.functions.unicode_normalize(col("s"), "NFD").as("nfd"),
      graft.functions.unicode_normalize(col("s"), "NFKC").as("nfkc"))
      .collect()
    assert(got(0).getString(0) === pre)   // NFC composes
    assert(got(1).getString(1) === deco)  // NFD decomposes
    assert(got(0).getString(1) === deco)
    assert(got(2).getString(0) === full)  // NFC keeps compatibility chars
    assert(got(2).getString(2) === "AB")  // NFKC folds them
    assert(got(3).isNullAt(0))            // null-safe
    val plan = d.select(graft.functions.unicode_normalize(col("s")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"))
    intercept[IllegalArgumentException] {
      graft.functions.unicode_normalize(col("s"), "NOPE")
    }
  }

  test("incremental dedup: history dups and batch dups excluded, firsts kept") {
    import spark.implicits._
    val history = Seq("old one", "old two")
      .toDF("text").select(md5(col("text").cast("binary")).as("fp"))
    val batch = Seq(
      (10L, "fresh a"), (11L, "old one"), // cross-run duplicate
      (12L, "fresh b"), (13L, "fresh a"), // within-batch duplicate
      (14L, "fresh c")).toDF("doc_id", "text")
    val got = Dedup.incrementalNew(batch, history)
      .orderBy("doc_id").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(10L, 12L, 14L))
    // fingerprints are the md5 of the text, so history can be extended
    // by unioning the accepted rows — the steady-state loop
    val accepted = got.map(_.getString(1)).toSet
    assert(accepted ===
      batch.filter(col("doc_id").isin(10L, 12L, 14L))
        .select(md5(col("text").cast("binary"))).as[String].collect().toSet)
  }

  test("profile: nulls/distinct/minmax per column; input scanned once") {
    import spark.implicits._
    val d = Seq((1L, "a", null), (2L, "b", "x"), (3L, "a", "x"))
      .toDF("id", "s", "t")
    val p = CorpusStats.profile(d, Seq("id", "s", "t"))
    val by = p.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))).toMap
    assert(by("id") === ((0L, 3L, "1", "3")))
    assert(by("s") === ((0L, 2L, "a", "b")))
    assert(by("t") === ((1L, 1L, "x", "x")))
    // one scan: exactly one relation/file source in the plan
    val plan = p.queryExecution.optimizedPlan.toString
    assert("LocalRelation|Relation".r.findAllMatchIn(plan).size <= 1,
      s"profile must not multi-scan the input:\n$plan")
  }

  test("unigram logprob: hand-computed probabilities; rare tokens score higher") {
    import spark.implicits._
    // corpus tokens: a a a b  → p(a)=3/4, p(b)=1/4
    val d = Seq((1L, "a a a"), (2L, "b")).toDF("doc_id", "text")
    val got = CorpusStats.unigramLogProb(d).orderBy("doc_id").collect()
    assert(got(0).getDouble(1) ===
      BigDecimal(-math.log(0.75)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got(1).getDouble(1) ===
      BigDecimal(-math.log(0.25)).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got(0).getLong(2) === 3L && got(1).getLong(2) === 1L)
    // gibberish (all-unique tokens) scores above natural repetition
    val corpus = Seq(
      (1L, "the cat sat on the mat and the cat sat again"),
      (2L, "zq wv xj kp fh bn dm")).toDF("doc_id", "text")
    val s = CorpusStats.unigramLogProb(corpus).orderBy("doc_id").collect()
    assert(s(1).getDouble(1) > s(0).getDouble(1))
  }

  test("temperature mix: alpha<1 flattens shares; alpha=1 is plain sampling") {
    import spark.implicits._
    // 9:1 source imbalance
    val d = (0L until 1000L).map(i =>
      (i, if (i % 10 == 0) "rare" else "hot")).toDF("doc_id", "source")
    val mixed = CorpusStats.temperatureMix(d, alpha = 0.5,
      targetFraction = 0.5)
    val bys = mixed.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rareShareBefore = 0.1
    val rareShareAfter =
      bys("rare").toDouble / (bys("rare") + bys("hot"))
    assert(rareShareAfter > rareShareBefore,
      s"alpha=0.5 must upweight the rare source, got $rareShareAfter")
    // total stays close to targetFraction (hash-bucket granularity)
    val kept = bys.values.sum.toDouble / 1000
    assert(kept > 0.4 && kept < 0.6, s"kept=$kept")
    // alpha=1: keep_rate identical per source == global rate
    val flat = CorpusStats.temperatureMix(d, alpha = 1.0,
      targetFraction = 0.5)
    val rates = flat.select("keep_rate").distinct().as[Double].collect()
    assert(rates.toSeq === Seq(0.5))
  }

  test("minhash LSH: identical docs are candidates with est_sim 1.0") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "one two three four five six")).toDF("doc_id", "text")
    val cand = Dedup.minhashLshCandidates(d).collect()
    assert(cand.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(cand.head.getDouble(2) === 1.0)
  }

  test("simhash: identical docs at hamming 0; candidates found on corpus") {
    import spark.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely unrelated words nothing shared here at all folks"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(d, maxHamming = 0).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((1L, 2L)))
    // near-identical text → small hamming distance
    val near = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappX " * 5))
      .toDF("doc_id", "text")
    val nearPairs = Dedup.simhashPairs(near, maxHamming = 16).collect()
    assert(nearPairs.length === 1 && nearPairs.head.getInt(2) <= 16)
  }

  test("word shingles keep trailing empty tokens (split limit -1 parity)") {
    import spark.implicits._
    // doc 1 ends in \n → Spark split / DuckDB string_split_regex yield a
    // trailing "" token; the codegen'd shingler must agree
    val d = Seq((1L, "a b c\n"), (2L, "x y z")).toDF("doc_id", "text")
    val ours = d.select(col("doc_id"),
      graft.functions.word_shingles(col("text"), 2).as("sh"))
    val a = ours.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    // "a b c\n" → tokens [a, b, c, ""] (trailing empty KEPT) → 2-shingles
    assert(a(1L) === Seq("a b", "b c", "c "))
    assert(a(2L) === Seq("x y", "y z"))
  }

  test("minhash LSH: signature table is computed once (persisted)") {
    val plan = Dedup.minhashLshCandidates(docs.limit(50))
      .queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      s"signature table must be cached, not recomputed per branch:\n$plan")
  }

  test("ngram repetition: known counts, degenerate docs, zero-shuffle plan") {
    import spark.implicits._
    // "a b a b a" → 2-grams [a b, b a, a b, b a]: n=4, max=2, dup=4
    val d = Seq((1L, "a b a b a"), (2L, "x"), (3L, ""))
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) === 4L)
    assert(r(1L).getDouble(2) === 0.5)   // top frac 2/4
    assert(r(1L).getDouble(3) === 1.0)   // dup frac 4/4
    assert(!r(1L).getBoolean(4))
    // <k tokens → zero n-grams, fracs 0, gate passes
    Seq(2L, 3L).foreach { id =>
      assert(r(id).getLong(1) === 0L && r(id).getDouble(2) === 0.0 &&
        r(id).getBoolean(4))
    }
    // NULL text counts as an empty doc (oracle LEFT JOIN convention)
    val withNull = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(9L, null)),
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long").add("text", "string"))
    val rn = TextAnalysis.repetitionStats(withNull).collect().head
    assert(rn.getLong(1) === 0L && rn.getDouble(2) === 0.0 &&
      rn.getBoolean(4))
    val plan = TextAnalysis.repetitionStats(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"repetition stats must be a narrow map (no shuffle):\n$plan")
  }

  test("corpus filter: fused gates equal joined components; zero-shuffle plan") {
    val fused = TextAnalysis.corpusFilter(docs)
    val joined = TextAnalysis.qualityScore(docs)
      .select(col("doc_id"), col("keep").as("keep_quality"))
      .join(TextAnalysis.repetitionStats(docs)
        .select(col("doc_id"), col("keep_rep")), "doc_id")
      .join(TextAnalysis.langId(docs)
        .select(col("doc_id"),
          (col("lang_guess") === "en").as("keep_lang")), "doc_id")
      .select(col("doc_id"), col("keep_quality"), col("keep_rep"),
        col("keep_lang"),
        (col("keep_quality") && col("keep_rep") && col("keep_lang"))
          .as("keep"))
    assert(fused.exceptAll(joined).count() === 0L)
    assert(joined.exceptAll(fused).count() === 0L)
    val plan = fused.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"the composite filter must stay one narrow pass (no joins, no " +
        s"shuffle):\n$plan")
  }

  test("top ngrams: multiplicity counts, deterministic ties, top-k plan") {
    import spark.implicits._
    // "a b":3 total (twice in doc 1, once in doc 2); ties sort by ngram
    val d = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val top = CorpusStats.topNgrams(d, k = 2, topN = 3).collect()
    assert(top.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
    val plan = CorpusStats.topNgrams(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-N must be a bounded heap, not a global sort:\n$plan")
  }

  test("pii scrub: emails/phones counted and redacted; hash of scrubbed text") {
    import spark.implicits._
    val d = Seq(
      (1L, "write to alice@example.org or bob.smith@mail.co today"),
      (2L, "call 555-0199 now"),
      (3L, "clean text")).toDF("doc_id", "text")
    val r = TextAnalysis.piiScrub(d).collect()
      .map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getLong(1) === 2L && r(1L).getLong(2) === 0L)
    assert(r(2L).getLong(1) === 0L && r(2L).getLong(2) === 1L)
    assert(r(3L).getLong(1) === 0L && r(3L).getLong(2) === 0L)
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = md.digest("call [PHONE] now".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(r(2L).getString(3) === expected)
  }

  test("decontamination: injected overlap found; eval side broadcast") {
    import spark.implicits._
    val train = Seq(
      (1L, "one two three four five"),
      (2L, "totally different words appear here now")).toDF("doc_id", "text")
    val eval = Seq((100L, "one two three four five")).toDF("doc_id", "text")
    val r = CorpusStats.decontaminate(train, eval, k = 3,
      minOverlapFrac = 0.5).collect()
    assert(r.length === 1)
    assert(r.head.getLong(0) === 1L && r.head.getLong(1) === 100L &&
      r.head.getDouble(2) === 1.0)
    val plan = CorpusStats.decontaminate(docs, docs.limit(5))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the small eval side must broadcast (corpus never shuffles " +
        s"before the join):\n$plan")
  }

  test("as-of join: <= semantics, broadcast and merge variants agree") {
    import spark.implicits._
    import graft.ops.Temporal
    val facts = Seq((1L, 100L, "a"), (2L, 200L, "a"), (3L, 50L, "a"),
      (4L, 100L, "b"), (5L, 500L, "c"))
      .toDF("event_id", "ts_ms", "key")
    val changes = Seq(("a", 100L, 1.0), ("a", 150L, 2.0), ("b", 400L, 9.0))
      .toDF("key", "ts_ms", "rate")
    def rates(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Double]] =
      df.collect().map { r =>
        r.getAs[Long]("event_id") ->
          Option(r.getAs[Any]("rate")).map(_.asInstanceOf[Double])
      }.toMap
    val b = Temporal.asofJoinBroadcast(facts, changes, "key", "ts_ms", "rate")
    val expected = Map(
      1L -> Some(1.0),  // change at EXACTLY the fact ts is visible (<=)
      2L -> Some(2.0),  // latest of two past changes
      3L -> None,       // all changes in the future
      4L -> None,       // key exists, change in the future
      5L -> None)       // key has no changes at all
    assert(rates(b) === expected)
    val m = Temporal.asofJoinMerge(facts, changes, "key", "ts_ms", "rate")
    assert(rates(m) === expected)
    // null contract: null-key / null-ts / null-value change rows are
    // ignored by BOTH variants, and a null-key fact matches nothing
    val dirtyChanges = changes.unionByName(
      Seq((null.asInstanceOf[String], 10L, 7.0)).toDF("key", "ts_ms", "rate")
        .unionByName(spark.createDataFrame(
          java.util.List.of(
            org.apache.spark.sql.Row("a", null, 8.0),
            org.apache.spark.sql.Row("a", 120L, null)),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("key",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("ts_ms",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("rate",
              org.apache.spark.sql.types.DoubleType))))))
    val dirtyFacts = facts.unionByName(
      spark.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(6L, 100L, null)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts_ms",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("key",
            org.apache.spark.sql.types.StringType)))))
    val expectedDirty = expected + (6L -> None)
    assert(rates(Temporal.asofJoinBroadcast(
      dirtyFacts, dirtyChanges, "key", "ts_ms", "rate")) === expectedDirty)
    assert(rates(Temporal.asofJoinMerge(
      dirtyFacts, dirtyChanges, "key", "ts_ms", "rate")) === expectedDirty)
    // the broadcast variant must never shuffle the fact side: the only
    // exchange in the plan belongs to the dimension's tiny aggregation
    val plan = b.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("SortMergeJoin"),
      s"fact side must stay unshuffled behind a broadcast join:\n$plan")
  }

  test("hash sampling: deterministic, engine-portable bucket, rate edges") {
    import graft.ops.CorpusStats
    // 500 docs at sf0.001; expected counts pinned from the md5 definition
    val half = CorpusStats.hashSample(docs, col("doc_id"), lit(0.5))
    assert(half.count() === 250L)
    assert(CorpusStats.hashSample(docs, col("doc_id"), lit(0.1)).count()
      === 67L)
    // re-evaluation returns the identical membership (retry-stable)
    val a1 = half.select("doc_id").collect().map(_.getLong(0)).toSet
    val a2 = CorpusStats.hashSample(docs, col("doc_id"), lit(0.5))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a1 === a2)
    assert(CorpusStats.hashSample(docs, col("doc_id"), lit(1.0)).count()
      === docs.count())
    assert(CorpusStats.hashSample(docs, col("doc_id"), lit(0.0)).count()
      === 0L)
  }

  test("sequence packing: boundary semantics; two-pass equals naive window") {
    import spark.implicits._
    import graft.ops.CorpusStats
    import org.apache.spark.sql.expressions.Window
    // est_tokens = ceil(len/4): docs of 40 chars → 10 tokens each;
    // budget 25 → tokens_before 0,10,20,30,40 → seq 0,0,0,1,1
    val d = (0L to 4L).map(i => (i, "x" * 40, "s0")).toDF("doc_id", "text", "source")
    val packed = CorpusStats.packSequences(d, budgetTokens = 25,
      bucketSize = 2).orderBy("doc_id").collect()
    assert(packed.map(_.getAs[Long]("seq_id")).toSeq ===
      Seq(0L, 0L, 0L, 1L, 1L))
    // two-pass distributed prefix sum == naive per-source window cumsum
    // (corpus includes a null-source doc: it must form its own stratum,
    // not be dropped by the offsets join)
    val corpus = docs.unionByName(spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(90001L, "w " * 30, null, null, null)),
      docs.schema))
    def run(bucketSize: Long) = CorpusStats.packSequences(corpus,
      budgetTokens = 2048, bucketSize = bucketSize)
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val naive = corpus
      .select(col("doc_id"), col("source"),
        TextAnalysis.estBpeTokens(col("text")).as("est_tokens"))
      .withColumn("seq_id",
        floor(coalesce(sum(col("est_tokens")).over(w), lit(0L)) / 2048.0)
          .cast("long"))
    // result is bucketSize-invariant: explicit and auto-derived agree
    Seq(100L, 0L).foreach { bs =>
      val twoPass = run(bs)
      assert(twoPass.exceptAll(naive).count() === 0L,
        s"bucketSize=$bs diverges from naive")
      assert(naive.exceptAll(twoPass).count() === 0L,
        s"bucketSize=$bs misses rows vs naive")
    }
    // pass-2 offsets come back via a broadcast join, not a shuffle
    val plan = run(0L).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast back to the corpus side:\n$plan")
  }

  test("connected components: cliques, long paths, separate clusters") {
    import spark.implicits._
    // two components: a triangle {1,2,3} and a pair {10,11}
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val expected =
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L)
    // default (small graph → driver union-find fast path)
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc === expected)
    // distributed propagation path (fast path disabled): same contract
    val ccDist = Dedup.connectedComponents(pairs, localMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccDist === expected)
    // a long path forces multiple propagation rounds (diameter 6)
    val path = (1L to 6L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ccPath = Dedup.connectedComponents(path, localMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccPath === (1L to 7L).map(_ -> 1L).toMap)
    // empty pair table → empty result, not an NPE (both paths)
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty).count() === 0L)
    assert(Dedup.connectedComponents(empty, localMaxEdges = 0)
      .count() === 0L)
    // string ids must fail fast, not silently null-collapse
    intercept[IllegalArgumentException] {
      Dedup.connectedComponents(
        Seq(("a", "b")).toDF("doc_a", "doc_b"))
    }
  }

  test("connected components: a path past maxIter fails loud; union-find solves 1000 nodes") {
    import spark.implicits._
    // min-label propagation needs O(diameter) rounds: on a path it
    // must fail LOUD at maxIter (30 nodes / 5 rounds keeps this cheap)
    intercept[IllegalStateException] {
      Dedup.connectedComponents(
        (1L to 29L).map(i => (i, i + 1)).toDF("doc_a", "doc_b"),
        maxIter = 5, localMaxEdges = 0).count()
    }
    // the default-parameter route solves a 1,000-node path on the
    // driver fast path, whose union-find has no diameter bound
    val path = (1L to 999L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ccLocal = Dedup.connectedComponents(path).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ccLocal === (1L to 1000L).map(_ -> 1L).toMap)
  }

  test("connected components: equals union-find oracle on a random graph") {
    import spark.implicits._
    // deterministic pseudo-random multi-component graph (fixed seed),
    // checked against a driver-side union-find oracle: the propagation
    // loop and the driver fast path, one contract
    val rnd = new scala.util.Random(42)
    val nNodes = 400
    val edges = Seq.fill(300) {
      val a = rnd.nextInt(nNodes).toLong
      val b = rnd.nextInt(nNodes).toLong
      (a, b)
    }.filter { case (a, b) => a != b }
    // union-find oracle
    val parent = Array.tabulate(nNodes)(identity)
    def find(x: Int): Int = {
      var r = x; while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val touched = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val expected = touched
      .map(n => n -> touched.filter(m => find(m.toInt) == find(n.toInt))
        .min).toMap
    val pairsDf = edges.toDF("doc_a", "doc_b")
    val prop = Dedup.connectedComponents(pairsDf, localMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prop === expected)
    val local = Dedup.connectedComponents(pairsDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === expected)
  }

  test("embedding near-dup: blocked equi-join — no nested-loop, matches all-pairs") {
    val res = Dedup.embeddingNearDups(embs, minCosine = 0.3)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"blocked join must not plan a nested loop:\n$plan")
    // value equivalence vs the naive theta-join form (test-only)
    val a = embs.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = embs.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    val naive = a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(graft.functions.vec_dot(col("ea"), col("eb")) /
          (sqrt(graft.functions.vec_norm2(col("ea"))) *
            sqrt(graft.functions.vec_norm2(col("eb")))), 6).as("cos_sim"))
      .filter(col("cos_sim") >= 0.3)
    assert(res.exceptAll(naive).count() === 0L)
    assert(naive.exceptAll(res).count() === 0L)
  }

  test("embedding near-dup LSH: no false positives; measured recall vs exact") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Dedup.embeddingNearDups(embs, minCosine = 0.45))
    val lsh = pairs(Dedup.embeddingNearDupsLsh(embs, minCosine = 0.45,
      rowsPerBand = 4, nBands = 8))
    assert(lsh.subsetOf(exact), "exact-cosine verify ⇒ no false positives")
    assert(exact.nonEmpty)
    val recall = lsh.intersect(exact).size.toDouble / exact.size
    // deterministic for the fixed hyperplane matrix + sf0.001 corpus;
    // threshold 0.45 is BELOW the operator's design point (0.85+), so
    // this pins the honest low-threshold recall rather than claiming 1.0
    assert(recall >= 0.6, s"recall $recall")
  }

  test("ANN brute force: rank 1..5 per query, self excluded, descending sim") {
    val res = Similarity.bruteForceTopK(embs, k = 5, nQueries = 3).collect()
    assert(res.length === 15)
    val byQ = res.groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).toSeq === (1 to 5))
      assert(sorted.forall(r => r.getLong(1) != r.getLong(0)))
      val sims = sorted.map(_.getDouble(3)).toSeq
      assert(sims === sims.sorted.reverse)
    }
  }

  test("ANN IVF recall vs brute force within same cell") {
    val brute = Similarity.bruteForceTopK(embs, k = 1, nQueries = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = Similarity.ivfTopK(embs, k = 1, nQueries = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // IVF probes one cell: its hit is the brute-force hit whenever the
    // true NN shares the query's cell; both must return 5 queries
    assert(ivf.keySet === brute.keySet)
  }

  test("ANN LSH returns ranked candidates from shared buckets") {
    val res = Similarity.lshTopK(embs, nPlanes = 4, k = 5, nQueries = 3)
      .collect()
    assert(res.nonEmpty)
    assert(res.forall(r => r.getInt(2) >= 1 && r.getInt(2) <= 5))
  }

  test("approx profile (q44): HLL distinct estimates within tolerance, exact otherwise") {
    // distinct_ok is the in-query |approx - exact| ≤ tol·exact assert
    // (q14 pattern); the non-sketch columns must match exact q43
    val approx = graft.queries.TrainingDataQueries
      .profileApproxQ(spark, sf).collect()
    assert(approx.length === 5)
    approx.foreach(r => assert(r.getBoolean(2),
      s"approx_count_distinct out of tolerance for column ${r.getString(0)}"))
    val exact = graft.queries.TrainingDataQueries.profileQ(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getString(3), r.getString(4))).toMap
    approx.foreach { r =>
      val (nulls, mn, mx) = exact(r.getString(0))
      assert(r.getLong(1) === nulls && r.getString(3) === mn &&
        r.getString(4) === mx)
    }
  }

  test("approx percentile (q14): rank-error verdicts all true within sketch bound") {
    // the q14 query itself computes each approx value's EXACT rank via
    // a verification join and emits whether |rank/n - p| ≤ 1/accuracy —
    // all-true here (and vs the DuckDB oracle) IS the rank-error assert
    // against the exact q13 distribution
    val rows = graft.queries.AnalyticsQueries
      .pricePercentilesApprox(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      (2 to 5).foreach(i => assert(r.getBoolean(i),
        s"rank-error bound violated for group ${r.getString(0)} col $i"))
    }
  }

  test("asof merge: exactly one exchange, hash-partitioned on the key") {
    import spark.implicits._
    val facts = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"),
        unix_millis(col("ts").cast("timestamp")).as("ts_ms"),
        col("user_id"), col("value"))
    val changes = Seq((1L, 0L, 2.5), (2L, 1000L, 3.5))
      .toDF("user_id", "ts_ms", "rate")
    val out = graft.ops.Temporal.asofJoinMerge(
      facts, changes, "user_id", "ts_ms", "rate")
    val plan = out.queryExecution.executedPlan.toString
    val nEx = "Exchange".r.findAllMatchIn(plan).size
    assert(nEx === 1, s"sorted-merge as-of must shuffle ONCE on the key:\n$plan")
    assert(plan.contains("hashpartitioning(user_id"), plan)
  }

  test("gap sessions: a gap of exactly gapMs continues, a longer gap splits") {
    import spark.implicits._
    val gap = 60000L
    val t0 = 1700000000000L
    // user 1: a 30 s gap, then a 4.5-min gap (> gapMs: new session);
    // user 2: a gap of EXACTLY gapMs, which must not split
    val evts = Seq(
      (1L, t0), (1L, t0 + 30000L), (1L, t0 + 300000L),
      (2L, t0 + 10000L), (2L, t0 + 70000L))
    val got = graft.ops.Temporal.gapSessions(
        evts.toDF("user_id", "ts_ms"), "user_id", "ts_ms", gap)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .toSet
    assert(got === Set(
      (1L, 1L, 2L, t0, t0 + 30000L),
      (1L, 2L, 1L, t0 + 300000L, t0 + 300000L),
      (2L, 1L, 2L, t0 + 10000L, t0 + 70000L)))
  }

  test("cache hygiene: connectedComponents and pageRank leave no cached tables") {
    import spark.implicits._
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    // localMaxEdges = 0 forces the distributed loop — the path whose
    // cache hygiene this test exists to pin
    val labels = Dedup.connectedComponents(pairs, localMaxEdges = 0)
    assert(labels.collect().length === 5)
    // iters = 9 crosses the every-8th-round checkpoint boundary, so
    // both the persist and the localCheckpoint arms of the round loop
    // run (and both superseded vectors must be dropped)
    val pr = graft.ops.GraphOps.pageRank(
      embs.select("vec_id"),
      Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"),
      alphaPct = 85L, iters = 9)
    assert(pr.collect().nonEmpty)
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    // the two eager localCheckpoint snapshots of the RETURNED
    // results are the only persistent blocks allowed to remain (freed
    // by the ContextCleaner when the results are GC'd); the internal
    // edge / round-label / rank-vector caches must all be gone
    assert(leaked.size <= 2,
      s"internal caches leaked: ${leaked.size} persistent RDDs remain")
  }

  test("dup spans: cross-doc and within-doc window repeats; clean docs absent") {
    import spark.implicits._
    val bp = "alpha beta gamma delta epsilon zeta eta theta" // 8 tokens
    val rep = "r1 r2 r3 r4 r5 r6 r7 r8"
    val d = Seq(
      (1L, bp),                    // 1 window, duplicated with doc 2
      (2L, bp + " extraword"),     // 2 windows: bp dup, shifted unique
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8"), // 1 unique window → absent
      (4L, rep + " " + rep))       // 9 windows; first == ninth (self-dup)
      .toDF("doc_id", "text")
    val got = CorpusStats.dupSpans(d, k = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((1L, 1L)), 2L -> ((2L, 1L)),
      4L -> ((9L, 2L))))
  }

  test("perplexity buckets: quartile split is a monotone partition of scores") {
    val b = CorpusStats.perplexityBuckets(
      docs.select("doc_id", "text")).collect()
    assert(b.length === docs.count())
    def scores(bucket: String) =
      b.filter(_.getString(2) == bucket).map(_.getDouble(1))
    val (h, m, t) = (scores("head"), scores("middle"), scores("tail"))
    assert(h.nonEmpty && m.nonEmpty && t.nonEmpty)
    // buckets are ordered bands: every head score <= every middle
    // score <= every tail score
    assert(h.max <= m.min && m.max <= t.min)
    // quartile sizing — head ~25%, middle ~50%, tail ~25% (ties can
    // shift a boundary slightly)
    assert(h.length >= b.length / 5 && h.length <= b.length / 3)
    assert(t.length >= b.length / 5 && t.length <= b.length / 3)
    assert(m.length >= b.length / 3 && m.length <= 2 * b.length / 3)
  }

  test("cluster representatives: longest member wins, ties to min id") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L))
      .toDF("doc_id", "cluster_id")
    val d = Seq(
      (1L, "a b c"), (2L, "a b c d e"), // cluster 1: doc 2 longer
      (3L, "x y"), (4L, "p q"))         // cluster 3: tie → min id 3
      .toDF("doc_id", "text")
    val got = Dedup.clusterRepresentatives(clusters, d).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === Map(1L -> ((2L, 2L, 5L)), 3L -> ((3L, 2L, 2L))))
  }

  test("bloom incremental dedup: equals exact path; probe has no false negatives") {
    import spark.implicits._
    val history = (0L until 300L).map(i => s"hist text $i")
      .toDF("text").select(md5(col("text").cast("binary")).as("fp"))
    val batch = ((0L until 100L).map(i => (i, s"hist text ${i * 3}")) ++
      (100L until 300L).map(i => (i, s"fresh text $i")))
      .toDF("doc_id", "text")
    val exact = Dedup.incrementalNew(batch, history)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    val bloom = Dedup.incrementalNewBloom(batch, history, fpp = 0.01)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(bloom.toSeq === exact.toSeq)
    // the probe itself: every history fp tests positive (no false
    // negatives — the property that makes the pre-filter exact), and
    // the false-positive rate on fresh fps stays near the configured 1%
    val filt = history.stat.bloomFilter("fp", 300L, 0.01)
    val bos = new java.io.ByteArrayOutputStream()
    filt.writeTo(bos)
    val probe = graft.functions.bloom_might_contain(
      lit(bos.toByteArray), col("fp"))
    assert(history.filter(!probe).count() === 0L)
    val freshFps = (0L until 2000L).map(i => s"unseen $i").toDF("text")
      .select(md5(col("text").cast("binary")).as("fp"))
    val fpos = freshFps.filter(probe).count()
    assert(fpos <= 2000L * 0.05, s"false-positive count $fpos too high")
  }

  test("source report: per-source totals and keep share from the fused gate") {
    import spark.implicits._
    val keepText =
      "the alpha and the beta of the gamma to the delta is the epsilon"
    val d = Seq(
      (1L, keepText, "s1"),  // 14 tokens, en, passes every gate
      (2L, "x y z", "s1"),   // 3 tokens → fails the quality gate
      (3L, "p q", "s2"))     // 2 tokens → fails
      .toDF("doc_id", "text", "source")
    val got = CorpusStats.sourceReport(d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("s1").getLong(1) === 2L)            // n_docs
    assert(got("s1").getLong(2) === 17L)           // total_tokens
    assert(got("s1").getDouble(3) === 8.5)         // avg_tokens
    assert(got("s1").getLong(5) === 1L)            // n_keep
    assert(got("s1").getDouble(6) === 0.5)         // keep_frac
    assert(got("s2").getLong(1) === 1L &&
      got("s2").getLong(5) === 0L)
    // consistency with the per-doc composite filter (same predicate)
    val keeps = TextAnalysis.corpusFilter(d).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    assert(keeps === Map(1L -> true, 2L -> false, 3L -> false))
  }

  test("semantic dedup: one representative per near-dup cluster, rest dropped") {
    val keep = Dedup.semanticDedupKeep(embs, minCosine = 0.45,
        rowsPerBand = 4, nBands = 8)
      .collect().map(_.getLong(0)).toSet
    val pairs = Dedup.embeddingNearDupsLsh(embs, minCosine = 0.45,
        rowsPerBand = 4, nBands = 8)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // a near-dup pair never survives whole: at most one side is kept
    pairs.foreach { case (a, b) =>
      assert(!(keep(a) && keep(b)), s"pair ($a,$b) both kept")
    }
    // every vector not in any near-dup pair is kept
    val inPairs = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val all = embs.select("vec_id").collect().map(_.getLong(0)).toSet
    assert((all -- inPairs).subsetOf(keep))
    // at least one representative per connected pair-set survives
    assert(inPairs.exists(keep))
  }

  test("line dedup: boilerplate lines stripped, order kept, all-dropped docs absent") {
    import spark.implicits._
    val footer = "footer text"
    val d = Seq(
      (1L, s"body one\n$footer\ntail one"),
      (2L, s"body two\n$footer"),
      (3L, s"$footer"),           // only boilerplate → absent
      (4L, "body four"))          // untouched
      .toDF("doc_id", "text")
    val got = CorpusStats.lineDedup(d, maxDocFreq = 2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got === Map(
      1L -> ((3L, 2L, m("body one\ntail one"))),
      2L -> ((2L, 1L, m("body two"))),
      4L -> ((1L, 1L, m("body four")))))
  }

  test("bpe pair counts: frequency-weighted pairs over the vocabulary") {
    import spark.implicits._
    val d = Seq((1L, "ab ab cd abc"), (2L, "ab Cd2 xy a"))
      .toDF("doc_id", "text")
    // vocabulary: ab×3, cd×1, abc×1, xy×1 ("Cd2" has a digit after
    // lower(), "a" is length-1 — both filtered)
    val got = CorpusStats.bpePairCounts(d.select("text")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("ab" -> 4L, "bc" -> 1L, "cd" -> 1L, "xy" -> 1L))
  }

  test("hard negatives: equals driver recompute; every row crosses labels") {
    val res = Similarity.hardNegatives(embs, nPlanes = 4, k = 5,
      nQueries = 10).collect()
    assert(res.nonEmpty)
    // every returned neighbor has a different label, ranks are
    // consecutive from 1, sims descend within each anchor
    res.foreach(r => assert(r.getInt(1) != r.getInt(3), r.toString))
    res.groupBy(_.getLong(0)).values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(4))
      assert(sorted.map(_.getInt(4)).toSeq === (1 to rows.length))
      val sims = sorted.map(_.getDouble(5)).toSeq
      assert(sims === sims.sorted.reverse)
    }
    // full driver recompute of the algorithm (buckets from the same
    // literal hyperplane matrix, cross-label in-bucket top-5)
    val all = embs.collect().map { r =>
      val v = r.getSeq[Float](1).toArray
      (r.getLong(0), v, r.getInt(2))
    }
    val planes = (0 until 4).map(p => Hyperplanes.plane(p, 64))
    def bucket(v: Array[Float]): Int =
      planes.zipWithIndex.map { case (h, i) =>
        val d = (0 until 64).map(j => v(j).toDouble * h(j)).sum
        if (d > 0) 1 << i else 0
      }.sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        (0 until 64).map(j => x(j).toDouble * y(j)).sum
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byBucket = all.groupBy(e => bucket(e._2))
    val expected = all.filter(_._1 < 10).flatMap { case (qid, qv, ql) =>
      byBucket(bucket(qv))
        .filter(c => c._1 != qid && c._3 != ql)
        .map(c => (qid, c._1, cos(qv, c._2)))
        .sortBy(t => (-t._3, t._2)).take(5)
        .zipWithIndex.map { case ((q, n, s), i) => (q, n, i + 1, s) }
    }.toSet
    val got = res.map(r =>
      (r.getLong(0), r.getLong(2), r.getInt(4), r.getDouble(5))).toSet
    assert(got === expected)
  }

  test("source prune: per-source quantile thresholds and keep flags") {
    import spark.implicits._
    // source A ratios: 0, 0.3333, 0.6667, 1.0 → 25th pct (R-7):
    // 0 + 0.75·0.3333 = 0.249975; keeps the top three docs
    // source B: both docs at 0.5 → threshold 0.5, both keep
    val d = Seq(
      (1L, "A", "x y z"),
      (2L, "A", "the x y"),
      (3L, "A", "the a x"),
      (4L, "A", "the a of"),
      (5L, "B", "the x"),
      (6L, "B", "the y"))
      .toDF("doc_id", "source", "text")
    val got = CorpusStats.sourceQuantilePrune(d, q = 0.25).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got === Map(
      1L -> ((0.0, 0.249975, false)),
      2L -> ((0.3333, 0.249975, true)),
      3L -> ((0.6667, 0.249975, true)),
      4L -> ((1.0, 0.249975, true)),
      5L -> ((0.5, 0.5, true)),
      6L -> ((0.5, 0.5, true))))
  }

  test("chunking: window boundaries, overlap, trailing short chunk") {
    import spark.implicits._
    val d = Seq((1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), (2L, "a b"))
      .toDF("doc_id", "text")
    // chunk 4, overlap 1 → stride 3: starts 1,4,7,10
    val got = CorpusStats.chunkDocs(d, chunkTokens = 4, overlap = 1)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getLong(2), r.getString(3)))).toMap
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got === Map(
      (1L, 0) -> ((4L, m("t0 t1 t2 t3"))),
      (1L, 1) -> ((4L, m("t3 t4 t5 t6"))),
      (1L, 2) -> ((4L, m("t6 t7 t8 t9"))),
      (1L, 3) -> ((1L, m("t9"))),
      (2L, 0) -> ((2L, m("a b")))))
  }

  test("corpus diff: added/removed/changed/unchanged by content hash") {
    import spark.implicits._
    val old = Seq((1L, "same"), (2L, "will change"), (3L, "gone"))
      .toDF("doc_id", "text")
    val nw = Seq((1L, "same"), (2L, "did change"), (4L, "new doc"))
      .toDF("doc_id", "text")
    val got = CorpusStats.corpusDiff(old, nw).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("quality classifier: hand-computed logistic score and threshold") {
    import spark.implicits._
    val d = Seq((1L, "the a of"), (2L, "x, y! z; w: q.")).toDF("doc_id", "text")
    val got = TextAnalysis.qualityClassifier(d).collect()
      .map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getBoolean(5)))).toMap
    def score(stop: Double, mtl: Double, punct: Double, nt: Long) = {
      val z = -2.0 + 6.0 * stop + 0.3 * mtl - 4.0 * punct +
        0.2 * math.log(nt + 1.0)
      BigDecimal(1.0 / (1.0 + math.exp(-z)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    // doc 1: nt=3, 3 stopwords, len 8 → mtl 2.6667, no punct
    val s1 = score(1.0, 2.6667, 0.0, 3)
    // doc 2: nt=5, 0 stopwords, len 14 → mtl 2.8, 5 punct → ratio 1.0
    val s2 = score(0.0, 2.8, 1.0, 5)
    assert(got === Map(
      1L -> ((1.0, 2.6667, 0.0, s1, s1 >= 0.5)),
      2L -> ((0.0, 2.8, 1.0, s2, s2 >= 0.5))))
    assert(got(1L)._5 && !got(2L)._5) // the weights separate these two
  }

  test("c4 filter: every line and document rule branch, hand-computed") {
    import spark.implicits._
    val good = "this line ends with a period."   // survives
    val short = "too short here."                // <5 words
    val noPunct = "five words but no terminal punct" // no [.!?"]$
    val js = "enable javascript to view this page!" // javascript
    val d = Seq(
      // 3 kept lines, clean doc → keep
      (1L, s"$good\n$good\n$good\n$short"),
      // only 2 kept → drop
      (2L, s"$good\n$good\n$noPunct\n$js"),
      // 3 kept but lorem → drop
      (3L, s"$good\n$good\n$good\nlorem ipsum dolor"),
      // 3 kept but brace → drop
      (4L, s"$good\n$good\n$good\nif (x) { return; }"),
      // empty-ish: nothing kept
      (5L, "")).toDF("doc_id", "text")
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = TextAnalysis.c4Filter(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4), r.getBoolean(5),
        r.getString(6)))).toMap
    val three = m(Seq(good, good, good).mkString("\n"))
    assert(got === Map(
      1L -> ((4L, 3L, false, false, true, three)),
      2L -> ((4L, 2L, false, false, false, m(Seq(good, good).mkString("\n")))),
      3L -> ((4L, 3L, true, false, false, three)),
      // doc 4's brace line also fails the line rules (no terminal
      // punct after trim? it ends '}' → fails [.!?"]$), so kept = 3
      4L -> ((4L, 3L, false, true, false, three)),
      5L -> ((1L, 0L, false, false, false, m("")))))
  }

  test("bigram logprob: hand-computed smoothed conditionals") {
    import spark.implicits._
    // corpus: "a b a b" and "a a". tokens: a×4, b×2 → V = 2
    // bigrams: (a,b)×2, (b,a)×1, (a,a)×1
    val d = Seq((1L, "a b a b"), (2L, "a a")).toDF("doc_id", "text")
    val got = CorpusStats.bigramLogProb(d).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pAB = (2.0 + 1) / (4 + 2) // c2(a,b)=2, c1(a)=4, V=2
    val pBA = (1.0 + 1) / (2 + 2)
    val pAA = (1.0 + 1) / (4 + 2)
    // doc 1: bigrams (a,b),(b,a),(a,b)
    val s1 = r6((-math.log(pAB) - math.log(pBA) - math.log(pAB)) / 3)
    val s2 = r6(-math.log(pAA) / 1)
    assert(got === Map(1L -> ((s1, 3L)), 2L -> ((s2, 1L))))
    // shuffled text scores worse than natural order on a larger corpus
    // is a statistical property, not asserted here; the oracle (q70)
    // pins cross-engine equality at sf0.01.
  }

  test("bpe train: classic low/lower/newest merges, hand-computed") {
    import spark.implicits._
    val d = Seq("low low low lower lower newest").toDF("text")
    val got = CorpusStats.bpeTrain(d, nMerges = 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    // iter0: (l,o)=5 ties (o,w)=5 → lexicographic l < o
    // iter1: (lo,w)=5
    // iter2: (low,</w>)=3 beats (w,e)=3? no — (w,e) was consumed by
    //        iter1's merge in low/lower; remaining: (low,</w>)=3,
    //        (low,e)=2, (e,r)=2, (r,</w>)=2, newest pairs = 1 each
    // iter3: tie (e,r)/(low,e)/(r,</w>) at 2 → 'e' < 'low' < 'r'
    assert(got === Seq(
      (0, "l", "o", 5L),
      (1, "lo", "w", 5L),
      (2, "low", "</w>", 3L),
      (3, "e", "r", 2L)))
    // consecutive-occurrence merge: 'a a a a' must become 'aa aa',
    // not 'aa a a' (the double-space trick under test)
    val d2 = Seq("aaaa aaaa").toDF("text")
    val m2 = CorpusStats.bpeTrain(d2, nMerges = 2).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    // iter0: (a,a)=6 (leftmost non-overlap pairs: 3 per word × 2)...
    // counting is per ADJACENT POSITION: a-a-a-a has 3 adjacencies,
    // ×2 words = 6. merge → 'aa aa </w>' per word.
    // iter1: (aa,aa)=2 vs (aa,</w>)=2 → lexicographic: 'aa aa' < 'aa </w>'?
    // compare rhs: 'aa' vs '</w>': '<'(0x3c) < 'a'(0x61) → (aa,</w>) wins
    assert(m2(0) === ((0, "a", "a", 6L)))
    assert(m2(1) === ((1, "aa", "</w>", 2L)))
  }

  test("roc auc: hand-computed U statistic with ties, both extremes") {
    import spark.implicits._
    def auc(rows: Seq[(Double, Boolean)]): Double = {
      val d = rows.toDF("s", "y")
      TextAnalysis.rocAuc(d, "s", "y").collect().head.getDouble(2)
    }
    // perfect separation and perfect inversion
    assert(auc(Seq((0.9, true), (0.8, true), (0.2, false))) === 1.0)
    assert(auc(Seq((0.1, true), (0.9, false))) === 0.0)
    // ties count half: pos {0.5, 0.9}, neg {0.5, 0.1}
    // pairs: (0.5 vs 0.5)=½, (0.5 vs 0.1)=1, (0.9 vs 0.5)=1,
    //        (0.9 vs 0.1)=1 → 3.5/4 = 0.875
    assert(auc(Seq((0.5, true), (0.9, true), (0.5, false),
      (0.1, false))) === 0.875)
    // quantization at 1e-3 merges 0.1234 and 0.123401 into one bucket
    // (tie), but separates 0.124: (½·2 + 2)/4 = 0.75
    assert(auc(Seq((0.123400, true), (0.124000, true),
      (0.123401, false), (0.123401, false))) ===
      BigDecimal(3.0 / 4).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble)
    // counts surface: n_pos/n_neg
    val r = TextAnalysis.rocAuc(
      Seq((0.5, true), (0.4, false), (0.3, false)).toDF("s", "y"),
      "s", "y").collect().head
    assert((r.getLong(0), r.getLong(1)) === ((1L, 2L)))
  }

  test("centroid outliers: equals driver recompute, planted outlier flagged") {
    import spark.implicits._
    // label 0: five vectors near +x plus one pointing -x (the outlier);
    // label 1: a tight +y cluster (2σ of a tight cluster still flags
    // nothing when all members are equally close)
    val vecs = Seq(
      (1L, Array(1.0f, 0.1f, 0.0f), 0), (2L, Array(1.0f, -0.1f, 0.0f), 0),
      (3L, Array(0.9f, 0.0f, 0.1f), 0), (4L, Array(0.9f, 0.0f, -0.1f), 0),
      (5L, Array(1.0f, 0.0f, 0.0f), 0), (6L, Array(-1.0f, 0.0f, 0.0f), 0),
      (7L, Array(0.0f, 1.0f, 0.1f), 1), (8L, Array(0.0f, 1.0f, -0.1f), 1),
      (9L, Array(0.1f, 1.0f, 0.0f), 1), (10L, Array(-0.1f, 1.0f, 0.0f), 1))
    val d = vecs.toDF("vec_id", "embedding", "label")
    val got = Similarity.centroidOutliers(d).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getBoolean(3)))).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val byLabel = vecs.groupBy(_._3)
    val cents = byLabel.map { case (l, vs) =>
      l -> (0 until 3).map(i =>
        r6(vs.map(_._2(i).toDouble).sum / vs.size)).toArray
    }
    val cos = vecs.map { case (id, v, l) =>
      val c = cents(l)
      val dot = v.map(_.toDouble).zip(c).foldLeft(0.0) {
        case (a, (x, y)) => a + x * y }
      val ne = math.sqrt(v.foldLeft(0.0)((a, x) => a + x.toDouble * x))
      val nc = math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x))
      (id, l, r6(dot / (ne * nc)))
    }
    val thrs = cos.groupBy(_._2).map { case (l, xs) =>
      val m = xs.map(_._3).sum / xs.size
      val sd = math.sqrt(
        xs.map(x => (x._3 - m) * (x._3 - m)).sum / (xs.size - 1))
      l -> r6(m - 2.0 * sd)
    }
    cos.foreach { case (id, l, c) =>
      assert(got(id) === ((c, c < thrs(l))), s"vec $id")
    }
    assert(got(6L)._2, "planted -x vector must be the outlier")
    assert(got.count(_._2._2) === 1, "exactly one outlier in the fixture")
  }

  test("code blocks: pairing, lang hints, empty block, unmatched fence") {
    import spark.implicits._
    val doc1 = Seq("prose", "```python", "a = 1", "b = 2", "```",
      "middle", "```", "raw line", "```", "tail", "```js").mkString("\n")
    val d = Seq(
      (1L, doc1),               // 2 blocks + trailing unmatched fence
      (2L, "```\n```"),         // one empty block
      (3L, "no fences at all")) // no rows
      .toDF("doc_id", "text")
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = TextAnalysis.codeBlocks(d).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getString(2), r.getLong(3), r.getString(4)))).toMap
    assert(got === Map(
      (1L, 0) -> (("python", 2L, m("a = 1\nb = 2"))),
      (1L, 1) -> (("", 1L, m("raw line"))),
      (2L, 0) -> (("", 0L, m("")))))
  }

  test("dsir weights: equals driver recompute of the hashed LM ratio") {
    import spark.implicits._
    val d = Seq(
      (1L, "alpha beta gamma alpha", "en"),
      (2L, "delta epsilon zeta", "en"),
      (3L, "alpha alpha noise noise noise", "de"),
      (4L, "beta delta", "de")).toDF("doc_id", "text", "lang")
    val got = CorpusStats.dsirWeights(d, col("lang") === "en", nBuckets = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(4)))).toMap
    // driver recompute with the same md5 bucket hash
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def bucket(tok: String) = Integer.parseInt(md5hex(tok).take(3), 16) % 8
    val corpus = Seq(
      (1L, "alpha beta gamma alpha", true),
      (2L, "delta epsilon zeta", true),
      (3L, "alpha alpha noise noise noise", false),
      (4L, "beta delta", false))
    val toks = corpus.flatMap { case (_, t, isT) =>
      t.split("\\s+").map(w => (bucket(w), isT)) }
    val raw = toks.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val tgt = toks.filter(_._2).groupBy(_._1)
      .view.mapValues(_.size.toLong).toMap
    val (rawT, tgtT) = (toks.size.toDouble,
      toks.count(_._2).toDouble)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ratio = (0 until 8).map { b =>
      b -> r6(math.log((tgt.getOrElse(b, 0L) + 1.0) / (tgtT + 8)) -
        math.log((raw.getOrElse(b, 0L) + 1.0) / (rawT + 8)))
    }.toMap
    corpus.foreach { case (id, t, _) =>
      val ws = t.split("\\s+")
      val lw = r6(ws.foldLeft(0.0)((a, w) => a + ratio(bucket(w))))
      val u = (Integer.parseInt(md5hex(id.toString).take(3), 16) + 0.5) /
        4096.0
      val g = r6(-math.log(-math.log(u)))
      assert(got(id) === ((ws.length.toLong, lw, r6(lw + g))),
        s"doc $id")
    }
  }

  test("gopher filter: hand-computed signals and every gate branch") {
    import spark.implicits._
    // 50 words, mean len (11*49+3)/50 = 10.84 > 10 → mean gate fails
    val longWords = (Seq.fill(49)("abcdefghijk") :+ "the").mkString(" ")
    // 60 clean words incl. 2 stopwords → keeps
    val clean = (Seq.fill(58)("word") ++ Seq("the", "of")).mkString(" ")
    // bullets: 2 of 4 lines start with '-' → bullet_frac 0.5
    val bullets = s"$clean\n- item one\n- item two\nplain line"
    // symbols: '#' * 10 over 60 words → ratio 0.1667
    val hashy = clean + " " + ("#" * 10)
    // ellipsis: 1 of 2 lines ends "..." → 0.5
    val dots = s"$clean\ntrailing line ..."
    val d = Seq((1L, longWords), (2L, clean), (3L, bullets),
      (4L, hashy), (5L, dots)).toDF("doc_id", "text")
    val got = TextAnalysis.gopherFilter(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6),
        r.getLong(7), r.getBoolean(8)))).toMap
    assert(got(1L) === ((50L, round4((11.0 * 49 + 3) / 50), 0.0, 0.0,
      0.0, 1.0, 1L, false)))
    assert(got(2L) === ((60L, round4((4.0 * 58 + 3 + 2) / 60), 0.0, 0.0,
      0.0, 1.0, 2L, true)))
    // bullets doc: 63 words (+ "- item one" → "-","item","one" ×2 less
    // "plain line"... recompute: clean 60 + 3 + 3 + 2 = 68 words
    assert(got(3L)._4 === 0.5 && !got(3L)._8)      // bullet gate
    assert(got(4L)._3 === round4(10.0 / 61) || got(4L)._3 === round4(10.0 / 60))
    assert(got(4L)._3 >= 0.1 && !got(4L)._8)       // symbol gate
    assert(got(5L)._5 === 0.5 && !got(5L)._8)      // ellipsis gate
  }

  private def round4(x: Double): Double =
    BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("knn graph: equals driver recompute of in-bucket top-k") {
    val res = Similarity.knnGraph(embs, nPlanes = 4, k = 3).collect()
    assert(res.nonEmpty)
    val all = embs.collect().map { r =>
      (r.getLong(0), r.getSeq[Float](1).toArray)
    }
    val planes = (0 until 4).map(p => Hyperplanes.plane(p, 64))
    def bucket(v: Array[Float]): Int =
      planes.zipWithIndex.map { case (h, i) =>
        val d = (0 until 64).map(j => v(j).toDouble * h(j)).sum
        if (d > 0) 1 << i else 0
      }.sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        (0 until 64).map(j => x(j).toDouble * y(j)).sum
      BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val byBucket = all.groupBy(e => bucket(e._2))
    val expected = all.flatMap { case (src, v) =>
      byBucket(bucket(v)).filter(_._1 != src)
        .map(c => (src, c._1, cos(v, c._2)))
        .sortBy(t => (-t._3, t._2)).take(3)
        .zipWithIndex.map { case ((s, d, c), i) => (s, d, i + 1, c) }
    }.toSet
    val got = res.map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(got === expected)
  }

  test("shard assign: equals driver recompute of the md5 permutation") {
    val res = CorpusStats.shardAssign(docs.select("doc_id"), nShards = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    assert(res.length === ids.length)
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val keyed = ids.map(id =>
      (id, java.lang.Long.parseLong(m(id.toString).take(12), 16)))
    val expected = keyed.groupBy(x => (x._2 % 8).toInt).toSeq.flatMap {
      case (shard, xs) =>
        xs.sortBy(x => (x._2, x._1)).zipWithIndex
          .map { case ((id, _), i) => (id, shard, (i + 1).toLong) }
    }.toSet
    assert(res.toSet === expected)
  }

  test("winnow: shared-run guarantee and exact recompute on a hand doc") {
    import spark.implicits._
    // shared run of 8 tokens = w+k-1 (w=5, k=4) → must share a print
    val run = "s1 s2 s3 s4 s5 s6 s7 s8"
    val d = Seq(
      (1L, s"a b c d e f $run g h i"),
      (2L, s"x y z $run q r"),
      (3L, "too short"))              // < k tokens → no fingerprints
      .toDF("doc_id", "text")
    val res = CorpusStats.winnowFingerprints(d, k = 4, w = 5).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val byDoc = res.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDoc(1L).intersect(byDoc(2L)).nonEmpty,
      "w+k-1 shared tokens must yield a shared fingerprint")
    assert(!byDoc.contains(3L))
    // exact recompute for doc 2
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val toks = s"x y z $run q r".split(" ")
    val grams = toks.sliding(4).map(g => m(g.mkString(" "))).toVector
    val exp = grams.sliding(5).map(_.min).toSet
    assert(byDoc(2L) === exp)
  }

  test("winnow overlap: copied passage pair found, df-filter drops hot prints") {
    import spark.implicits._
    val passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"   // ≥ w+k-1 tokens
    val d = Seq(
      (1L, s"u1 u2 u3 $passage"),
      (2L, s"v1 v2 v3 v4 $passage w1"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9"),
      (4L, "y1 y2 y3 y4 y5 y6 y7 y8 y9"))
      .toDF("doc_id", "text")
    // minShared=1 is what winnowing GUARANTEES for a shared run of
    // ≥ w+k-1 tokens (distinct window minima can collapse to one)
    val got = CorpusStats.winnowOverlapPairs(d, k = 4, w = 5,
        maxDf = 100, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet === Set((1L, 2L)),
      s"only the copied-passage pair should be reported, got $got")
    // maxDf=0 marks every selected print hot → nothing can pair
    assert(CorpusStats.winnowOverlapPairs(d, k = 4, w = 5,
      maxDf = 0, minShared = 1).count() === 0L)
  }

  test("tfidf top terms: hand-computed scores, rank ties break on term") {
    import spark.implicits._
    val d = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry date date date"))
      .toDF("doc_id", "text")
    // N=3; df: apple 1, banana 2, cherry 2, date 1
    // ln(3)=1.0986123, ln(1.5)=0.4054651
    val got = CorpusStats.tfidfTopTerms(d, topN = 3).collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getInt(4)))).toMap
    assert(got === Map(
      (1L, "apple") -> ((2L, 2.197225, 1)),
      (1L, "banana") -> ((1L, 0.405465, 2)),
      (2L, "banana") -> ((1L, 0.405465, 1)),   // tie → term order
      (2L, "cherry") -> ((1L, 0.405465, 2)),
      (3L, "date") -> ((3L, 3.295837, 1)),
      (3L, "cherry") -> ((1L, 0.405465, 2))))
  }

  test("ANN IVF with Lloyd quantizer: full probe equals brute force, " +
      "partial probe keeps recall") {
    // nProbe = nCells must degrade to exact search: every cell is
    // probed, so the candidate set is the whole corpus. Bit-valid
    // equality: bruteForceTopK's float-kernel dot and the Lloyd
    // path's double zip-fold both accumulate double in index order
    // over exactly-cast floats, so the rounded cosines are identical.
    val brute = Similarity.bruteForceTopK(embs, k = 5, nQueries = 10)
    val full = Similarity.ivfKmeansTopK(embs, nCells = 8, kmIters = 2,
      nProbe = 8, k = 5, nQueries = 10)
    assert(full.exceptAll(brute).count() === 0L)
    assert(brute.exceptAll(full).count() === 0L)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val probe2 = pairs(Similarity.ivfKmeansTopK(embs, nCells = 8,
      kmIters = 2, nProbe = 2, k = 5, nQueries = 10))
    val recall = probe2.intersect(pairs(brute)).size.toDouble /
      pairs(brute).size
    assert(recall >= 0.5,
      s"nProbe=2/8 recall@5 fell to $recall — probing is broken")
  }

  test("bpe encode: hand-computed merge application, byte-fallback " +
      "for ineligible words") {
    import spark.implicits._
    // vocab: aa(3), ab(1); x is ineligible (length 1).
    // merge0 = (a, </w>) cnt 4; merge1 = (a, a</w>) cnt 3.
    // encode: 'aa' -> 'aa</w>' = 1 token; 'ab' -> 'a b </w>' = 3
    // (neither merge's needle occurs); 'x' -> 1 (fallback).
    val d = Seq((1L, "aa ab aa"), (2L, "aa x"))
      .toDF("doc_id", "text")
    val got = CorpusStats.bpeEncode(d, nMerges = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(1L -> ((3L, 5L)), 2L -> ((2L, 2L))))
  }

  test("tokenizer fertility: per-language sums and ratios hand-checked " +
      "on a mixed latin/cjk corpus") {
    import spark.implicits._
    // Latin docs reuse the bpe-encode fixture (same eligible vocab,
    // so the same two merges train; CJK words are training-ineligible
    // and fall back to 1 token each). Hand-computed:
    //   latin_other: docs 1+2, tokens 5+2, words 3+2, bytes 8+4
    //   cjk: doc 3, tokens 3, words 3, bytes 9+1+9+1+6 = 26 (UTF-8)
    val d = Seq((1L, "aa ab aa"), (2L, "aa x"),
        (3L, "これは 日本語 です"))
      .toDF("doc_id", "text")
    val got = CorpusStats.tokenizerFertility(d, nMerges = 2)
      .orderBy("lang_guess").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(got.toSeq === Seq(
      ("cjk", 1L, 3L, 3L, 26L, 1.0, 0.115385),
      ("latin_other", 2L, 7L, 5L, 12L, 1.4, 0.583333)))
  }

  test("kmeans: equals driver Lloyd recompute; separates two blobs") {
    import spark.implicits._
    // two obvious blobs; init = vecs 1 and 2 (one from each blob)
    val vecs = Seq(
      (1L, Array(0.0f, 0.1f, 0.0f)), (2L, Array(5.0f, 5.1f, 0.2f)),
      (3L, Array(0.2f, -0.1f, 0.1f)), (4L, Array(4.8f, 5.0f, -0.1f)),
      (5L, Array(-0.1f, 0.0f, -0.2f)), (6L, Array(5.2f, 4.9f, 0.0f)),
      (7L, Array(0.1f, 0.2f, 0.15f)))
    val d = vecs.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity.kmeansLloyd(d, k = 2, iters = 2)
      .collect().map(r =>
        r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    // driver recompute, mirroring the pinned semantics exactly:
    // left-fold squared-diff in index order, first-min argmin,
    // round(mean, 6) per dim, empty cluster keeps its centroid
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dist(e: Array[Double], c: Array[Double]) =
      e.indices.foldLeft(0.0)((a, i) =>
        a + (e(i) - c(i)) * (e(i) - c(i)))
    val es = vecs.map { case (id, v) => id -> v.map(_.toDouble) }
    var cents = Vector(es(0)._2, es(1)._2)
    def assign() = es.map { case (id, e) =>
      val ds = cents.map(c => dist(e, c))
      (id, e, ds.indexOf(ds.min), ds.min)
    }
    for (_ <- 1 to 2) {
      val a = assign()
      cents = cents.indices.map { j =>
        val mine = a.filter(_._3 == j).map(_._2)
        if (mine.isEmpty) cents(j)
        else mine.head.indices
          .map(i => r6(mine.map(_(i)).sum / mine.size)).toArray
      }.toVector
    }
    val want = assign().map { case (id, _, c, dmin) =>
      id -> ((c, r6(dmin))) }.toMap
    assert(got === want)
    // behavioral: the two blobs land in different clusters
    assert(Set(1L, 3L, 5L, 7L).map(got(_)._1).size === 1)
    assert(Set(2L, 4L, 6L).map(got(_)._1).size === 1)
    assert(got(1L)._1 !== got(2L)._1)
  }

  test("kmeans: duplicate init vectors leave an empty cluster that " +
      "retains its centroid") {
    import spark.implicits._
    // vecs 1 and 2 are identical → centroid 1 never wins the
    // first-min tie-break, stays empty, and must keep its init
    // centroid rather than vanish (k stays k)
    val d = Seq(
      (1L, Array(1.0f, 0.0f), 0), (2L, Array(1.0f, 0.0f), 0),
      (3L, Array(1.1f, 0.1f), 0), (4L, Array(0.9f, -0.1f), 0))
      .toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity.kmeansLloyd(d, k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.values.toSet === Set(0), "all rows tie-break to cluster 0")
  }

  test("cluster-balanced sample: rates from sizes, md5-bucket verdicts") {
    import spark.implicits._
    // blob A: 6 vectors, blob B: 2 vectors; perCluster=4 →
    // A samples at 4/6, B keeps everything at rate 1.0
    val vecs = (1L to 6L).map(i =>
      (i, Array(0.0f + i * 0.01f, 0.1f * (i % 3), 0.0f))) ++
      Seq((7L, Array(9.0f, 9.0f, 9.0f)), (8L, Array(9.1f, 8.9f, 9.0f)))
    val d = vecs.map { case (id, v) => (id, v, 0) }
      .toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity
      .clusterBalancedSample(d, k = 2, iters = 2, perCluster = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getBoolean(3)))).toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val sizes = got.values.groupBy(_._1).map { case (c, xs) =>
      c -> xs.size }
    def bucket(id: Long) = Integer.parseInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(3), 16)
    got.foreach { case (id, (c, rate, kept)) =>
      assert(rate === r6(math.min(1.0, 4.0 / sizes(c))), s"rate vec $id")
      assert(kept === (bucket(id) <
        math.floor(rate * 4096).toInt), s"kept vec $id")
    }
    // the small blob keeps everything
    assert(got(7L)._2 === 1.0 && got(7L)._3 && got(8L)._3)
  }

  test("ivf-pq: lossless codebooks make ADC exact; corpus recall holds") {
    import spark.implicits._
    // Sub-space values drawn from exactly codeK=2 points per sub-space
    // → Lloyd converges to those points and quantization is LOSSLESS,
    // so the ADC distance must equal the exact squared L2. d=4, m=2.
    val sub = Map(0 -> Array(0.0f, 0.0f), 1 -> Array(1.0f, 1.0f))
    val subB = Map(0 -> Array(0.0f, 1.0f), 1 -> Array(2.0f, 2.0f))
    val vecs = for (i <- 0 until 4) yield
      (i.toLong, sub(i % 2) ++ subB(i % 2), 0)
    val d = vecs.toDF("vec_id", "embedding", "label")
    val got = Similarity.ivfPqTopK(d, nCells = 1, coarseIters = 1,
      m = 2, codeK = 2, pqIters = 2, nProbe = 1, k = 3, nQueries = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    def l2(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) =>
        (x.toDouble - y) * (x.toDouble - y) }.sum
    val byId = vecs.map(v => v._1 -> v._2).toMap
    got.foreach { case ((q, n), adc) =>
      assert(adc === l2(byId(q), byId(n)),
        s"ADC($q,$n) diverged from exact squared L2")
    }
    // every query sees all 3 other vectors (single cell, full probe)
    assert(got.keys.groupBy(_._1).values.forall(_.size == 3))
    // lossy regime on the real corpus: PQ top-5 must overlap the
    // EXACT squared-L2 top-5 (PQ's own metric), driver-recomputed
    val all = embs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def l2d(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) =>
        (x.toDouble - y) * (x.toDouble - y) }.sum
    val exact = (0L until 10L).flatMap { q =>
      all.keys.filter(_ != q).toSeq
        .map(n => (q, n, l2d(all(q), all(n))))
        .sortBy { case (_, n, dd) => (dd, n) }.take(5)
        .map { case (_, n, _) => (q, n) }
    }.toSet
    // Bound is data-honest: these synthetic embeddings are near-
    // isotropic in 64-dim, where distance concentration makes top-5
    // genuinely hard for ANY 32-bit/vector sketch (numpy replication
    // of this exact PQ plateaus at ~0.2 across m/codeK configs);
    // CORRECTNESS of the ADC math is what the lossless half above
    // proves, and the DuckDB oracle pins it bit-for-bit.
    val pq = Similarity.ivfPqTopK(embs, nCells = 8, coarseIters = 2,
      m = 4, codeK = 8, pqIters = 2, nProbe = 8, k = 5, nQueries = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = pq.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.15,
      s"full-probe PQ recall@5 fell to $recall — codes carry no signal")
  }

  test("ivf-pq residual: recall beats absolute encoding on a clustered corpus") {
    import spark.implicits._
    // The corpus residual encoding exists for: well-separated clusters
    // (centers 50 apart per dim) with small within-cluster offsets
    // (±1) that determine neighbor ranking. Absolute-coordinate
    // codebooks must spread codeK codewords across the inter-cluster
    // spread, collapsing each cluster to ~one codeword and erasing
    // the offsets; residual codebooks see ONLY the offsets. Fixed
    // seed — the corpus and both recalls are deterministic.
    val rnd = new scala.util.Random(42)
    val nClusters = 4; val dim = 8; val perCluster = 40
    val vecs = for (i <- 0 until nClusters * perCluster) yield {
      val c = i % nClusters
      (i.toLong,
        Array.fill(dim)(c * 50.0f + (rnd.nextFloat() * 2 - 1)), c)
    }
    val d = vecs.toDF("vec_id", "embedding", "label")
    def l2(a: Array[Float], b: Array[Float]) =
      a.zip(b).map { case (x, y) =>
        (x.toDouble - y) * (x.toDouble - y) }.sum
    val byId = vecs.map(v => v._1 -> v._2).toMap
    val nQ = 8; val k = 5
    val exact = (0L until nQ.toLong).flatMap { q =>
      byId.keys.filter(_ != q).toSeq
        .map(n => (q, n, l2(byId(q), byId(n))))
        .sortBy { case (_, n, dd) => (dd, n) }.take(k)
        .map { case (_, n, _) => (q, n) }
    }.toSet
    def recallOf(byResidual: Boolean): Double = {
      val got = Similarity.ivfPqTopK(d, nCells = nClusters,
        coarseIters = 2, m = 2, codeK = 8, pqIters = 3,
        nProbe = nClusters, k = k, nQueries = nQ,
        byResidual = byResidual)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val abs = recallOf(false)
    val res = recallOf(true)
    assert(res >= abs,
      s"residual recall $res below absolute $abs — the subtraction " +
        "is not buying the precision it exists for")
    assert(res >= 0.5, s"residual recall $res — codes carry no signal")
  }

  test("dup-span removal: covered tokens excised, overlaps merge, clean docs pass") {
    import spark.implicits._
    // k=3 windows; "a b c d" duplicated across docs 1 and 2 → in doc 1
    // windows starting at 3 and 4 are duplicated, covering tokens
    // 3..6 ("a b c d"), and the two overlapping windows merge into one
    // excised span. Doc 3 shares no window and must pass through
    // byte-identical (modulo single-space normalization).
    val docsDf = Seq(
      (1L, "x1 x2 a b c d x3 x4"),
      (2L, "y1  a b c d y2"), // double space: tokenizer normalizes
      (3L, "totally unique words with no duplication at all"))
      .toDF("doc_id", "text")
    val got = CorpusStats.dupSpanRemoval(docsDf, k = 3)
      .collect().map(r =>
        r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // doc 1: dup windows start at 3 ("a b c") and 4 ("b c d") →
    // tokens 3-6 removed
    assert(got(1L) === ("x1 x2 x3 x4", 4L))
    // doc 2: dup windows start at 2 and 3 → tokens 2-5 removed
    assert(got(2L) === ("y1 y2", 4L))
    // doc 3: untouched, whitespace-normalized
    assert(got(3L) ===
      ("totally unique words with no duplication at all", 0L))
  }

  test("semantic decontamination catches the paraphrase string shingles miss") {
    import spark.implicits._
    // an eval question and a PARAPHRASED corpus leak: zero shared
    // 3-shingles (every 3-gram differs), but the "embedding model"
    // (stand-in: near-parallel vectors) sees them as the same content
    val evalDocs = Seq(
      (0L, "what is the capital city of france")).toDF("doc_id", "text")
    val corpusDocs = Seq(
      (10L, "paris has been the french seat of government forever"),
      (11L, "tide tables for the northern atlantic coastline region"))
      .toDF("doc_id", "text")
    // q37's operator: string-shingle overlap — the paraphrase shares
    // no 3-shingle with the eval doc, so NOTHING is flagged
    val stringHits = CorpusStats.decontaminate(
      corpusDocs, evalDocs, k = 3, minOverlapFrac = 0.05).collect()
    assert(stringHits.isEmpty,
      "paraphrase unexpectedly caught at string level — fixture broken")
    // q83's operator: embedding cosine via banded LSH — doc 10's
    // vector is near-parallel to the eval vector (cos ≈ 0.999),
    // doc 11 orthogonal
    val dim = 64
    val evalVec = Array.tabulate(dim)(i => if (i < 8) 1.0f else 0.1f)
    val paraVec = Array.tabulate(dim)(i =>
      (if (i < 8) 1.0f else 0.1f) + (if (i % 2 == 0) 0.01f else -0.01f))
    val orthoVec = Array.tabulate(dim)(i => if (i >= 56) 1.0f else -0.1f)
    val evalEmb = Seq((0L, evalVec)).toDF("vec_id", "embedding")
    val corpusEmb = Seq((10L, paraVec), (11L, orthoVec))
      .toDF("vec_id", "embedding")
    val semHits = Dedup.semanticDecontaminate(corpusEmb, evalEmb,
      minCosine = 0.8, rowsPerBand = 3, nBands = 12, dim = dim)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    assert(semHits.contains(10L),
      "paraphrased leak NOT flagged by the embedding path")
    val (evalId, cosv, nHits) = semHits(10L)
    assert(evalId === 0L && cosv >= 0.99 && nHits === 1L)
    assert(!semHits.contains(11L), "orthogonal doc falsely flagged")
    // plan guard: the corpus side reaches the probe join without an
    // exchange (broadcast eval only) — the no-corpus-shuffle contract
    spark.catalog.clearCache()
    val plan = Dedup.semanticDecontaminate(corpusEmb, evalEmb,
      minCosine = 0.8, rowsPerBand = 3, nBands = 12, dim = dim)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("edit-distance verify: lev disposes what simhash proposes") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again until the corpus repeats itself forever"
    val d = Seq(
      (1L, base),
      (2L, base.replace("forever", "foreves")), // 1 char edit
      (3L, "completely unrelated text about spark catalyst plans " +
        "and shuffle exchanges nothing shared here at all"))
      .toDF("doc_id", "text")
    val got = Dedup.editDistanceVerify(d, maxHamming = 20,
      nChunks = 8, minSim = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(3), r.getDouble(4), r.getBoolean(5)))).toMap
    assert(got.contains((1L, 2L)), "near-identical pair not proposed")
    val (lev, sim, dup) = got((1L, 2L))
    assert(lev === 1)
    val len = base.length.toDouble
    assert(sim === BigDecimal(1.0 - 1.0 / len)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(dup)
    // the unrelated doc never verifies as a dup even if banding
    // accidentally proposed it
    got.filter { case ((a, b), _) => a == 3L || b == 3L }
      .foreach { case (_, (_, _, isDup)) => assert(!isDup) }
  }

  test("pagerank: cycle is uniform; dangling mass redistributes; " +
      "fixed-point recompute exact; mass conserved to pico leakage") {
    import spark.implicits._
    val nodes = Seq(0L, 1L, 2L).toDF("vec_id")
    // pure cycle: stationary = uniform from round 0, every round
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val uni = graft.ops.GraphOps.pageRank(nodes, cyc, 85L, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(uni.values.toSet.size === 1, s"cycle not uniform: $uni")
    assert(math.abs(uni.values.sum - 1000000000000L) < 100L)
    // dangling node 2 (no out-edges): exact integer driver recompute
    val dang = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val got = graft.ops.GraphOps.pageRank(nodes, dang, 85L, 3)
      .collect().map(r =>
        r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val S = 1000000000000L
    var pr = Map(0L -> S / 3, 1L -> S / 3, 2L -> S / 3)
    for (_ <- 1 to 3) {
      val dm = pr(2L)
      val base = S * 15L / 100L / 3L + dm * 85L / 100L / 3L
      pr = Map(
        0L -> (base + (pr(1L) / 1L) * 85L / 100L),
        1L -> (base + (pr(0L) / 1L) * 85L / 100L),
        2L -> base)
    }
    assert(got.view.mapValues(_._1).toMap === pr)
    // the double face is the single exact division pico / 1e12
    got.foreach { case (_, (pico, d)) =>
      assert(d === pico / 1.0e12)
    }
    // floor divisions leak <1 pico per edge+node per round
    assert(math.abs(got.values.map(_._1).sum - S) < 100L,
      "dangling mass leaked beyond pico floor loss")
  }

  test("zipf fit: hand-computed least squares on a 3-rank vocabulary") {
    import spark.implicits._
    // counts: a=6, b=3, c=2 → exactly freq = 6/rank (perfect Zipf)
    val d = Seq("a a a a a a b b b c c").toDF("text")
    val got = CorpusStats.zipfFit(d, topN = 100).collect().head
    val pts = Seq((math.log(1.0), math.log(6.0)),
      (math.log(2.0), math.log(3.0)), (math.log(3.0), math.log(2.0)))
    val n = 3.0
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.getLong(0) === 3L)
    assert(got.getDouble(1) === r6(slope))
    assert(got.getDouble(2) === r6((sy - slope * sx) / n))
    // perfect Zipf (freq = C/rank) fits slope exactly -1
    assert(math.abs(slope - (-1.0)) < 1e-9,
      s"counts 6/3/2 should fit -1 exactly, got $slope")
  }

  test("containment: quoted-subset doc scores 1.0 where jaccard " +
      "sees 0.25") {
    import spark.implicits._
    // A's 2 shingles all appear in B (A quoted inside B):
    // containment_a = 1.0, containment_b = 2/8, jaccard = 2/(2+8-2)
    val d = Seq(
      (1L, "w1 w2 w3 w4"),
      (2L, "w1 w2 w3 w4 x1 x2 x3 x4 x5 x6"),
      (3L, "z1 z2 z3 z4 z5"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, k = 3, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    assert(got === Map((1L, 2L) -> ((1.0, 0.25))),
      "quotation pair must survive a 0.9 bar that jaccard 0.25 fails")
    // symmetric jaccard at the same bar misses it
    val j = Dedup.ngramJaccardPairs(d, k = 3, minJaccard = 0.9)
    assert(j.count() === 0L)
  }

  test("turn latency: driver recompute of gaps, R-7 percentiles, mean") {
    val sfDir = "/root/testdata/sf0.001"
    val rows = graft.queries.PipelineQueries.transcripts(spark, sfDir)
      .select("conv_id", "turn_idx", "role", "ts_ms").collect()
    val gaps = rows.groupBy(_.getString(0)).values.flatMap { conv =>
      conv.sortBy(_.getInt(1)).sliding(2).collect {
        case Array(p, c)
          if p.getString(2) == "user" && c.getString(2) == "assistant" =>
          (c.getLong(3) - p.getLong(3)).toDouble
      }
    }.toSeq.sorted
    def r7(p: Double) = {
      val h = (gaps.size - 1) * p
      val lo = h.toInt
      gaps(lo) + (h - lo) * (gaps(math.min(lo + 1, gaps.size - 1)) -
        gaps(lo))
    }
    def r4(x: Double) = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val got = graft.queries.PipelineQueries.turnLatency(spark, sfDir)
      .collect().head
    assert(got.getLong(0) === gaps.size.toLong)
    assert(got.getDouble(1) === r4(r7(0.5)))
    assert(got.getDouble(2) === r4(r7(0.9)))
    assert(got.getDouble(3) === r4(r7(0.99)))
    assert(got.getDouble(4) === r4(gaps.sum / gaps.size))
  }

  test("source KL divergence: hand-computed two-source drift") {
    import spark.implicits._
    // X: a a b → p=(2/3, 1/3); Y: b b b → p=(0, 1)
    // corpus: a=2, b=4, N=6 → p_c=(1/3, 2/3)
    val d = Seq((1L, "src-X", "a a b"), (2L, "src-Y", "b b b"))
      .toDF("doc_id", "source", "text")
    val got = CorpusStats.sourceKlDivergence(d).collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2))))
      .toMap
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val klX = (2.0 / 3) * math.log((2.0 / 3) / (2.0 / 6)) +
      (1.0 / 3) * math.log((1.0 / 3) / (4.0 / 6))
    val klY = 1.0 * math.log(1.0 / (4.0 / 6))
    assert(got("src-X") === ((r6(klX), 2L)))
    assert(got("src-Y") === ((r6(klY), 1L)))
    // the genre outlier (all-b) diverges more than the mixed source
    assert(got("src-Y")._1 > got("src-X")._1)
  }
}
