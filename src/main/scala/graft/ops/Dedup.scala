package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), word-shingle Jaccard, MinHash+LSH banding, SimHash,
  * embedding-cosine near-dup.
  *
  * Scale design:
  *  - Exact dedup: groupBy(md5) — map-side partial agg, one shuffle of
  *    (hash, id) pairs only, never text.
  *  - Shingle/MinHash paths: explode shingles → shuffle keyed by
  *    shingle/band signature. At 100 TB the shingle join is THE cost
  *    center: band-bucket join (LSH) touches only docs sharing a band
  *    signature instead of the all-pairs product; hot shingles (stop
  *    phrases) are the skew risk — the candidate join filters
  *    `doc_a < doc_b` early and verification joins are on (doc_a,
  *    doc_b), both AQE-skew-splittable.
  *  - MinHash uses md5-derived hashes so the DuckDB oracle reproduces
  *    signatures bit-for-bit (xxhash64/murmur differ across engines).
  */
object Dedup {

  /** Persist `df` unless an identical plan is already in the session
    * cache (public `Dataset.storageLevel` consults the CacheManager by
    * normalized plan). Queries share sub-plans — q36's edge list is
    * built from q31's pair pipeline, whose shingle table is persisted
    * inside ngramJaccardPairs — so a second blind persist of the same
    * plan raises CacheManager's "already cached" warning and, worse,
    * registers a duplicate cache entry candidate. Reusing the existing
    * entry keeps cache bookkeeping exact and the logs clean. */
  private[ops] def persistOnce(df: DataFrame): DataFrame = {
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else df
  }

  /** Release a superseded per-round vector REGARDLESS of which loop
    * arm produced it. `Dataset.unpersist()` only consults the
    * CacheManager, so it is a silent no-op on a localCheckpoint'ed
    * frame — the checkpoint blocks would stay pinned until the
    * ContextCleaner GCs the Dataset, which in an iterative loop means
    * one stranded snapshot per checkpoint round. For checkpoint-backed
    * frames (analyzed plan is a LogicalRDD) this unpersists the
    * underlying RDD's blocks directly; for plain persisted frames it
    * falls through to the normal cache-manager path. */
  private[ops] def freeRound(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(false)
      case _ => df.unpersist()
    }

  /** Distinct word k-shingles per doc (k=3). Codegen'd expression
    * (graft.functions.WordShingles) — the HOF equivalent measured ~8 s
    * per evaluation over 5000 docs, and join plans evaluate this on
    * several branches. */
  def shingles(docs: DataFrame, k: Int = 3): DataFrame =
    docs.select(
      col("doc_id"),
      explode(graft.functions.word_shingles(col("text"), k)).as("shingle"))

  /** Exact duplicate clusters over a hash of raw text. */
  def exactClusters(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("canonical"))

  /** Incremental (cross-run) exact dedup: which docs of a NEW batch
    * should be ingested, given the fingerprint set of everything
    * already in the corpus — the steady-state shape of dedup in a
    * production training-data pipeline, where re-deduplicating 100 TB
    * per arriving batch is not an option.
    *
    * Keeps the batch's FIRST occurrence per fingerprint (min doc_id,
    * deterministic) and anti-joins the historical fingerprints.
    *
    * Scale: everything is keyed on the 16-byte fingerprint — text
    * never shuffles. The within-batch distinct is a partial-agg
    * groupBy of the (small) batch; the anti-join's big side is the
    * history fingerprint table, which a production deployment stores
    * bucketed/sorted by fp so the probe is co-located; AQE broadcasts
    * the batch side when it is small enough, which makes the common
    * case (small batch vs huge history) a broadcast ANTI with zero
    * history shuffle... but note Spark broadcasts only the LEFT side
    * of a left-anti when the left is small via a plan rewrite — in
    * practice the SMJ anti on a bucketed history table reads
    * pre-partitioned and shuffles ONLY the batch. Registry query
    * q38_incremental_dedup runs it; the caller owns the history table
    * and appends each batch's accepted fingerprints to it.
    */
  def incrementalNew(batch: DataFrame, historyFps: DataFrame): DataFrame = {
    val withFp = batch.select(col("doc_id"),
      md5(col("text").cast("binary")).as("fp"))
    withFp
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .join(historyFps.select("fp"), Seq("fp"), "left_anti")
      .select(col("doc_id"), col("fp"))
  }

  /** All-pairs word-shingle Jaccard ≥ minJaccard. Exact (no sketch):
    * inverted-index self-join on shingle.
    *
    * maxDocFreq drops stop-shingles (present in > maxDocFreq docs)
    * BEFORE the join — standard df-filtering in dedup pipelines; a
    * shingle shared by d docs contributes d² join rows, so the filter
    * bounds the self-join fanout at maxDocFreq² per shingle (the
    * difference between quadratic blowup and linear scan at corpus
    * scale). Jaccard is over the FILTERED shingle sets. */
  def ngramJaccardPairs(
      docs: DataFrame, k: Int = 3, minJaccard: Double = 0.1,
      maxDocFreq: Int = 100): DataFrame =
    shingleIntersections(docs, k, maxDocFreq)
      .select(
        col("doc_a"), col("doc_b"),
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 6).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)

  /** Directed shingle CONTAINMENT per candidate pair — the asymmetric
    * near-dup measure Jaccard can't express: a short doc quoted whole
    * inside a long one has containment(short→long) ≈ 1 but Jaccard
    * ≈ |short|/|long| ≈ 0, so symmetric thresholds miss exactly the
    * quotation/subset duplication web corpora are full of. Emits both
    * directions per unordered pair; keeps pairs where either side is
    * mostly contained in the other. Same df-capped intersection
    * machinery (and scale posture) as [[ngramJaccardPairs]]. */
  def containmentPairs(
      docs: DataFrame, k: Int = 3, minContainment: Double = 0.25,
      maxDocFreq: Int = 100): DataFrame =
    shingleIntersections(docs, k, maxDocFreq)
      .select(
        col("doc_a"), col("doc_b"),
        round(col("n_inter").cast("double") / col("n_a"), 6)
          .as("containment_a"),
        round(col("n_inter").cast("double") / col("n_b"), 6)
          .as("containment_b"))
      .filter(greatest(col("containment_a"), col("containment_b")) >=
        minContainment)

  /** Shared candidate machinery of [[ngramJaccardPairs]] and
    * [[containmentPairs]]: (doc_a, doc_b, n_inter, n_a, n_b) over
    * df-capped k-shingles.
    *
    * Plan shape (reworked in the optimization round — guide §2.4):
    * ONE corpus explode reduces each (doc, shingle) to a 16-byte md5
    * (the q157 posture: text/shingle strings never shuffle), ONE
    * groupBy(hash) builds the df-capped posting list per shingle —
    * `collect_list` is bounded at maxDocFreq ids by the same df cap
    * that always bounded the self-join's fan-out, so no task buffers
    * an unbounded group — and candidate pairs EXPLODE row-locally from
    * each posting list (≤ C(maxDocFreq, 2) structs per shingle)
    * instead of a shingle-keyed self equi-join. That removes the hot
    * anti-join pass, the second corpus explode it forced, and both
    * self-join exchanges of the shingle table; what remains is the
    * postings agg (1 exchange), the pair-count agg (1), and the two
    * doc-keyed size joins. The former hot-shingle skew risk
    * disappears structurally: a stop-shingle's posting row is simply
    * dropped by the size filter before any pair is emitted.
    * Hash substitution: pair/size counts are over md5(shingle)
    * identity — exact up to md5 collisions (2^-128-scale; the
    * established q157/q32 contract, pinned by the oracle). */
  private def shingleIntersections(
      docs: DataFrame, k: Int, maxDocFreq: Int): DataFrame = {
    val sh = docs
      .select(col("doc_id"),
        explode(graft.functions.word_shingles(col("text"), k))
          .as("shingle"))
      .select(col("doc_id"),
        unhex(md5(col("shingle").cast("binary"))).as("h"))
    // persisted: the sizes agg and the pair explode both read it
    // (lifetime note: the cache backs the RETURNED lazy DataFrame, so
    // it cannot be released here; MEMORY_AND_DISK spills under
    // pressure)
    val (posts, pairs) = postingListPairs(sh, "h", maxDocFreq, persistOnce)
    val sizes = posts.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = pairs.groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
  }

  /** Inverted-index pairs over `rows` (doc_id, `key`): ONE groupBy(key)
    * collects each key's posting list of doc_ids, lists longer than
    * maxDf are dropped (the df cap: a key in d docs yields C(d, 2)
    * pairs), and each kept list explodes row-locally into its
    * (doc_a < doc_b) pairs, one row per pair per shared key. Returns
    * (the capped posting lists, column `ds`, after `keep`; the pairs).
    * Pass `persistOnce` as `keep` when the lists are read twice. */
  private[ops] def postingListPairs(rows: DataFrame, key: String,
      maxDf: Long, keep: DataFrame => DataFrame = identity)
      : (DataFrame, DataFrame) = {
    val posts = keep(rows.groupBy(key)
      .agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) <= maxDf)
      .select(col("ds")))
    // sorted posting list → i<j pairs via slice: C(n,2) structs
    // allocated (the naive nested transform built n² then filtered)
    val pairs = posts
      .select(array_sort(col("ds")).as("ds"))
      .select(explode(expr(
        """IF(size(ds) >= 2,
          |  flatten(transform(sequence(1, size(ds) - 1),
          |    i -> transform(slice(ds, i + 1, size(ds) - i),
          |      y -> struct(element_at(ds, i) AS a, y AS b)))),
          |  array())""".stripMargin)).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"))
    (posts, pairs)
  }

  /** Wide MinHash signatures: one row per doc with numHashes minhash
    * columns mh0..mhN-1, hash_i = md5(i ':' shingle) (engine-portable).
    * ONE aggregation = ONE shuffle; the long-format
    * (doc_id, seed, minhash) variant shuffled numHashes× the rows and
    * forced three recomputations of the shingle explode downstream.
    */
  def minhashSignaturesWide(
      docs: DataFrame, numHashes: Int = 8): DataFrame = {
    val sh = shingles(docs)
    sh.groupBy(col("doc_id"))
      .agg(
        min(md5(concat(lit("0:"), col("shingle")).cast("binary")))
          .as("mh0"),
        (1 until numHashes).map(i =>
          min(md5(concat(lit(s"$i:"), col("shingle")).cast("binary")))
            .as(s"mh$i")): _*)
  }

  /** LSH banding with r=2 rows/band over the wide signatures: docs
    * sharing one full band signature become candidate pairs, verified
    * by estimated similarity = fraction of equal minhashes.
    *
    * Single-pass banding: the signature table (one ~300 B row per doc —
    * a 100–1000× reduction over the text) is PERSISTED, so the shingle
    * explode + 8-way min aggregation runs exactly once; band buckets
    * come from ONE explode of band structs and ONE self-join on
    * (band, b0, b1) instead of a per-band join union. The round-1 shape
    * re-ran the signature aggregation ~6× (4 band branches + 2 verify
    * sides). Persist is deliberate and caller-visible: the cached table
    * is bounded by numHashes × 32 B per doc and spills to disk.
    */
  def minhashLshCandidates(
      docs: DataFrame, numHashes: Int = 8,
      minEstSim: Double = 0.25): DataFrame = {
    require(numHashes % 2 == 0, "r=2 banding needs even numHashes")
    val sig = persistOnce(minhashSignaturesWide(docs, numHashes))
    val nBands = numHashes / 2
    val bandStructs = array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        col(s"mh${2 * b}").as("b0"), col(s"mh${2 * b + 1}").as("b1"))
    }: _*)
    val bands = sig
      .select(col("doc_id"), explode(bandStructs).as("bd"))
      .select(col("doc_id"), col("bd.band").as("band"),
        col("bd.b0").as("b0"), col("bd.b1").as("b1"))
    val cand = bands.select(col("doc_id").as("doc_a"),
        col("band"), col("b0"), col("b1"))
      .join(bands.select(col("doc_id").as("doc_b"),
        col("band"), col("b0"), col("b1")), Seq("band", "b0", "b1"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    val sa = sig.toDF(sig.columns.map(c =>
      if (c == "doc_id") "doc_a" else s"a_$c"): _*)
    val sb = sig.toDF(sig.columns.map(c =>
      if (c == "doc_id") "doc_b" else s"b_$c"): _*)
    val matches = (0 until numHashes).map(i =>
      when(col(s"a_mh$i") === col(s"b_mh$i"), 1d).otherwise(0d))
      .reduce(_ + _)
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(matches / numHashes, 6).as("est_sim"))
      .filter(col("est_sim") >= minEstSim)
  }

  /** SimHash-based near-dup candidates: 64-bit simhash over word
    * tokens (graft.functions.SimHash64, codegen'd; md5-derived token
    * hash → DuckDB-portable, see q33's oracle), banded into nChunks
    * equal-width bit chunks — docs equal on any chunk are candidates,
    * verified by hamming distance ≤ maxHamming. Pigeonhole guarantee:
    * any pair at hamming ≤ nChunks-1 shares at least one chunk; beyond
    * that recall is probabilistic. More chunks ⇒ better recall but
    * narrower chunks ⇒ bigger buckets ⇒ more candidate fanout — the
    * standard banding trade; 8×8-bit is the default.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 12,
      nChunks: Int = 8): DataFrame = {
    require(64 % nChunks == 0, "chunk width must divide 64")
    val width = 64 / nChunks
    val mask = (1L << width) - 1
    // persisted: both self-join sides scan the chunk table, and the
    // signature pass (one md5 per token) is THE cost of this operator —
    // without the cache it executes twice. One 16-byte-ish row per doc,
    // same lifetime contract as the MinHash signature cache.
    val withSig = persistOnce(docs.select(col("doc_id"),
      graft.functions.simhash64(split(trim(col("text")), "\\s+"))
        .as("sig")))
    val chunks = withSig.select(col("doc_id"), col("sig"),
      explode(array((0 until nChunks).map(i =>
        struct(lit(i).as("chunk"),
          shiftright(col("sig"), i * width).bitwiseAND(lit(mask))
            .as("bits"))): _*)).as("c"))
      .select(col("doc_id"), col("sig"), col("c.chunk"), col("c.bits"))
    val l = chunks.select(col("doc_id").as("doc_a"),
      col("sig").as("sig_a"), col("chunk"), col("bits"))
    val r = chunks.select(col("doc_id").as("doc_b"),
      col("sig").as("sig_b"), col("chunk"), col("bits"))
    l.join(r, Seq("chunk", "bits"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-duplicates: exact double-precision cosine
    * with a deterministic op order (sequential widening fold — see
    * graft.functions.VectorKernels) so the DuckDB oracle produces
    * bit-identical doubles. Codegen'd kernel, not a HOF fold (~6×). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.vec_dot(a, b) /
      (sqrt(graft.functions.vec_norm2(a)) *
        sqrt(graft.functions.vec_norm2(b)))

  /** EXACT all-pairs cosine ≥ minCosine, structured as a blocked
    * equi-join (the distributed block-matrix pattern).
    *
    * Exact threshold joins at a LOW threshold over unstructured
    * embeddings are intrinsically Ω(N²·d) — no candidate scheme can
    * skip pairs without losing recall (at θ=0.4 the qualifying pairs
    * are the smooth tail of the cosine distribution, sitting exactly at
    * the threshold; LSH/IVF pruning there is probabilistic by nature —
    * see [[embeddingNearDupsLsh]] for that trade). What CAN and MUST be
    * fixed for scale is the JOIN SHAPE: a `vec_a < vec_b` theta join
    * executes as BroadcastNestedLoopJoin — one broadcast of the whole
    * table and no task-level parallelism control. Here instead each
    * vector is hashed into one of nBlocks blocks and the
    * nBlocks·(nBlocks+1)/2 block PAIRS drive two broadcast-hash joins +
    * one shuffled equi-join on (ba, bb): every task owns one block-pair
    * tile of the N×N triangle, AQE can split skewed tiles, and nothing
    * is nested-loop joined. nBlocks trades replication (each row is
    * shuffled ~nBlocks/2 times) against tile granularity; tiles should
    * be sized so one tile's pair count fits a task comfortably.
    */
  def embeddingNearDups(
      embeddings: DataFrame, minCosine: Double = 0.4,
      nBlocks: Int = 8): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    // norms are per-VECTOR: compute them once per side, not per pair
    val withBlock = embeddings.select(
      col("vec_id"), col("embedding"),
      sqrt(graft.functions.vec_norm2(col("embedding"))).as("nrm"),
      pmod(xxhash64(col("vec_id")), lit(nBlocks)).cast("int").as("blk"))
    val blockPairs = (0 until nBlocks)
      .flatMap(i => (i until nBlocks).map(j => (i, j)))
      .toDF("ba", "bb")
    val left = withBlock
      .select(col("vec_id").as("vec_l"), col("embedding").as("el"),
        col("nrm").as("nl"), col("blk").as("ba"))
      .join(broadcast(blockPairs), Seq("ba"))
    val right = withBlock
      .select(col("vec_id").as("vec_r"), col("embedding").as("er"),
        col("nrm").as("nr"), col("blk").as("bb"))
      .join(broadcast(blockPairs), Seq("bb"))
    left.join(right, Seq("ba", "bb"))
      // diagonal tiles see both orders + self: keep the canonical one;
      // off-diagonal tiles see each unordered pair exactly once
      .filter(col("ba") =!= col("bb") || col("vec_l") < col("vec_r"))
      .select(
        least(col("vec_l"), col("vec_r")).as("vec_a"),
        greatest(col("vec_l"), col("vec_r")).as("vec_b"),
        round(graft.functions.vec_dot(col("el"), col("er")) /
          (col("nl") * col("nr")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
  }

  /** Duplicate-cluster assignment: connected components over a
    * near-dup PAIR table (the canonical-selection step every dedup
    * pipeline needs after pair generation — "keep min doc_id per
    * cluster"). Iterative min-label propagation: each round every node
    * takes the minimum label among itself and its neighbors; labels
    * are monotonically non-increasing, so the label SUM is a strict
    * convergence witness (one cheap agg per round, no change-join).
    *
    * Scale: O(diameter) rounds of one equi-join + agg each, all
    * hash-partitioned on node id — dedup graphs are near-cliques of
    * duplicates (tiny diameter), so 3-4 rounds in practice. Each
    * round's result is checkpointed and the previous one freed, so the
    * plan stays O(1) deep (no exponential plan growth).
    *
    * Output: (doc_id, cluster_id = min doc_id reachable) for every doc
    * that appears in at least one pair; singletons are their own
    * implicit cluster and are not emitted.
    *
    * Graphs of at most localMaxEdges edges short-circuit to a driver
    * union-find over the counted, collected edge list ([[
    * localUnionFind]]) — same contract, no per-round job overhead;
    * see the inline rationale.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50,
      localMaxEdges: Long = 1L << 20): DataFrame = {
    // fail fast on non-numeric ids: cast("long") would silently null
    // string ids and collapse every node into one garbage cluster
    val numeric = Set[org.apache.spark.sql.types.DataType](
      org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.IntegerType,
      org.apache.spark.sql.types.ShortType)
    require(Seq("doc_a", "doc_b").forall(c =>
      numeric.contains(pairs.schema(c).dataType)),
      s"connectedComponents needs integral doc ids, got " +
        s"${pairs.schema("doc_a").dataType}; map string ids to longs " +
        "(e.g. xxhash64 or a dictionary) first")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Both edge directions from ONE scan of the pair plan: a
    // union(select(a,b), select(b,a)) embeds two copies of the upstream
    // pair pipeline (for q36 that is the full q31 shingle join) and
    // executes it twice on first materialization — explode of a 2-array
    // of (src,dst) structs reads each pair row once and emits both
    // directions. The persisted `edges` is then the only materialization
    // the loop ever touches.
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").cast("long").as("src"),
          col("doc_b").cast("long").as("dst")),
        struct(col("doc_b").cast("long").as("src"),
          col("doc_a").cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(lvl)
    // Small-graph fast path: the EDGE set of a dedup graph is bounded
    // by the duplicated pairs — usually orders of magnitude smaller
    // than the corpus that produced it — and each distributed round
    // costs a fixed job overhead that dwarfs the actual work when the
    // graph is tiny (8 rounds over a few hundred edges = seconds of
    // pure scheduling). Below localMaxEdges undirected edges (default
    // 2^20 ≈ 32 MB of directed id pairs on the driver, far under any
    // driver heap) the persisted edge table is collected once and
    // solved with union-find — exact, O(E α(E)), diameter-free. The
    // sizing count materializes the SAME persisted edge table every
    // distributed round would reuse, so the large-graph path pays
    // nothing extra; localMaxEdges = 0 disables the fast path (and is
    // what the specs use to pin the distributed loop's own behavior).
    // Production callers on 10^9+-pair graphs never hit the collect —
    // the bound is checked first.
    if (localMaxEdges > 0 && edges.count() <= 2 * localMaxEdges) {
      val rows = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      edges.unpersist()
      return localUnionFind(pairs.sparkSession, rows)
    }
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("cluster_id", col("doc_id"))
      .persist(lvl)
    // null sum == empty graph: nothing to propagate
    def labelSum(df: DataFrame): Option[java.math.BigDecimal] =
      Option(df.agg(sum(col("cluster_id").cast("decimal(38,0)"))).head()
        .getDecimal(0))
    var prevSum = labelSum(labels)
    var i = 0
    var converged = prevSum.isEmpty
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels, edges("dst") === labels("doc_id"))
        .groupBy(edges("src").as("nid"))
        .agg(min(col("cluster_id")).as("nbr_min"))
      val nextRaw = labels.join(nbrMin, labels("doc_id") === nbrMin("nid"),
          "left")
        .select(labels("doc_id").as("doc_id"),
          least(labels("cluster_id"),
            coalesce(col("nbr_min"), labels("cluster_id")))
            .as("cluster_id"))
      // the plan names `labels` twice, so it would double every round: a
      // lazy localCheckpoint cuts it, materialized by labelSum's action
      val next = nextRaw.localCheckpoint(eager = false)
      val s = labelSum(next)
      freeRound(labels)
      labels = next
      converged = s == prevSum
      prevSum = s
      i += 1
    }
    // wrong-but-silent is the worst outcome for a dedup canonicalizer:
    // an unconverged exit would split one component across cluster ids
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "(component diameter > maxIter); raise maxIter")
    // Hand back a result that leaves NOTHING in the session's cache
    // manager: the convergence loop already fully materialized `labels`,
    // so an eager localCheckpoint just snapshots those rows with
    // truncated lineage, after which the persisted round table and the
    // edge table can be dropped. Checkpoint blocks are released by the
    // ContextCleaner when the returned frame is garbage-collected —
    // unlike persist(), repeated invocations in a long-lived session
    // (bench/driver loops run q36 repeatedly) cannot accumulate cached
    // tables. Note localCheckpoint is executor-local (not fault-tolerant
    // storage); on a real cluster callers doing further heavy work atop
    // the labels should write them to the table store instead — the
    // canonical dedup flow does exactly that.
    val out = labels.localCheckpoint(true)
    freeRound(labels)
    edges.unpersist()
    out
  }

  /** Driver-side union-find over a bounded, already-collected edge
    * list — the [[connectedComponents]] small-graph fast path. Union
    * always hangs the larger root under the smaller, so every root is
    * its component's minimum id and the output contract matches the
    * distributed loop exactly: (doc_id, cluster_id = min reachable
    * id) for every node touched by an edge. */
  private def localUnionFind(
      spark: org.apache.spark.sql.SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x // path compression
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (!parent.contains(a)) parent.update(a, a)
      if (!parent.contains(b)) parent.update(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) parent.update(math.max(ra, rb), math.min(ra, rb))
    }
    val rows = parent.keysIterator
      .map(k => org.apache.spark.sql.Row(k, find(k))).toSeq
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** APPROXIMATE near-dup pairs via sign-LSH banding + exact cosine
    * verify — the 100-TB path for true near-duplicate detection (high
    * thresholds, where LSH recall is near 1): candidates are only
    * bucket-mates (equi-join on (band, bits)), then the exact cosine
    * runs on candidates alone. Recall for a pair at cosine c is
    * 1-(1-p^r)^b with p = 1-acos(c)/π — e.g. r=6, b=12 gives ≥0.98 at
    * c=0.85 but only ~0.3 at c=0.4: this operator is NOT a substitute
    * for [[embeddingNearDups]] at low thresholds (measured recall is
    * asserted in OpsSpec against the exact operator).
    */
  def embeddingNearDupsLsh(
      embeddings: DataFrame, minCosine: Double = 0.85,
      rowsPerBand: Int = 6, nBands: Int = 12, dim: Int = 64): DataFrame = {
    val withNorm = embeddings.select(col("vec_id"), col("embedding"),
      sqrt(graft.functions.vec_norm2(col("embedding"))).as("nrm"))
    val bandStructs = array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        Hyperplanes.bucket(col("embedding"), rowsPerBand, dim,
          firstPlane = b * rowsPerBand).as("bits"))
    }: _*)
    val buckets = withNorm
      .select(col("vec_id"), explode(bandStructs).as("bd"))
      .select(col("vec_id"), col("bd.band").as("band"),
        col("bd.bits").as("bits"))
    val cand = buckets.select(col("vec_id").as("vec_a"),
        col("band"), col("bits"))
      .join(buckets.select(col("vec_id").as("vec_b"),
        col("band"), col("bits")), Seq("band", "bits"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b").distinct()
    val ea = withNorm.select(col("vec_id").as("vec_a"),
      col("embedding").as("el"), col("nrm").as("nl"))
    val eb = withNorm.select(col("vec_id").as("vec_b"),
      col("embedding").as("er"), col("nrm").as("nr"))
    cand.join(ea, "vec_a").join(eb, "vec_b")
      .select(col("vec_a"), col("vec_b"),
        round(graft.functions.vec_dot(col("el"), col("er")) /
          (col("nl") * col("nr")), 6).as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
  }

  /** SEMANTIC decontamination — the paraphrase-robust complement of
    * [[CorpusStats.decontaminate]]: string 3-shingles catch verbatim
    * eval leakage, but a paraphrased benchmark question shares no
    * shingle with its source while its EMBEDDING stays nearly
    * parallel. This flags every corpus doc whose embedding cosine to
    * ANY eval vector reaches minCosine, using the q35 banded sign-LSH
    * machinery so the corpus never shuffles before the probe join.
    *
    * Shape: both sides band via the deterministic [[Hyperplanes]]
    * explode (narrow, codegen'd); the eval side — a benchmark set,
    * executor-memory-small by definition — broadcasts WITH its
    * embeddings, so the probe is a BroadcastHashJoin with ZERO corpus
    * exchange and the exact cosine verify runs streaming on bucket
    * collisions only. Everything after the probe join is bounded by
    * banding selectivity: one groupBy(vec_id, eval_id) dedupes
    * multi-band collisions, one groupBy(vec_id) reduces to the
    * per-doc verdict via the semilattice struct-max (no per-doc
    * window). Recall follows the banded-LSH curve (see
    * [[embeddingNearDupsLsh]]); production decontamination runs at
    * high τ (0.8+) where recall is near 1.
    *
    * Returns (vec_id, eval_id, max_cos, n_eval_hits): the most
    * similar eval vector (ties → lowest eval_id), its cosine, and how
    * many eval vectors cleared τ — the drop/audit record. */
  def semanticDecontaminate(corpus: DataFrame, eval: DataFrame,
      minCosine: Double = 0.8, rowsPerBand: Int = 6, nBands: Int = 12,
      dim: Int = 64): DataFrame = {
    def banded(df: DataFrame): DataFrame = {
      val bandStructs = array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          Hyperplanes.bucket(col("embedding"), rowsPerBand, dim,
            firstPlane = b * rowsPerBand).as("bits"))
      }: _*)
      df.select(col("vec_id"), col("embedding"),
          explode(bandStructs).as("bd"))
        .select(col("vec_id"), col("embedding"),
          col("bd.band").as("band"), col("bd.bits").as("bits"))
    }
    val evalB = banded(eval).select(col("vec_id").as("eval_id"),
      col("embedding").as("ee"), col("band"), col("bits"))
    val cos = round(graft.functions.vec_dot(col("embedding"), col("ee")) /
      (sqrt(graft.functions.vec_norm2(col("embedding"))) *
        sqrt(graft.functions.vec_norm2(col("ee")))), 6)
    banded(corpus).join(broadcast(evalB), Seq("band", "bits"))
      .select(col("vec_id"), col("eval_id"), cos.as("cos_sim"))
      .groupBy("vec_id", "eval_id")
      .agg(max(col("cos_sim")).as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
      .groupBy("vec_id")
      .agg(
        count(lit(1)).as("n_eval_hits"),
        max(struct(col("cos_sim"), (-col("eval_id")).as("neg_id")))
          .as("m"))
      .select(col("vec_id"), (-col("m.neg_id")).as("eval_id"),
        col("m.cos_sim").as("max_cos"), col("n_eval_hits"))
  }

  /** Canonical-representative selection — the step that turns
    * duplicate CLUSTERS into a deduplicated corpus: for every cluster
    * from [[connectedComponents]], keep the "best" member (longest by
    * whitespace token count; ties break to the smallest doc_id so the
    * choice is deterministic) and report how much the cluster
    * collapses. Real pipelines keep the representative and drop the
    * other `n_members - 1` docs.
    *
    * Scale: `clusters` is bounded by the number of DUPLICATED docs
    * (a small fraction of a healthy corpus), so the doc_id equi-join
    * against the corpus is AQE-broadcastable; the token count is a
    * narrow map on the joined rows only. Selection is ONE groupBy of
    * (cluster_id) using a lexicographic struct-max —
    * `max(struct(n_tokens, -doc_id))` — so partial aggregation
    * combines map-side and no per-cluster window sort exists (a
    * row_number window would sort every cluster's members; the
    * struct-max is the semilattice form of the same argmax).
    */
  def clusterRepresentatives(
      clusters: DataFrame, docs: DataFrame): DataFrame =
    clusters
      .join(docs.select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long")
          .as("n_tokens")), Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("n_tokens"), (-col("doc_id")).as("neg_id")))
          .as("m"))
      .select(col("cluster_id"),
        (-col("m.neg_id")).as("rep_doc_id"),
        col("n_members"),
        col("m.n_tokens").as("rep_tokens"))

  /** [[incrementalNew]] with a Bloom-filter pre-filter — the shape
    * that survives a BILLION-fingerprint history: the history is far
    * too large to broadcast as a hash set, but its Bloom digest (at
    * fpp 1%, ~1.2 GB per 10^9 fps; tune fpp to size) is
    * a per-executor constant. Batch fingerprints that FAIL the probe
    * are definitively new and bypass the anti-join entirely; only the
    * probe's positives — true matches plus an fpp-fraction of false
    * positives — reach the exact anti-join, so the join's left side
    * shrinks from |batch| to |matches| + fpp·|batch| while the result
    * stays EXACT (Bloom filters have no false negatives; the oracle
    * pins bit-equality with [[incrementalNew]]).
    *
    * The digest is built DISTRIBUTED (`stat.bloomFilter` partial-aggs
    * per-partition filters and ORs them) and probed by the codegen'd
    * [[graft.functions.BloomMightContain]], deserialized once per
    * executor. The filter is sized by an eager count of the history
    * (one scalar agg).
    */
  def incrementalNewBloom(batch: DataFrame, historyFps: DataFrame,
      fpp: Double = 0.01): DataFrame = {
    val nExpected = math.max(historyFps.count(), 1L)
    val bloom = historyFps.stat.bloomFilter("fp", nExpected, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val probe =
      graft.functions.bloom_might_contain(lit(bos.toByteArray), col("fp"))
    // persisted: the two probe branches below both read the firsts
    val firsts = persistOnce(batch
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id")))
    val definitelyNew = firsts.filter(!probe)
    val candidates = firsts.filter(probe)
      .join(historyFps.select("fp"), Seq("fp"), "left_anti")
    definitelyNew.unionByName(candidates)
      .select(col("doc_id"), col("fp"))
  }

  /** Semantic deduplication (the SemDeDup shape): embedding-space
    * near-duplicate PAIRS from the banded sign-LSH + exact-verify
    * pipeline ([[embeddingNearDupsLsh]]), grouped into duplicate
    * clusters ([[connectedComponents]]), keeping ONE representative
    * per cluster — the min vec_id, which IS the component label, so
    * no extra argmax pass exists. Output: the keep-list of vec_ids
    * (unique vectors plus one representative per semantic-dup
    * cluster) — exactly what a pipeline anti-joins the corpus with
    * before training.
    *
    * Scale: pair generation is the banded-LSH plan (corpus shuffles
    * on bounded band buckets, exact cosine only on candidates);
    * clusters are bounded by the DUPLICATED vectors only, so the
    * final drop-list anti-join is AQE-broadcastable against the full
    * vector table in the common case.
    */
  def semanticDedupKeep(embeddings: DataFrame, minCosine: Double = 0.85,
      rowsPerBand: Int = 4, nBands: Int = 8): DataFrame = {
    val pairs = embeddingNearDupsLsh(embeddings, minCosine,
        rowsPerBand, nBands)
      .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))
    // min-label components: cluster_id == min member id == the
    // representative; every other member is dropped
    val drops = connectedComponents(pairs)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as("vec_id"))
    embeddings.select("vec_id")
      .join(drops, Seq("vec_id"), "left_anti")
  }

  /** Edit-distance verification of near-dup candidate pairs — the
    * exactness backstop behind the sketch: SimHash banding PROPOSES
    * candidates ([[simhashPairs]]), character-level Levenshtein
    * DISPOSES. `edit_sim = 1 - lev / max(|a|, |b|)` with a keep
    * verdict at `minSim`, emitted per pair (not filtered) so audits
    * see what the sketch proposed and why it was accepted/rejected.
    *
    * Scale: Levenshtein is O(|a|·|b|) per pair — running it all-pairs
    * is impossible and running it on candidates is the whole design:
    * cost is |candidates| · len², bounded by the banding selectivity,
    * not the corpus. The two text-attach joins are shuffle equi-joins
    * of the (small) candidate table against the corpus — each text
    * moves once; built-in `levenshtein` is codegen'd (UTF8String
    * kernel, no UDF). Determinism: lev is an integer, lengths are
    * integers, the ratio divides doubles in one fixed order and
    * rounds 1e-6 — bit-reproducible in DuckDB (`levenshtein` there is
    * the same unit-cost character metric). */
  def editDistanceVerify(docs: DataFrame, maxHamming: Int = 7,
      nChunks: Int = 8, minSim: Double = 0.5): DataFrame = {
    val cands = simhashPairs(docs, maxHamming, nChunks)
    val t = docs.select(col("doc_id"), col("text"))
    val sim = round(lit(1.0) -
      col("lev").cast("double") /
        greatest(length(col("ta")), length(col("tb"))).cast("double"),
      6)
    cands
      .join(t.select(col("doc_id").as("doc_a"), col("text").as("ta")),
        Seq("doc_a"))
      .join(t.select(col("doc_id").as("doc_b"), col("text").as("tb")),
        Seq("doc_b"))
      .withColumn("lev", levenshtein(col("ta"), col("tb")))
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("lev"),
        sim.as("edit_sim"))
      .withColumn("is_dup", col("edit_sim") >= lit(minSim))
  }

  /** Cross-source near-duplicate matrix — the governance view of the
    * dedup pipeline: which SOURCE PAIRS share near-duplicate content
    * (mirror sites, syndicated feeds, scraped re-posts). MinHash-LSH
    * candidate pairs ([[minhashLshCandidates]]) are annotated with each
    * side's source and rolled up to an unordered (src_lo, src_hi) cell
    * with a pair count and mean estimated similarity.
    *
    * Scale: the pair table is bounded by LSH banding selectivity (never
    * corpus²); the two source-attach joins are shuffle equi-joins of
    * that small table against the (doc_id, source) projection — text
    * never moves; the output is bounded by n_sources². Determinism:
    * est_sim is already rounded 1e-6, so the mean is computed over
    * EXACT integers (est_sim·10⁶ is integral by construction) and
    * divided once — summation-order-immune, bit-equal in DuckDB. */
  def crossSourceDupMatrix(docs: DataFrame, numHashes: Int = 8,
      minEstSim: Double = 0.25): DataFrame = {
    val pairs = minhashLshCandidates(
      docs.select("doc_id", "text"), numHashes, minEstSim)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.toDF("doc_a", "source_a"), Seq("doc_a"))
      .join(src.toDF("doc_b", "source_b"), Seq("doc_b"))
      .select(
        least(col("source_a"), col("source_b")).as("src_lo"),
        greatest(col("source_a"), col("source_b")).as("src_hi"),
        round(col("est_sim") * 1000000d).cast("long").as("sim6"))
      .groupBy("src_lo", "src_hi")
      .agg(
        count(lit(1)).as("n_pairs"),
        round((sum(col("sim6")).cast("double") / lit(1000000d)) /
          count(lit(1)).cast("double"), 6).as("avg_est_sim"))
  }

  /** Leakage-safe train/validation split: a random doc-level split
    * puts one member of a near-dup cluster in train and its twin in
    * val, silently inflating every eval metric — the split unit must
    * be the DUP CLUSTER, not the document. Exact-Jaccard pairs
    * ([[ngramJaccardPairs]]) → min-label connected components; docs
    * outside any pair are their own singleton cluster (cluster_id =
    * doc_id); the whole cluster lands in val iff the cluster id's
    * deterministic md5-bucket ([[CorpusStats.hashBucket]], 0..4095)
    * falls under valPerMille·4096/1000 — same-key-same-fate, so
    * cluster coherence is structural, not probabilistic.
    *
    * Scale: the component table is bounded by the number of docs IN
    * pairs (AQE broadcasts it when small; an equi-join either way);
    * the corpus itself never shuffles — assignment is a left join +
    * narrow hash map. Retry-safe/deterministic for the
    * [[CorpusStats.hashSample]] reasons. */
  def leakageSafeSplit(docs: DataFrame, k: Int = 3,
      minJaccard: Double = 0.1, valPerMille: Int = 100): DataFrame = {
    val cc = connectedComponents(
      ngramJaccardPairs(docs.select("doc_id", "text"), k, minJaccard)
        .select("doc_a", "doc_b"))
    val threshold = (valPerMille * 4096) / 1000
    docs.select("doc_id")
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("split",
        when(CorpusStats.hashBucket(col("cluster_id")) <
          lit(threshold), "val").otherwise("train"))
  }

  /** LSH recall/precision audit — the dedup pipeline measuring ITSELF:
    * exact df-capped Jaccard pairs at τ ([[ngramJaccardPairs]]) are
    * ground truth; MinHash-LSH candidates at the same τ
    * ([[minhashLshCandidates]]) are the approximation under test. A
    * full-outer join on the unordered pair key buckets every pair into
    * hit / miss (truth-only) / spurious (candidate-only); the returned
    * 1-row report carries recall and precision — the numbers that
    * decide whether a given (numHashes, banding) config may replace
    * the exact path at the next scale-up.
    *
    * Scale: this is intentionally the SUM of its two inputs' costs (an
    * audit runs on a sampled slice at 100 TB — the composition shape is
    * what matters: both sides keyed (doc_a, doc_b), one equi-join, one
    * bounded two-phase agg to a single row; nothing all-pairs beyond
    * what the audited operators themselves do). */
  def lshRecallAudit(docs: DataFrame, tau: Double = 0.25,
      numHashes: Int = 8, k: Int = 3): DataFrame = {
    val truth = ngramJaccardPairs(docs.select("doc_id", "text"), k, tau)
      .select(col("doc_a"), col("doc_b"), lit(1).as("t"))
    val cand = minhashLshCandidates(
        docs.select("doc_id", "text"), numHashes, tau)
      .select(col("doc_a"), col("doc_b"), lit(1).as("c"))
    truth.join(cand, Seq("doc_a", "doc_b"), "full_outer")
      .agg(
        sum(coalesce(col("t"), lit(0))).cast("long").as("n_truth"),
        sum(coalesce(col("c"), lit(0))).cast("long").as("n_cand"),
        sum(when(col("t").isNotNull && col("c").isNotNull, 1L)
          .otherwise(0L)).as("n_hit"))
      .select(col("n_truth"), col("n_cand"), col("n_hit"),
        round(col("n_hit").cast("double") /
          col("n_truth").cast("double"), 6).as("recall"),
        round(col("n_hit").cast("double") /
          col("n_cand").cast("double"), 6).as("precision"))
  }

  /** Jaccard threshold-sensitivity sweep: near-dup pair counts at
    * every candidate dedup threshold 0.1…0.9 from ONE pass of the
    * q31 machinery — the tuning audit run before committing a corpus
    * to a threshold. A sharp drop between two thresholds marks where
    * the pair population separates into true dups vs topical overlap;
    * a flat curve means the threshold barely matters.
    *
    * Scale: pairs are derived once at the base threshold (the
    * intrinsic q31 cost) and reduced to a ≤10-row bucket histogram
    * (exact micro-integer bucketing of the 1e-6-rounded jaccard — no
    * float·10 floor, whose representation error misbuckets 0.3); the
    * suffix accumulation runs on the driver over that bounded
    * histogram (the q107 dailyVolume pattern — documented bound, ≤10
    * rows), NOT as a theta-join (BNLJ) or partition-less window. */
  def jaccardThresholdSweep(docs: DataFrame, k: Int = 3,
      base: Double = 0.1): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val buckets = ngramJaccardPairs(docs.select("doc_id", "text"), k,
        base)
      .withColumn("bucket",
        expr("CAST(round(jaccard * 1000000) AS BIGINT) div 100000"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .collect() // bounded: ≤ 10 jaccard bands
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = buckets.filter(_._1 >= 1L).values.sum
    (1 to 9).map { t =>
      val nGe = buckets.filter(_._1 >= t).values.sum
      (t / 10.0, nGe,
        if (total == 0L) 0.0
        else BigDecimal(nGe.toDouble / total)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("threshold", "n_pairs_ge", "share_of_base")
      .orderBy("threshold")
  }

  /** Dedup-aware effective token mass per source: each document's
    * tokens are down-weighted by its near-dup cluster size (q31 pairs
    * → q36 components, singletons their own cluster), so a source
    * whose bulk is 40 copies of one page contributes ~1 page of
    * effective tokens. dup_inflation = raw/effective is the per-source
    * mixing-weight correction a token-budgeted sampler (q39/q122)
    * applies — raw token counts over-credit duplicated sources.
    *
    * Scale: the pair→component derivation is exactly q36's (the
    * intrinsic cost class; see [[connectedComponents]]); on top of it
    * this adds one narrow token projection, a left join keyed doc_id
    * (near-dup members only — the cluster map is the SMALL side at
    * real dup rates, AQE-broadcastable), one cluster-size agg keyed
    * cluster_id, and one bounded per-source rollup. Per-doc effective
    * tokens round 1e-6 BEFORE the source sum (each quotient is
    * bitwise-deterministic, so both engines sum the same 1e-6-grid
    * values; the sum re-rounds at output). */
  def effectiveTokens(docs: DataFrame, k: Int = 3,
      minJaccard: Double = 0.1): DataFrame = {
    val cl = connectedComponents(
      ngramJaccardPairs(docs.select("doc_id", "text"), k, minJaccard)
        .select("doc_a", "doc_b"))
    val tok = docs.select(col("doc_id"), col("source"),
      size(TextAnalysis.tokens(col("text"))).cast("long")
        .as("n_tokens"))
    val withCl = tok.join(cl, Seq("doc_id"), "left")
      .withColumn("cluster_id",
        coalesce(col("cluster_id"), col("doc_id")))
    val sizes = withCl.groupBy("cluster_id")
      .agg(count(lit(1)).as("csize"))
    withCl.join(sizes, Seq("cluster_id"))
      .withColumn("eff", round(col("n_tokens").cast("double") /
        col("csize").cast("double"), 6))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("csize") > 1L, 1L).otherwise(0L))
          .as("n_in_clusters"),
        sum("n_tokens").as("raw_tokens"),
        round(sum("eff"), 6).as("eff_tokens"))
      .withColumn("dup_inflation",
        round(col("raw_tokens").cast("double") / col("eff_tokens"), 6))
      .orderBy("source")
  }

  /** q160: cosine threshold-sensitivity sweep — q140's dedup-tuning
    * curve for the EMBEDDING near-dup family: the q35 banded-LSH
    * candidate pairs (high-recall banding, r=3×b=12) bucketed per 0.1
    * of cosine, reported as cumulative pair counts at every candidate
    * threshold. Read together with q140 (Jaccard) and q161 (SimHash
    * hamming), it prices a threshold choice in each family's own
    * metric before anyone re-runs the full dedup.
    *
    * Scale: the pair derivation is exactly q35's (banded equi-join,
    * no BNLJ); pairs reduce to a ≤11-bucket histogram collected to
    * the driver (q140's posture) — the returned table is literal. */
  def cosineThresholdSweep(embeddings: DataFrame, base: Double = 0.1,
      rowsPerBand: Int = 3, nBands: Int = 12): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val buckets = embeddingNearDupsLsh(embeddings, minCosine = base,
        rowsPerBand = rowsPerBand, nBands = nBands)
      .withColumn("bucket",
        expr("CAST(round(cos_sim * 1000000) AS BIGINT) div 100000"))
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = buckets.filter(_._1 >= 1L).values.sum
    (1 to 9).map { t =>
      val nGe = buckets.filter(_._1 >= t).values.sum
      (t / 10.0, nGe,
        if (total == 0L) 0.0
        else BigDecimal(nGe.toDouble / total)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("threshold", "n_pairs_ge", "share_of_base")
      .orderBy("threshold")
  }

  /** q161: SimHash hamming-distance sweep — the third dedup family's
    * tuning curve (q140 Jaccard, q160 cosine): q33's banded candidate
    * pairs histogrammed by hamming distance, reported as cumulative
    * pairs at every ≤h cut. The knee of this curve is where a SimHash
    * dedup's hamming budget stops buying near-dups and starts buying
    * false positives.
    *
    * Scale: q33's machinery verbatim (persisted signatures, 8×8-bit
    * pigeonhole banding — exact for h ≤ 7); the histogram is ≤8 rows
    * collected to the driver. */
  def hammingThresholdSweep(docs: DataFrame, maxHamming: Int = 7)
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hist = simhashPairs(docs, maxHamming)
      .groupBy("hamming").agg(count(lit(1)).as("n"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = hist.values.sum
    (0 to maxHamming).map { h =>
      val nLe = hist.filter(_._1 <= h).values.sum
      (h, nLe,
        if (total == 0L) 0.0
        else BigDecimal(nLe.toDouble / total)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toDF("max_hamming", "n_pairs_le", "share_of_candidates")
      .orderBy("max_hamming")
  }

  /** q157: CROSS-corpus leak detection — which pretraining DOCUMENTS
    * contain spans of user CONVERSATIONS? The privacy/contamination
    * audit q37 can't do: q37 checks corpus-vs-eval with a broadcastable
    * eval side; here BOTH sides are corpora (billions of docs ×
    * billions of conversations), so the overlap must resolve through a
    * hash-keyed equi-join, never a broadcast. Each conversation is
    * rendered to its turn-ordered text (the q123 frame-order-safe
    * array_sort render) and both sides reduce to DISTINCT k-shingle
    * md5s.
    *
    * Scale: 16-byte hashes are all that shuffles; df-caps on BOTH
    * sides (shingles in > dfCap docs, or > dfCap conversations —
    * boilerplate, not leaks) bound the join's per-key fan-out exactly
    * like q31's hot-shingle anti-join, so no key can go quadratic.
    * Output: (doc_id, conv_id) pairs sharing ≥ minShared distinctive
    * shingles, with the doc-side containment fraction. */
  def crossCorpusLeak(docs: DataFrame, turns: DataFrame, k: Int = 3,
      minShared: Long = 2, dfCap: Long = 50): DataFrame = {
    val docSh = persistOnce(docs
      .select(col("doc_id"),
        explode(graft.functions.word_shingles(col("text"), k))
          .as("sh"))
      .select(col("doc_id"), md5(col("sh").cast("binary")).as("h")))
    val hotDoc = docSh.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("h")
    val convText = turns.groupBy(col("conv_id")).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("turn_idx"), col("text")))),
        x => x.getField("text")), " ").as("ctext"))
    val convSh = persistOnce(convText
      .select(col("conv_id"),
        explode(graft.functions.word_shingles(col("ctext"), k))
          .as("sh"))
      .select(col("conv_id"), md5(col("sh").cast("binary")).as("h")))
    val hotConv = convSh.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") > dfCap).select("h")
    val docN = docSh.groupBy("doc_id")
      .agg(count(lit(1)).as("doc_shingles"))
    docSh.join(hotDoc, Seq("h"), "left_anti")
      .join(hotConv, Seq("h"), "left_anti")
      .join(convSh, Seq("h"))
      .groupBy("doc_id", "conv_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(docN, Seq("doc_id"))
      .select(col("doc_id"), col("conv_id"), col("n_shared"),
        col("doc_shingles"),
        round(col("n_shared").cast("double") / col("doc_shingles"), 6)
          .as("leak_frac"))
      .orderBy("doc_id", "conv_id")
  }

  /** q166: source-level MinHash similarity matrix — each SOURCE's
    * entire shingle set compressed to one numHashes-component MinHash
    * signature (the q32 hash family, source-keyed), pairwise estimated
    * Jaccard = matching-component fraction. The corpus-composition
    * twin of q93: q93 counts document-pair dups ACROSS sources; this
    * estimates whole-source content overlap even when no individual
    * pair survives banding — the "are these two crawls the same site
    * list?" screen run before paying for a full cross-dedup.
    *
    * Scale: ONE shingle explode → ONE source-keyed agg of numHashes
    * mins (map-side combined — per-partition partials are numHashes ×
    * nSources cells, shingle strings never shuffle beyond the md5
    * partials' keys); the signature table is nSources rows, paired on
    * the driver (bounded, documented — sources are O(100) in any real
    * mixture). */
  def sourceMinhashSim(docs: DataFrame, numHashes: Int = 8)
      : DataFrame = {
    val spark = docs.sparkSession
    val sh = docs.select(col("source"),
      explode(graft.functions.word_shingles(col("text"), 3))
        .as("shingle"))
    val sig = sh.groupBy(col("source"))
      .agg(
        min(md5(concat(lit("0:"), col("shingle")).cast("binary")))
          .as("mh0"),
        (1 until numHashes).map(i =>
          min(md5(concat(lit(s"$i:"), col("shingle")).cast("binary")))
            .as(s"mh$i")): _*)
      .collect()
      .map(r => r.getString(0) ->
        (0 until numHashes).map(i => r.getString(i + 1)))
      .sortBy(_._1)
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    (for {
      i <- sig.indices; j <- (i + 1) until sig.length
    } yield {
      val n = sig(i)._2.zip(sig(j)._2).count { case (a, b) => a == b }
      (sig(i)._1, sig(j)._1, n, r6(n.toDouble / numHashes))
    }).toDF("source_a", "source_b", "n_matching", "est_jaccard")
      .orderBy("source_a", "source_b")
  }

  /** q168: duplicate-growth curve across ingestion deciles — for each
    * prefix of the corpus (q151's exact-integer decile key), the
    * cumulative exact-dup rate 1 − distinct/total. Dup rate GROWS
    * superlinearly with corpus size (every new doc can collide with
    * everything before it), so the curve extrapolates what dedup will
    * reclaim at 10× the crawl — the capacity-planning number behind
    * q141's dedup-aware quotas, measured instead of assumed.
    *
    * Scale: text reduces to its md5 in the scan; ONE (hash → min
    * decile) agg keyed on the 16-byte fingerprint + ONE bounded
    * ≤nBuckets re-agg each for first-seen and doc counts; cumulative
    * sweep on the driver over ≤nBuckets rows (q151 posture). */
  def dupGrowthCurve(docs: DataFrame, nBuckets: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val n = maxId + 1
    val dec = least(expr(s"doc_id * $nBuckets DIV ${n}L"),
      lit(nBuckets - 1L)).cast("int")
    val keyed = persistOnce(docs.select(dec.as("decile"),
      md5(col("text").cast("binary")).as("h")))
    val perDec = keyed.groupBy("decile")
      .agg(count(lit(1)).as("n_docs")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val firstSeen = keyed.groupBy("h")
      .agg(min(col("decile")).as("first_decile"))
      .groupBy("first_decile").agg(count(lit(1)).as("n_new"))
      .collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    keyed.unpersist()
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val deciles = perDec.keys.toSeq.sorted
    var cumDocs = 0L
    var cumNew = 0L
    import spark.implicits._
    deciles.map { d =>
      val nd = perDec(d)
      val nw = firstSeen.getOrElse(d, 0L)
      cumDocs += nd
      cumNew += nw
      (d, nd, nw, cumDocs, cumNew,
        r6(1.0 - cumNew.toDouble / cumDocs))
    }.toDF("decile", "n_docs", "n_new_hashes", "cum_docs",
        "cum_distinct", "cum_dup_rate")
      .orderBy("decile")
  }

  /** q170: canonicalization dedup sweep — exact-dup yield at four
    * nested canonicalization levels (raw text, lowercase, +whitespace
    * collapse, +punctuation strip). Exact dedup's recall depends
    * entirely on what "exact" means: crawls carry near-identical
    * pages differing only in case, spacing or punctuation, and this
    * curve prices each normalization step in reclaimed duplicates —
    * the tuning table for q30's key choice, the canonical-form
    * counterpart of q140's Jaccard-threshold and q160's cosine
    * sweeps. Levels are nested (each extends the previous), so
    * distinct counts are non-increasing down the table.
    *
    * Scale: every canonical hash is computed in the ONE scan's
    * codegen span (text never leaves the mapper — only four 16-byte
    * md5s per doc reach the agg); the four COUNT(DISTINCT)s share a
    * single Expand agg (4× narrow-row duplication, the q148
    * posture), so the corpus is read and shuffled once regardless of
    * how many levels the sweep prices. Returned ≤4-row table is
    * driver-local (q164 posture: zero exchanges in the final plan).
    */
  def canonDedupSweep(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val lowered = lower(col("text"))
    val ws = trim(regexp_replace(lowered, "\\s+", " "))
    val alnum = trim(regexp_replace(
      regexp_replace(lowered, "[^a-z0-9\\s]", ""), "\\s+", " "))
    val row = docs
      .select(
        md5(col("text").cast("binary")).as("h0"),
        md5(lowered.cast("binary")).as("h1"),
        md5(ws.cast("binary")).as("h2"),
        md5(alnum.cast("binary")).as("h3"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("h0")).as("d0"),
        countDistinct(col("h1")).as("d1"),
        countDistinct(col("h2")).as("d2"),
        countDistinct(col("h3")).as("d3"))
      .head()
    val n = row.getLong(0)
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    Seq("raw", "lower", "lower_ws", "lower_ws_alnum").zipWithIndex
      .map { case (level, i) =>
        val d = row.getLong(i + 1)
        (i, level, n, d, n - d,
          r6(if (n == 0) 0.0 else (n - d).toDouble / n))
      }
      .toDF("level_idx", "level", "n_docs", "n_distinct", "n_dup",
        "dup_rate")
      .orderBy("level_idx")
  }

  /** q172: prefix-duplicate clusters — docs sharing the md5 of their
    * first `prefixLen` chars while their FULL hashes differ. Crawls
    * carry the same page truncated at different byte limits, with
    * different footers, or with trailing comment sections; exact
    * dedup (q30) sees distinct hashes and keeps every copy, and the
    * shingle families only catch them above the Jaccard threshold.
    * A shared long prefix is the cheap, high-precision signal for
    * exactly this truncation class. Pure-exact-dup clusters
    * (n_full_distinct = 1) are excluded — q30 already owns those.
    *
    * Scale: each doc reduces to two 16-byte md5s + its id in the
    * scan; ONE groupBy on the prefix hash (count + COUNT(DISTINCT
    * full) + min-id representative) is the only corpus shuffle, and
    * text itself never moves. Same plan class as q30 at one extra
    * hash column. */
  /** q187: dedup-family pair-agreement Venn — the three shipped
    * candidate generators (q31 shingle-Jaccard, q32 MinHash-LSH, q33
    * SimHash) run at their registry configurations over the SAME
    * corpus, and every candidate pair lands in one of the 7 Venn
    * cells. The q167 filter-agreement audit, for dedup: LSH pairs
    * missing from the exact-Jaccard set price the banding's false
    * positives, Jaccard-only pairs price its false negatives, and a
    * SimHash-only lobe says the hamming radius is tuned to a
    * different notion of "near" than the shingle families.
    *
    * Scale: each family's pair derivation is its own already-audited
    * plan (banded/bucketed, never all-pairs); agreement is a
    * full-outer join family on the 16-byte-keyed (doc_a, doc_b) pair
    * space — pairs, never corpora — followed by ONE ≤7-cell rollup. */
  def dedupFamilyVenn(docs: DataFrame): DataFrame = {
    val d = persistOnce(docs)
    def pairsOf(df: DataFrame, flag: String): DataFrame =
      df.select(col("doc_a"), col("doc_b"), lit(1L).as(flag))
    val j = pairsOf(
      ngramJaccardPairs(d, k = 3, minJaccard = 0.1), "in_jaccard")
    val m = pairsOf(
      minhashLshCandidates(d, numHashes = 8, minEstSim = 0.25),
      "in_minhash")
    val s = pairsOf(simhashPairs(d, maxHamming = 7), "in_simhash")
    j.join(m, Seq("doc_a", "doc_b"), "full_outer")
      .join(s, Seq("doc_a", "doc_b"), "full_outer")
      .select(
        (coalesce(col("in_jaccard"), lit(0L)) === 1L).as("in_jaccard"),
        (coalesce(col("in_minhash"), lit(0L)) === 1L).as("in_minhash"),
        (coalesce(col("in_simhash"), lit(0L)) === 1L).as("in_simhash"))
      .groupBy("in_jaccard", "in_minhash", "in_simhash")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("in_jaccard", "in_minhash", "in_simhash")
  }

  /** q192: cross-source exact-duplicate flow matrix — for every source
    * pair, how many distinct texts appear verbatim in BOTH. The exact
    * complement of q166's MinHash estimate: q166 prices NEAR overlap
    * from signatures, this counts literal mirroring (wire-service
    * syndication, mirrored crawls, re-uploads), which is what decides
    * whether two sources should even be ingested separately.
    *
    * Scale: everything is keyed on the 16-byte md5 — text never
    * shuffles. The (hash, source) distinct is one corpus agg; the
    * self-join fans out only within a hash's ≤|sources| distinct rows
    * (bounded per key by the source vocabulary, not by dup-cluster
    * size); the rollup key is ≤|sources|² cells. */
  def crossSourceDupFlow(docs: DataFrame): DataFrame = {
    val d = persistOnce(docs
      .select(md5(col("text").cast("binary")).as("h"), col("source"))
      .distinct())
    d.as("a").join(d.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"),
        col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_texts"))
      .orderBy("source_a", "source_b")
  }

  /** q177: near-dup cluster-SIZE histogram — the distribution view of
    * q36's components: how many clusters of size 2, 3, …, plus the
    * singleton mass (docs in no near-dup pair at all). Dedup capacity
    * planning reads this, not the raw pair list: a corpus whose dup
    * mass sits in two mega-clusters needs rep-selection (q47) and
    * hot-key handling; ten thousand pairs need nothing special. The
    * doc_share column prices what each size class would reclaim.
    *
    * Scale: re-derives q31's pairs + q36's components (their
    * documented floors), then the histogram is two bounded re-aggs —
    * distinct cluster sizes are O(√edges), so the collect is bounded
    * (the q68 posture); the singleton row is arithmetic on two
    * scalars. Returned ≤sizes-row local table sorts only. */
  def clusterSizeHistogram(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val total = docs.count()
    val comps = connectedComponents(
      ngramJaccardPairs(docs, k = 3, minJaccard = 0.1)
        .select("doc_a", "doc_b"))
    val hist = comps.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("csize"))
      .groupBy(col("csize"))
      .agg(count(lit(1)).as("n_clusters"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val inComps = hist.map { case (s, n) => s * n }.sum
    val rows = (hist.toSeq :+ (1L -> (total - inComps))).sortBy(_._1)
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    rows.map { case (s, n) =>
      (s, n, s * n, r6((s * n).toDouble / total))
    }.toDF("csize", "n_clusters", "n_docs", "doc_share")
      .orderBy("csize")
  }

  def prefixDupReport(docs: DataFrame, prefixLen: Int = 64)
      : DataFrame =
    docs
      .select(
        md5(substring(col("text"), 1, prefixLen).cast("binary"))
          .as("prefix_hash"),
        md5(col("text").cast("binary")).as("fh"),
        col("doc_id"))
      .groupBy("prefix_hash")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("fh")).as("n_full_distinct"),
        min(col("doc_id")).as("rep_doc_id"))
      .filter(col("n_docs") > 1 && col("n_full_distinct") > 1)
      .orderBy(col("n_docs").desc, col("prefix_hash"))
}
