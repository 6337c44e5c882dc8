package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level operators for training-data pipelines: global n-gram
  * frequency tables, reproducible hash sampling / corpus mixing,
  * sequence packing into fixed token budgets, and benchmark
  * decontamination (n-gram overlap of a training corpus against a
  * held-out evaluation set).
  */
object CorpusStats {

  /** Top-N most frequent word k-grams across the corpus.
    *
    * Scale: explode is a narrow map (codegen'd WordNgrams, with
    * multiplicity); the groupBy is ONE shuffle of (ngram,
    * partial_count) pairs — partial aggregation combines map-side, so
    * hot n-grams ("of the") arrive at reducers as one pre-summed row
    * per map partition, not raw occurrences — the agg itself absorbs
    * skew. The final top-N is TakeOrderedAndProject (per-partition
    * heaps + driver merge of N rows), never a global sort of the
    * full frequency table. Ties break on the n-gram string so the
    * result is deterministic and oracle-comparable.
    */
  def topNgrams(docs: DataFrame, k: Int = 2, topN: Int = 20): DataFrame =
    docs
      .select(explode(graft.functions.word_ngrams(col("text"), k))
        .as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("ngram"))
      .limit(topN)

  /** Contiguous sequence packing: assign every document to a
    * fixed-token-budget training sequence by its running token offset
    * within its stratum (source), ordered by doc_id — the
    * corpus → training-sequences step after filtering/mixing.
    * `seq_id = floor(tokens_before_this_doc / budget)`.
    *
    * Scale: the naive form — ONE window cumsum partitioned by source —
    * is a skew trap (a stratum is a window partition, so one task must
    * sort and scan the entire stratum; AQE cannot split a window
    * partition). This is the two-pass DISTRIBUTED PREFIX SUM instead:
    * docs bucket by doc-id range (bucket order == doc order, since
    * floor(doc_id/bucketSize) is monotonic); pass 1 reduces the corpus
    * to one row per (source, bucket); pass 2 windows over that table
    * to get each bucket's starting offset and broadcast-joins it back,
    * so the corpus-side window is confined to a (source, bucket)
    * cell. The result is bucketSize-invariant (asserted in OpsSpec
    * against the naive single window).
    *
    * bucketSize defaults to AUTO (0): one cheap agg reads max(doc_id)
    * and the source cardinality, then sizes buckets so the offsets
    * table — one row per OCCUPIED (source, bucket) pair, worst case
    * nSources × nBuckets when sources interleave across the id space
    * (exactly what corpus mixing produces) — stays ≤ ~2^16 rows: the
    * broadcast is a few MB and pass 2's per-source window scans a
    * bounded row count, REGARDLESS of corpus size. A fixed bucketSize
    * would instead grow the offsets table (and the broadcast) linearly
    * with the id space. The auto path runs its sizing agg EAGERLY at
    * plan-construction time (a column-pruned scan of (doc_id, source)
    * only) — callers that already know the id space / source count
    * (table statistics, a prior pass) should pass bucketSize
    * explicitly to skip it. Null sources/ids are kept in their own
    * partition (null-safe join), matching the window/oracle semantics.
    */
  def packSequences(
      docs: DataFrame, budgetTokens: Long = 2048,
      bucketSize: Long = 0L): DataFrame =
    withTokensBefore(docs, bucketSize)
      .select(col("doc_id"), col("source"), col("est_tokens"),
        floor(col("tokens_before") / budgetTokens.toDouble).cast("long")
          .as("seq_id"))

  /** The budget-independent core of [[packSequences]]: per-doc running
    * token offset within its source stratum via the bucketed two-pass
    * distributed prefix sum (see the q29 scaladoc above). Shared by
    * the q191 packing-efficiency sweep, which evaluates several
    * budgets over ONE offset derivation. */
  private[ops] def withTokensBefore(
      docs: DataFrame, bucketSize: Long = 0L): DataFrame = {
    val bs =
      if (bucketSize > 0) bucketSize
      else {
        val row = docs
          .agg(max(col("doc_id")), countDistinct(col("source"))).head()
        val maxId = if (row.isNullAt(0)) 0L else row.getLong(0)
        val nSources = math.max(row.getLong(1), 1L)
        // ≤ 2^16 offset rows in the worst (fully interleaved) case
        val nBuckets = math.max(1L, (1L << 16) / nSources)
        math.max(1L, (maxId + nBuckets) / nBuckets)
      }
    val base = docs
      .select(col("doc_id"), col("source"),
        TextAnalysis.estBpeTokens(col("text")).as("est_tokens"))
      .withColumn("bucket", floor(col("doc_id") / bs))
    val bucketSums = base.groupBy("source", "bucket")
      .agg(sum("est_tokens").as("bucket_tokens"))
    val wB = Window.partitionBy("source").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketSums
      .withColumn("bucket_offset",
        coalesce(sum(col("bucket_tokens")).over(wB), lit(0L)))
      .select(col("source").as("o_source"), col("bucket").as("o_bucket"),
        col("bucket_offset"))
    val wD = Window.partitionBy("source", "bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    base.join(broadcast(offsets),
        // null-safe: a null source (or id) forms its own partition in
        // the window/oracle semantics; a plain equi-join would DROP it
        base("source") <=> col("o_source") &&
          base("bucket") <=> col("o_bucket"))
      .withColumn("tokens_before",
        col("bucket_offset") +
          coalesce(sum(col("est_tokens")).over(wD), lit(0L)))
      .select(col("doc_id"), col("source"), col("est_tokens"),
        col("tokens_before"))
  }

  /** q191: packing-efficiency frontier — the q29 contiguous packer
    * evaluated at several sequence budgets over ONE offset derivation:
    * per budget, how many training sequences come out, how full they
    * are, and how many documents straddle a sequence boundary (split
    * docs lose coherence — the packing-quality cost that shrinking
    * the budget inflates). The table that picks seq_len: fill_ratio
    * rises and split_share falls as the budget grows, and the knee is
    * the right configuration; q186's length percentiles say why.
    *
    * Scale: tokens_before is budget-INDEPENDENT, so the sweep is the
    * single q29-class two-pass prefix sum plus one narrow explode of
    * the ≤|budgets| literal array and a (budget, source)-keyed bounded
    * agg rolled up to |budgets| rows. Adding a budget costs one more
    * row per (budget, source) cell, not another corpus pass. */
  def packingSweep(
      docs: DataFrame,
      budgets: Seq[Long] = Seq(256L, 1024L, 4096L)): DataFrame = {
    val tb = withTokensBefore(docs)
    val b = col("budget")
    // last token index of the doc (empty docs occupy one slot so the
    // boundary test stays well-defined)
    val endTok = col("tokens_before") +
      greatest(col("est_tokens"), lit(1L)) - lit(1L)
    val startSeq = floor(col("tokens_before") / b.cast("double"))
    val endSeq = floor(endTok / b.cast("double"))
    tb.select(col("source"), col("est_tokens"), col("tokens_before"),
        explode(typedLit(budgets)).as("budget"))
      .groupBy(b, col("source"))
      .agg(
        count(lit(1)).as("nd"),
        sum(col("est_tokens")).as("tt"),
        (max(endSeq) + lit(1L)).cast("long").as("n_seqs_src"),
        sum(when(startSeq =!= endSeq, 1L).otherwise(0L)).as("nsplit"))
      .groupBy(b)
      .agg(
        sum(col("nd")).as("n_docs"),
        sum(col("tt")).as("total_tokens"),
        sum(col("n_seqs_src")).as("n_seqs"),
        sum(col("nsplit")).as("n_split_docs"))
      .select(b, col("n_docs"), col("total_tokens"), col("n_seqs"),
        round(col("total_tokens").cast("double") /
          (col("n_seqs") * b).cast("double"), 6).as("fill_ratio"),
        col("n_split_docs"),
        round(col("n_split_docs").cast("double") /
          col("n_docs").cast("double"), 6).as("split_share"))
      .orderBy("budget")
  }

  /** Column-level data profiling — the pre-training sanity pass every
    * ingestion pipeline runs before committing a corpus (the
    * Deequ-style shape): per column, null count, exact distinct
    * count, lexicographic min/max of the string form. One row per
    * profiled column.
    *
    * Scale: ONE wide aggregation job — Spark plans the multiple
    * countDistinct aggregates with a single Expand + partial-agg
    * pipeline (rows multiply by #columns map-side but combine before
    * the one shuffle), so the input is scanned exactly once however
    * many columns are profiled. The per-column pivot happens on the
    * bounded single-row aggregate via explode — nothing is collected
    * to the driver. For approximate profiling at extreme cardinality
    * use [[profileApprox]] — the sketch path executed with an
    * in-query accuracy verdict; this exact form stays the default
    * because the oracle pins the exact contract.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nonnull"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        min(col(c).cast("string")).as(s"${c}__min"),
        max(col(c).cast("string")).as(s"${c}__max"))
    }
    val wide = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
    wide.select(explode(array(cols.map(c => struct(
        lit(c).as("column"),
        (col("n_rows") - col(s"${c}__nonnull")).as("n_nulls"),
        col(s"${c}__distinct").as("n_distinct"),
        col(s"${c}__min").as("min_str"),
        col(s"${c}__max").as("max_str"))): _*)).as("p"))
      .select(col("p.column"), col("p.n_nulls"), col("p.n_distinct"),
        col("p.min_str"), col("p.max_str"))
  }

  /** The extreme-cardinality profiling path EXECUTED, not narrated:
    * [[profile]]'s exact countDistinct buffers the per-column value
    * multisets through the aggregation; at 10^12 rows with
    * high-cardinality columns that is the profiler's scale ceiling.
    * Here each distinct count is an `approx_count_distinct`
    * HyperLogLog sketch — fixed O(1) state per column per task, only
    * sketches shuffle — plus an in-query verification of the sketch's
    * contract, the q14 pattern: the same scan also computes the exact
    * count (the verification cost is deliberate — this query's JOB is
    * to certify the sketch; a production profiler keeps only the
    * sketch aggregates), and the output's `distinct_ok` verdict says
    * whether the estimate landed within `tol` of truth. The verdict —
    * not the engine-specific HLL estimate — is the output, so a DuckDB
    * oracle running ITS approx_count_distinct pins the row exactly
    * (both engines' default sketches sit far inside tol ≈ 3·rsd).
    */
  def profileApprox(df: DataFrame, cols: Seq[String],
      rsd: Double = 0.05, tol: Double = 0.15): DataFrame = {
    require(cols.nonEmpty, "profileApprox needs at least one column")
    val aggs = cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"${c}__nonnull"),
        countDistinct(col(c)).as(s"${c}__distinct"),
        approx_count_distinct(col(c), rsd).as(s"${c}__approx"),
        min(col(c).cast("string")).as(s"${c}__min"),
        max(col(c).cast("string")).as(s"${c}__max"))
    }
    val wide = df.agg(count(lit(1)).as("n_rows"), aggs: _*)
    wide.select(explode(array(cols.map(c => struct(
        lit(c).as("column"),
        (col("n_rows") - col(s"${c}__nonnull")).as("n_nulls"),
        (abs(col(s"${c}__approx") - col(s"${c}__distinct")) <=
          col(s"${c}__distinct") * tol).as("distinct_ok"),
        col(s"${c}__min").as("min_str"),
        col(s"${c}__max").as("max_str"))): _*)).as("p"))
      .select(col("p.column"), col("p.n_nulls"), col("p.distinct_ok"),
        col("p.min_str"), col("p.max_str"))
  }

  /** Unigram log-probability scoring — the statistical-LM quality
    * filter shape (CCNet-style): train token frequencies on the
    * corpus, score each document by the mean negative log-probability
    * of its tokens. High scores = improbable token streams (gibberish,
    * boilerplate explosions); the standard companion to the
    * heuristic gates in [[TextAnalysis.corpusFilter]].
    *
    * Scale: the frequency table is ONE partial-agg groupBy of
    * (token). "Vocabulary-sized" is NOT small at web scale — the
    * whitespace vocabulary over 100 TB of text is billions of distinct
    * tokens — so the total-count normalizer must never funnel that
    * table through one task: it is computed as a single-row scalar
    * aggregate (partial sums combine map-side, one row reaches the
    * driver) and inlined as a literal on the frequency table.
    * Scoring re-explodes the corpus (a
    * narrow codegen'd map — deliberately NOT cached: at 10^12 turns
    * the token stream is far bigger than cluster memory and
    * recomputing a narrow explode is cheaper than spilling it) and
    * hash-joins the frequency table; hot stop-words are partial-agg'd
    * map-side in training and AQE-skew-split in scoring. Scores round
    * to 1e-6 so double summation order cannot flip a bit vs the
    * oracle.
    */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val tokens = docs.select(col("doc_id"),
      explode(split(trim(col("text")), "\\s+")).as("tok"))
    // persist the vocabulary table: the scalar-total agg and the
    // scoring join both read it, and without the persist each reader
    // would re-explode + re-shuffle the whole corpus
    val tf = Dedup.persistOnce(tokens.groupBy("tok")
      .agg(count(lit(1)).cast("double").as("tf")))
    // corpus-wide token total: a single-row scalar aggregate evaluated
    // eagerly and inlined as a LITERAL. Partial sums combine map-side
    // and exactly one row crosses to the driver — the same shape AQE
    // itself uses for runtime stats, and the accepted single-row-agg
    // pattern (packSequences' bucket sizing, q14's sketch). NEVER a
    // partition-less window over the frequency table (that moves the
    // whole vocabulary to one task), and deliberately not a 1-row
    // crossJoin either (Catalyst plans that — and its constant-keyed
    // variant, after folding — as a Cross BroadcastNestedLoopJoin,
    // which the registry-wide join-shape guard rightly forbids).
    val totalRow = tf.agg(sum(col("tf"))).head()
    // null sum == empty corpus: the scoring join below is empty too,
    // so the literal's value is never observed — NaN keeps it honest
    val nTotal =
      lit(if (totalRow.isNullAt(0)) Double.NaN else totalRow.getDouble(0))
    val freqs = tf.withColumn("n_total", nTotal)
    // trained on the same corpus → every token is in-vocabulary, the
    // join is a plain inner equi-join (no OOV smoothing branch)
    tokens.join(freqs, Seq("tok"))
      .groupBy("doc_id")
      .agg(
        round(avg(-log(col("tf") / col("n_total"))), 6)
          .as("avg_neg_logp"),
        count(lit(1)).as("n_tokens"))
  }

  /** Deterministic md5-bucket in [0, 4096) of a key column — the
    * portable sampling hash (same value in DuckDB:
    * CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 3) AS INT)). */
  def hashBucket(key: Column): Column =
    conv(substring(md5(key.cast("string").cast("binary")), 1, 3), 16, 10)
      .cast("int")

  /** Reproducible (stratified) sampling: keep a row iff its key's
    * md5-bucket falls under rate·4096. `rate` may be any per-row
    * Column (a constant, or a per-stratum CASE on source/lang — that
    * IS stratified sampling / corpus mixing).
    *
    * Hash sampling, not rand(): a narrow zero-shuffle map that is
    * deterministic across engines (DuckDB oracle reproduces the exact
    * sample) AND across task retries — Spark re-executes failed tasks,
    * and a rand()-based sample silently changes membership on retry,
    * which at 100 TB means non-reproducible training corpora. The
    * same-key-same-fate property also keeps duplicated docs together
    * when keying by fingerprint.
    */
  def hashSample(df: DataFrame, key: Column, rate: Column): DataFrame =
    // explicit floor: DuckDB's CAST(x AS INT) rounds-half-even while
    // Spark's cast truncates — floor is the portable threshold
    df.filter(hashBucket(key) < floor(rate * 4096).cast("int"))

  /** Temperature-based corpus mixing (the pretraining-mixture
    * rebalancer): resample a multi-source corpus so each source's
    * share follows `n_s^alpha / Σ n_t^alpha` — alpha < 1 flattens the
    * mixture (upweights rare sources relative to their raw share),
    * alpha = 1 keeps natural proportions. The corpus is scaled to
    * `targetFraction` of its original row count; per-source keep
    * rates are capped at 1 (a rare source cannot be oversampled
    * without replacement — callers wanting epochs > 1 on rare sources
    * duplicate upstream).
    *
    * Membership is decided by the deterministic md5-bucket of doc_id
    * ([[hashSample]]): reproducible across engines and task retries.
    * Rates are rounded to 1e-6 before the bucket threshold so the
    * float pipeline (pow/sum/divide) cannot flip a boundary between
    * engines.
    *
    * Scale: ONE partial-agg groupBy of (source) — a bounded table —
    * then an unpartitioned window over those few rows for the
    * normalizer (bounded by source cardinality, NOT corpus size), a
    * broadcast join of the per-source rates back, and a narrow filter.
    * The corpus itself never shuffles. No cartesian/BNLJ (the rates
    * join is an equi-join on source), so the registry plan guard
    * holds.
    */
  def temperatureMix(
      docs: DataFrame, alpha: Double = 0.5,
      targetFraction: Double = 0.5): DataFrame = {
    val counts = Dedup.persistOnce(docs.groupBy("source")
      .agg(count(lit(1)).as("n_s")))
    // the normalizers are GLOBAL scalars over the bounded per-source
    // table: evaluate them as one single-row agg and inline as
    // literals (the q19 pattern) rather than a partition-less window —
    // the window was safe here (one row per source) but planned a
    // single-partition WindowExec anyway, and scalars keep the
    // registry free of partition-less windows entirely
    val norm = counts
      .agg(sum(pow(col("n_s"), alpha)), sum(col("n_s"))).head()
    val (z, nTotal) =
      if (norm.isNullAt(0)) (Double.NaN, Double.NaN) // empty corpus
      else (norm.getDouble(0), norm.getLong(1).toDouble)
    val rates = counts
      .select(col("source"),
        round(least(lit(1.0),
          pow(col("n_s"), alpha) / lit(z) * targetFraction *
            lit(nTotal) / col("n_s")), 6).as("keep_rate"))
    hashSample(
      docs.join(broadcast(rates), Seq("source")),
      col("doc_id"), col("keep_rate"))
  }

  /** q122: exact-integer uniform-target mixture PLAN — the table a
    * pretraining run signs off on before any resampling happens:
    * per source, the available token supply, the integer token quota
    * a uniform target assigns it, how much of the quota the source
    * can fill without repetition, and the repetition factor (epochs)
    * / sampling rate the executor must apply. [[temperatureMix]] is
    * the float-rate *executor*; this is the auditable *planner* — and
    * it is all 64-bit integer arithmetic so the plan is bit-identical
    * across engines, retries and cluster sizes (no pow/divide
    * boundary can flip a quota).
    *
    * Quota apportionment: `base = budget div n_sources` to everyone,
    * and the `budget mod n_sources` remainder tokens go one each to
    * the lowest-indexed sources (largest-remainder with the source
    * index as the deterministic tie-break — under a uniform target
    * every remainder ties). `epochs = ceil(quota / avail)` is the
    * with-replacement repeat count when the quota exceeds supply;
    * `rate_ppm = (quota * 1e6) div avail` is the exact
    * parts-per-million sampling rate (values > 1e6 mean
    * oversampling).
    *
    * Scale: ONE partial-agg groupBy of (source) — bounded by source
    * cardinality, not corpus size; `n_sources` is an eager bounded
    * count inlined as a literal (the q19 pattern — NOT a
    * partition-less window), and every plan column is a narrow
    * projection over the bounded per-source table. The corpus text
    * never shuffles: only (source, n_tok) pairs do, pre-summed
    * map-side.
    */
  def mixturePlan(docs: DataFrame, budgetTokens: Long): DataFrame = {
    val perSrc = Dedup.persistOnce(docs
      .select(col("source"),
        substring(col("source"), 4, 10).cast("int").as("src_idx"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
      .groupBy(col("source"))
      .agg(min(col("src_idx")).as("src_idx"),
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("avail_tok")))
    // bounded eager scalar (#sources), inlined as a literal
    val nSrc = math.max(perSrc.count(), 1L)
    val base = budgetTokens / nSrc
    val rem = budgetTokens % nSrc
    perSrc
      .withColumn("quota_tok",
        lit(base) + when(col("src_idx") < lit(rem), 1L).otherwise(0L))
      .withColumn("kept_tok", least(col("quota_tok"), col("avail_tok")))
      .withColumn("deficit_tok",
        greatest(col("quota_tok") - col("avail_tok"), lit(0L)))
      .withColumn("epochs",
        expr("(quota_tok + avail_tok - 1) div avail_tok"))
      .withColumn("rate_ppm",
        expr("(quota_tok * 1000000) div avail_tok"))
      .select(col("source"), col("n_docs"), col("avail_tok"),
        col("quota_tok"), col("kept_tok"), col("deficit_tok"),
        col("epochs"), col("rate_ppm"))
      .orderBy(col("source"))
  }

  /** q126: mixture-plan EXECUTION — realize [[mixturePlan]]'s
    * per-source quotas as an actual document sample. Each source's
    * exact-ppm rate (capped at 1e6: the no-replacement sample;
    * oversampling epochs stay a plan-level signal, q122's
    * `deficit_tok` documents what's unfilled) becomes a deterministic
    * md5-bucket threshold: keep a doc iff
    * `bucket(doc_id) < (ppm · 4096) div 1e6` — pure integer
    * arithmetic end to end, so the SAMPLE ITSELF (not just its size)
    * is reproducible across engines, task retries and cluster sizes.
    *
    * Scale shape: the bounded plan table broadcasts onto the corpus
    * (equi-join on source, AQE-broadcast); the keep test is a narrow
    * codegen'd projection — the corpus never shuffles and text never
    * moves. Same-key-same-fate: a doc's fate depends only on
    * (doc_id, source rate), the property that keeps resumed /
    * re-run pipelines byte-identical at 100 TB. */
  def mixturePlanApply(docs: DataFrame, budgetTokens: Long): DataFrame = {
    val rates = mixturePlan(docs, budgetTokens)
      .select(col("source"),
        least(col("rate_ppm"), lit(1000000L)).as("capped_ppm"))
    docs.join(broadcast(rates), Seq("source"))
      .filter(hashBucket(col("doc_id")) <
        expr("(capped_ppm * 4096) div 1000000").cast("int"))
      .select(col("doc_id"), col("source"), col("capped_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Benchmark decontamination: flag training documents whose distinct
    * word k-shingle sets overlap an evaluation document's by at least
    * minOverlapFrac (fraction of the TRAINING doc's shingles that also
    * occur in that eval doc) — the standard n-gram-overlap
    * decontamination check run before pretraining.
    *
    * Scale: the eval/benchmark side is small by nature (thousands of
    * documents vs a 100-TB corpus), so its shingle table is
    * BROADCAST — the training corpus is never shuffled: shingle
    * explode, broadcast-hash join, partial-agg groupBy on
    * (train doc, eval doc), all map-side until the final bounded
    * aggregation of matched pairs only. Training docs sharing no
    * shingle with any eval doc (the overwhelming majority) are dropped
    * by the join before the shuffle. The broadcast is a hard hint that
    * bypasses autoBroadcastJoinThreshold: the eval side must be
    * executor-memory-small (a benchmark set, not a corpus slice).
    */
  def decontaminate(
      train: DataFrame, eval: DataFrame, k: Int = 3,
      minOverlapFrac: Double = 0.05): DataFrame = {
    // per-doc shingle count rides along through the explode (it is a
    // function of doc_id), so no separate corpus-wide sizes aggregation
    // and no join-back are needed
    val trainSh = train
      .select(col("doc_id"),
        graft.functions.word_shingles(col("text"), k).as("shs"))
      .select(col("doc_id"), size(col("shs")).cast("long").as("n_sh"),
        explode(col("shs")).as("shingle"))
    val evalSh = Dedup.shingles(eval, k)
      .withColumnRenamed("doc_id", "eval_id")
    trainSh
      .join(broadcast(evalSh), Seq("shingle"))
      .groupBy("doc_id", "eval_id", "n_sh")
      .agg(count(lit(1)).as("n_shared"))
      .select(
        col("doc_id"), col("eval_id"),
        round(col("n_shared").cast("double") / col("n_sh"), 6)
          .as("overlap_frac"))
      .filter(col("overlap_frac") >= minOverlapFrac)
  }

  /** Duplicated-span detection — the exact-substring dedup signal
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): slide a k-token window over every document, hash each
    * window, and flag windows whose hash occurs more than once in the
    * ENTIRE corpus (cross- or within-document — repeated boilerplate
    * is duplication either way). Output is per-document: total
    * windows, duplicated windows, duplicated fraction — the signal a
    * pipeline thresholds to drop or trim span-duplicated documents.
    * Documents with zero duplicated windows (the overwhelming
    * majority of a healthy corpus) are absent from the output, like
    * [[decontaminate]]'s clean docs.
    *
    * Scale: the window stream is a narrow codegen'd explode
    * (WordNgrams) immediately reduced to (doc_id, n_windows, 16-byte
    * hash) — window TEXT never shuffles, and the stream is
    * deliberately NOT cached (at 10^12 docs it dwarfs cluster memory;
    * recomputing a narrow explode is cheaper than spilling it — the
    * q19 rule). Pass 1 is ONE partial-agg groupBy of the hash; hot
    * boilerplate hashes pre-sum map-side. Pass 2 re-explodes and
    * LEFT SEMI joins the duplicated-hash table — already partitioned
    * by hash from pass 1, so only the window stream shuffles — then
    * one bounded groupBy of (doc_id). The per-doc window count rides
    * the explode as a function of doc_id (no join-back), the
    * decontaminate trick.
    */
  def dupSpans(docs: DataFrame, k: Int = 8): DataFrame = {
    def windows = docs
      .select(col("doc_id"),
        graft.functions.word_ngrams(col("text"), k).as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("long").as("n_windows"),
        explode(col("ws")).as("win"))
      .select(col("doc_id"), col("n_windows"),
        md5(col("win").cast("binary")).as("h"))
    val dupHashes = windows.groupBy("h")
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
    windows
      .join(dupHashes.select("h"), Seq("h"), "left_semi")
      .groupBy("doc_id", "n_windows")
      .agg(count(lit(1)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 6)
          .as("dup_frac"))
  }

  /** Duplicated-span REMOVAL — the actual Lee et al. intervention
    * ([[dupSpans]] is the detector; this emits the training corpus
    * with the duplicated spans excised). A token is removed iff it is
    * covered by at least one k-token window whose hash occurs more
    * than once corpus-wide; the cleaned text is the surviving tokens
    * joined by single spaces (whitespace-normalized — the tokenizer's
    * inverse), so overlapping duplicated windows merge into one
    * excised span and every document, span-duplicated or not, comes
    * out exactly once.
    *
    * Scale — [[dupSpans]]'s two passes plus ZERO extra corpus
    * shuffles: pass 1 is the same duplicated-hash groupBy; pass 2
    * re-explodes with positions, LEFT SEMI joins the dup-hash table
    * and reduces to (doc_id, sorted dup window starts) — only MATCHED
    * windows shuffle, and that per-doc index table is bounded by
    * span-duplicated docs, so the join back onto the corpus is
    * AQE-broadcastable and the corpus text never exchanges (the
    * [[Dedup.clusterRepresentatives]] posture). The excision itself
    * is a narrow per-row array HOF: token j survives iff no dup
    * window starts in [j−k+1, j] (an exists over the doc's OWN dup
    * starts — cost |tokens|·|dup windows in doc|, and a doc's dup
    * list is at most its window count; a squeezed build would merge
    * starts into disjoint ranges first). */
  def dupSpanRemoval(docs: DataFrame, k: Int = 8): DataFrame = {
    def windows = docs
      .select(col("doc_id"),
        graft.functions.word_ngrams(col("text"), k).as("ws"))
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("p", "win")))
      .select(col("doc_id"), (col("p") + 1).as("i"),
        md5(col("win").cast("binary")).as("h"))
    val dupHashes = windows.groupBy("h")
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") > 1)
    val dupIdx = windows
      .join(dupHashes.select("h"), Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("i"))).as("dup_i"))
    docs.join(dupIdx, Seq("doc_id"), "left")
      .select(col("doc_id"),
        split(trim(col("text")), "\\s+").as("toks"),
        coalesce(col("dup_i"),
          array().cast("array<int>")).as("dup_i"))
      .select(col("doc_id"), col("toks"),
        filter(col("toks"), (_, j0) =>
          !exists(col("dup_i"), i =>
            i >= greatest(lit(1), j0 + lit(2 - k)) && i <= j0 + 1))
          .as("kept"))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("clean_text"),
        (size(col("toks")) - size(col("kept"))).cast("long")
          .as("n_removed_tokens"))
  }

  /** Perplexity bucketing — the CCNet corpus-partitioning step: score
    * every document with the unigram LM ([[unigramLogProb]]), then
    * split the corpus into head / middle / tail quality buckets at
    * the quartiles of the score distribution (head = most probable
    * text, tail = least). Downstream pipelines train preferentially
    * on head/middle and sample tail.
    *
    * Scale: the scored table is one row per DOCUMENT (not per token),
    * persisted because both the threshold aggregate and the final
    * bucket projection read it. Thresholds are a single-row scalar
    * percentile aggregate inlined as literals — the q19 pattern, no
    * partition-less window. This executes the EXACT percentile (the
    * oracle pins R-7 interpolation, as q13 established); at extreme
    * document counts swap in `approx_percentile`, whose sketch
    * contract q14 executes and verifies — bucket boundaries are
    * quality thresholds, not exact ranks, so sketch error is
    * immaterial there. Thresholds round to 1e-6 (scores already do)
    * so double interpolation cannot flip a boundary between engines.
    */
  def perplexityBuckets(docs: DataFrame): DataFrame = {
    val scored = Dedup.persistOnce(unigramLogProb(docs))
    val row = scored
      .agg(expr("percentile(avg_neg_logp, array(0.25D, 0.75D))")).head()
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // empty corpus → null percentiles; NaN literals keep the (empty)
    // projection honest, same as unigramLogProb's normalizer
    val (t25, t75) =
      if (row.isNullAt(0)) (Double.NaN, Double.NaN)
      else {
        val ts = row.getSeq[Double](0)
        (r6(ts(0)), r6(ts(1)))
      }
    scored.select(col("doc_id"), col("avg_neg_logp"),
      when(col("avg_neg_logp") <= t25, "head")
        .when(col("avg_neg_logp") <= t75, "middle")
        .otherwise("tail").as("ppl_bucket"))
  }

  /** Line-level boilerplate removal (the CCNet paragraph-dedup shape):
    * drop every line that occurs in more than maxDocFreq DISTINCT
    * documents (menus, footers, legal boilerplate — the lines that
    * repeat across a crawl), and rebuild each document from its
    * surviving lines in order. Output per document: original line
    * count, kept line count, md5 of the rebuilt text (the full
    * rebuilt column is what a production pipeline writes). Documents
    * whose every line is boilerplate are absent, the [[dupSpans]]
    * convention.
    *
    * Scale: the hot-line detection pass shuffles 16-byte HASHES only
    * (partial-agg groupBy; line text never leaves its task), and the
    * hot set is bounded by total_lines / maxDocFreq — broadcast-anti
    * against the line stream, the q31 df-filter shape. The rebuild is
    * the ONE corpus-sized shuffle (groupBy doc), intrinsic to a
    * rewriting operator: surviving line text must co-locate by
    * document to reassemble. Line order is restored by sort_array
    * over (idx, line) structs inside the aggregate — per-document
    * work, no window.
    */
  def lineDedup(docs: DataFrame, maxDocFreq: Long = 50): DataFrame = {
    def lines = docs
      .select(col("doc_id"), split(col("text"), "\n").as("ls"))
      .select(col("doc_id"), size(col("ls")).cast("long").as("n_lines"),
        posexplode(col("ls")).as(Seq("idx", "line")))
    val hot = lines
      .groupBy(md5(col("line").cast("binary")).as("lh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDocFreq)
      .select("lh")
    lines
      .join(hot, md5(col("line").cast("binary")) === col("lh"),
        "left_anti")
      .groupBy("doc_id", "n_lines")
      .agg(
        count(lit(1)).as("n_kept"),
        md5(concat_ws("\n",
          transform(
            sort_array(collect_list(struct(col("idx"), col("line")))),
            x => x.getField("line"))).cast("binary")).as("clean_md5"))
      .select("doc_id", "n_lines", "n_kept", "clean_md5")
  }

  /** q186: per-source document-length percentile profile — the corpus
    * card's distribution row: exact p10/p50/p90 whitespace-token
    * counts plus mean per source. q50 reports totals and means; the
    * percentile spread is what actually drives packing (q29's seq_len
    * choice), truncation loss (q112's budget) and the suspicion that
    * a source is two populations glued together (p10 ≪ p50 ≪ p90).
    * Exact `percentile` per the q13 parity contract, with
    * approx_percentile as the documented 100-TB swap.
    *
    * Scale: token counts are one narrow pass; the percentile agg keys
    * on the bounded source set — no window, no join. */
  def sourceLengthProfile(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        expr("percentile(CAST(nt AS DOUBLE), " +
          "array(0.1D, 0.5D, 0.9D))").as("p"),
        round(avg(col("nt")), 4).as("mean_tokens"))
      .select(col("source"), col("n_docs"),
        round(element_at(col("p"), 1), 4).as("p10_tokens"),
        round(element_at(col("p"), 2), 4).as("p50_tokens"),
        round(element_at(col("p"), 3), 4).as("p90_tokens"),
        col("mean_tokens"))
      .orderBy("source")

  /** q179: document template-skeleton mining — q115's prompt-template
    * normalizer (digits → #, whitespace collapsed, lowercased) run
    * over the DOCUMENT corpus: machine-generated pages (build logs,
    * listings, status dashboards) collapse to one skeleton, and the
    * per-skeleton source spread says whether a template is one site's
    * chrome or an ecosystem-wide generator. Curation drops or caps
    * the winners — templated mass teaches a model formatting, not
    * language.
    *
    * Scale: the skeleton reduces to its md5 in the scan (text never
    * shuffles); ONE skeleton-keyed agg, TakeOrdered-style top-N via
    * the bounded winner table, then the winners broadcast back for
    * one representative-template pass (q115's exact posture, plus
    * the source COUNT(DISTINCT)). */
  def docTemplates(docs: DataFrame, minUses: Long = 3,
      topN: Int = 20): DataFrame = {
    val skel = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[0-9]+", "#"),
      "[ \\t\\n\\r]+", " "))
    val u = docs
      .select(col("source"), skel.as("template"))
      .withColumn("template_md5", md5(col("template").cast("binary")))
    val winners = u.groupBy(col("template_md5"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .filter(col("n_docs") >= minUses)
      .orderBy(col("n_docs").desc, col("template_md5"))
      .limit(topN)
    u.join(broadcast(winners), "template_md5")
      .groupBy(col("template_md5"), col("n_docs"), col("n_sources"))
      .agg(min(col("template")).as("template"))
      .select(col("template_md5"), col("template"), col("n_docs"),
        col("n_sources"))
      .orderBy(col("n_docs").desc, col("template_md5"))
  }

  /** q176: intra-document consecutive-duplicate-line collapse — the
    * cleaning transform for stutter artifacts: scraped terminal logs,
    * progress bars, retry loops and copy-paste accidents repeat the
    * SAME line back to back, and n-gram repetition metrics (q24)
    * punish the whole doc for what one `uniq` pass fixes. Collapses
    * each RUN of identical adjacent lines to its first occurrence —
    * the document counterpart of q121's conversation loop collapse,
    * and deliberately run-local: cross-document boilerplate is q52's
    * job, non-adjacent repetition is q24's signal.
    *
    * Scale: the entire collapse is one `filter` array HOF inside the
    * per-doc array — zero explode, zero shuffle; the only exchange is
    * the output sort. The cleaned text leaves the operator as an md5
    * (16 bytes), never as text. */
  def lineRunCollapse(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), "\n").as("ls"))
      .select(col("doc_id"),
        size(col("ls")).cast("long").as("n_lines"),
        expr("filter(ls, (s, i) -> i = 0 OR s != ls[i-1])").as("kept"))
      .select(col("doc_id"), col("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        md5(concat_ws("\n", col("kept")).cast("binary"))
          .as("clean_md5"))

  /** q169: per-document boilerplate-line share — the fraction of each
    * doc's lines that are corpus-common (line appears in more than
    * `maxDocFreq` distinct docs: navigation, footers, cookie banners).
    * Where q52 REMOVES the hot lines, this op MEASURES how much of
    * each document is boilerplate and flags the template-dominated
    * docs (ratio ≥ `flagAt`) that quality gates should drop whole —
    * a chrome-heavy page is junk even after its chrome is stripped.
    *
    * Scale: lines reduce to 16-byte md5s in the scan; the hot-line
    * table (df > maxDocFreq) is small by construction — boilerplate
    * is, definitionally, the tiny set of lines repeated across many
    * docs — so the mark-join AQE-broadcasts it (q52's anti-join
    * posture, as a left mark instead). Per-doc rollup is the one
    * corpus-keyed agg; text itself never shuffles. */
  def boilerplateShare(docs: DataFrame, maxDocFreq: Long = 50,
      flagAt: Double = 0.3): DataFrame = {
    // persisted (ADVICE r5): the hot-line agg and the mark join both
    // read this — as a def the corpus was split/exploded/hashed twice
    val lines = Dedup.persistOnce(docs
      .select(col("doc_id"),
        explode(split(col("text"), "\n")).as("line"))
      .select(col("doc_id"), md5(col("line").cast("binary")).as("lh")))
    val hot = lines
      .groupBy("lh")
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDocFreq)
      .select(col("lh"), lit(1L).as("is_hot"))
    lines
      .join(hot, Seq("lh"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(coalesce(col("is_hot"), lit(0L))).as("n_boiler"))
      .withColumn("boiler_ratio",
        round(col("n_boiler").cast("double") / col("n_lines"), 6))
      // flag on the ROUNDED ratio (1e-6 discipline): the keep decision
      // can't straddle a ulp between engines
      .withColumn("boiler_heavy", col("boiler_ratio") >= flagAt)
      .select("doc_id", "n_lines", "n_boiler", "boiler_ratio",
        "boiler_heavy")
  }

  /** Per-source corpus report — the "corpus card" every curated
    * pretraining dataset ships with: per source, document count, total
    * and mean whitespace tokens, total estimated BPE tokens, and how
    * much of the source survives the composite keep-filter
    * ([[TextAnalysis.corpusFilter]]'s gate). The table downstream
    * mixing decisions (q39) are made from.
    *
    * Scale: ONE narrow pass computes every per-row signal (token
    * count, BPE estimate, fused keep gate — all in the scan's
    * WholeStageCodegen span), then ONE partial-agg groupBy of the
    * bounded (source) key. Deliberately NOT a join of the per-doc
    * filter frame back against the corpus — that is a corpus-sized
    * shuffle; the gate inlines via [[TextAnalysis.keepGate]], the
    * same predicate definition corpusFilter uses, so the oracle
    * composition holds.
    */
  def sourceReport(docs: DataFrame): DataFrame =
    docs
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"),
        TextAnalysis.estBpeTokens(col("text")).as("bt"),
        TextAnalysis.keepGate(col("text")).as("keep"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("nt")).as("total_tokens"),
        round(avg(col("nt")), 4).as("avg_tokens"),
        sum(col("bt")).as("total_est_bpe"),
        count(when(col("keep"), 1)).as("n_keep"))
      .withColumn("keep_frac",
        round(col("n_keep").cast("double") / col("n_docs"), 6))

  /** BPE pair counting — one merge iteration of byte-pair-encoding
    * tokenizer training: reduce the corpus to its word-frequency
    * vocabulary, then count adjacent symbol pairs weighted by word
    * frequency. The highest-count pair is the merge a BPE trainer
    * would perform next. Restricted to lowercase ASCII words (the
    * standard pre-tokenization split; also keeps substring semantics
    * engine-portable — no codepoint-vs-grapheme drift in the oracle).
    *
    * Scale: this is the "aggregate first, explode the AGGREGATE"
    * shape — the corpus shuffles exactly once as pre-summed
    * (word, count) partials; the quadratic-ish pair explode runs over
    * the VOCABULARY table (sublinear in corpus size; bounded by
    * distinct words), and the final top-N is TakeOrderedAndProject,
    * never a full sort. A naive per-token pair explode would shuffle
    * the corpus token stream instead of the vocabulary.
    */
  def bpePairCounts(docs: DataFrame, topN: Int = 30): DataFrame = {
    val vocab = docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(col("word").rlike("^[a-z]+$") && length(col("word")) >= 2)
      .groupBy("word")
      .agg(count(lit(1)).as("n_w"))
    vocab
      .select(col("n_w"), explode(expr(
          "transform(sequence(1, length(word) - 1), " +
            "i -> substring(word, i, 2))")).as("pair"))
      .groupBy("pair")
      .agg(sum(col("n_w")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(topN)
  }

  /** Bigram LM quality scoring — [[unigramLogProb]] generalized to
    * conditional probabilities: each document scores by the mean
    * negative log of Laplace-smoothed `P(w_i | w_{i-1}) =
    * (c(w_{i-1}, w_i) + 1) / (c(w_{i-1}) + V)` trained on the corpus
    * itself. Catches locally-implausible token ORDER (shuffled or
    * templated text) that unigram frequencies cannot see.
    *
    * Scale: unigram and bigram counts are each ONE partial-agg
    * groupBy of the (re-exploded, never cached) token stream; V is
    * simply the row count of the persisted unigram table — no second
    * distinct job. Scoring re-explodes the corpus and hash-joins the
    * two count tables (hot stop-pairs combine map-side in training
    * and AQE-skew-split in scoring — the q19 story, one join deeper).
    * Scores round 1e-6; the averaged terms are unrounded logs, so the
    * q65 rounded-term boundary hazard does not apply.
    */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      split(trim(col("text")), "\\s+").as("w"))
    val uni = Dedup.persistOnce(
      toks.select(explode(col("w")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).cast("double").as("c1")))
    val v = lit(uni.count().toDouble) // |vocab| = rows of the agg
    val bg = toks.select(col("doc_id"), explode(expr(
      """IF(size(w) >= 2,
        |  transform(sequence(1, size(w) - 1),
        |    i -> struct(element_at(w, i) AS w1,
        |                element_at(w, i + 1) AS w2)),
        |  array())""".stripMargin)).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bi = bg.groupBy("w1", "w2")
      .agg(count(lit(1)).cast("double").as("c2"))
    bg.join(bi, Seq("w1", "w2"))
      .join(uni.withColumnRenamed("tok", "w1"), Seq("w1"))
      .groupBy("doc_id")
      .agg(
        round(avg(-log((col("c2") + lit(1.0)) / (col("c1") + v))), 6)
          .as("avg_neg_logp2"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Full iterative BPE tokenizer training (Sennrich et al. 2016) —
    * q49's single pair-count iteration run to completion: N merge
    * rounds, each picking the most frequent adjacent symbol pair
    * (count desc, then lexicographic — fully deterministic) and
    * merging it across the vocabulary. Returns the learned merge
    * table (iter, lhs, rhs, pair_count) — the artifact a tokenizer
    * ships.
    *
    * Scale: the corpus shuffles ONCE into weighted word counts; every
    * merge round then touches only the BOUNDED vocabulary table
    * (persisted, swapped each round), and exactly one argmax row
    * crosses to the driver per round — the classic "big data once,
    * small state iterated" loop (same shape as MLlib k-means).
    *
    * The merge itself must be leftmost-non-overlapping on SYMBOL
    * boundaries ("x l r l r y" merges BOTH pairs). A plain
    * single-space replace starves consecutive occurrences because
    * they share a delimiter, so symbols are double-spaced first: each
    * gap holds two spaces, every occurrence consumes one from each
    * side, and adjacent matches never rob each other. The needle
    * `' l  r '` / replacement `' lr '` then leaves runs of ≤ 2 spaces,
    * collapsed back to canonical single spacing. Plain (non-regex)
    * replace everywhere — same leftmost semantics in Spark and DuckDB,
    * and symbols like `</w>` need no escaping.
    */
  def bpeTrain(docs: DataFrame, nMerges: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = Dedup.persistOnce(docs
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("word"))
      .filter(col("word").rlike("^[a-z]+$") && length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("n_w"))
      .select(
        concat(regexp_replace(col("word"), "(.)", "$1 "), lit("</w>"))
          .as("syms"),
        col("n_w")))
    val merges = scala.collection.mutable.ArrayBuffer[
      (Int, String, String, Long)]()
    var it = 0
    var exhausted = false
    // round-parent lifetime: each round's best-pair job is what
    // materializes the fresh vocab persist, so the PREVIOUS round's
    // cache can only be dropped after that job returns — deferring the
    // unpersist one round removes the former per-round count()
    // materialization job (one fewer action per merge).
    var parent: DataFrame = null
    while (it < nMerges && !exhausted) {
      // `syms` pre-splits BELOW the explode: the former expr re-ran
      // the regex split ~2× per symbol inside the transform lambdas
      val best = vocab
        .select(col("n_w"), split(col("syms"), " ").as("sy"))
        .select(col("n_w"), explode(expr(
          """IF(size(sy) >= 2,
            |  transform(sequence(1, size(sy) - 1),
            |    i -> struct(element_at(sy, i) AS l,
            |                element_at(sy, i + 1) AS r)),
            |  array())""".stripMargin)).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("n_w")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (parent != null) { parent.unpersist(); parent = null }
      if (best.isEmpty) exhausted = true
      else {
        val (l, r, c) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((it, l, r, c))
        val next = Dedup.persistOnce(vocab.select(
          expr(s"""trim(replace(replace(
                  |  concat(' ', replace(syms, ' ', '  '), ' '),
                  |  ' $l  $r ', ' $l$r '), '  ', ' '))""".stripMargin)
            .as("syms"),
          col("n_w")))
        parent = vocab
        vocab = next
      }
      it += 1
    }
    vocab.unpersist()
    if (parent != null) parent.unpersist()
    merges.toSeq.toDF("iter", "lhs", "rhs", "pair_count")
  }

  /** Apply a trained BPE model to the corpus — the other half of the
    * tokenizer lifecycle ([[bpeTrain]] ships the merge table; this is
    * the per-document encode that every downstream token-budget,
    * packing, and cost estimate consumes). Per eligible word
    * (the training eligibility: ^[a-z]+$, length ≥ 2): symbolize to
    * chars + `</w>`, apply the learned merges IN TRAINING ORDER with
    * the same double-space leftmost-non-overlapping replace as
    * training, count surviving symbols. Ineligible words count 1
    * (the byte-fallback stand-in). Returns per-doc
    * (n_words, n_bpe_tokens).
    *
    * Scale: training runs eagerly (bounded vocab loop, see
    * [[bpeTrain]]); the merge table — nMerges rows — collects to the
    * driver and the encode chain inlines it as literals, so the
    * RETURNED plan is one narrow whole-stage-codegen'd map over the
    * corpus (per-word fold of plain `replace` calls inside a
    * higher-order transform): zero shuffles beyond the output sort,
    * embarrassingly parallel at any corpus size. */
  def bpeEncode(docs: DataFrame, nMerges: Int = 6): DataFrame =
    docs.select(col("doc_id"),
        split(lower(trim(col("text"))), "\\s+").as("ws"))
      .select(col("doc_id"),
        size(col("ws")).cast("bigint").as("n_words"),
        bpeTokenCount(bpeMergeChain(docs, nMerges)).as("n_bpe_tokens"))

  /** Train [[bpeTrain]]'s merge table eagerly and fold it into a SQL
    * expression string applying the merges to a word `w` in training
    * order — the driver-literal half shared by [[bpeEncode]] and
    * [[tokenizerFertility]]. */
  private def bpeMergeChain(docs: DataFrame, nMerges: Int): String = {
    val merges = bpeTrain(docs.select("text"), nMerges).collect()
      .sortBy(_.getInt(0))
      .map(r => (r.getString(1), r.getString(2))).toSeq
    merges.foldLeft(
      "concat(regexp_replace(w, '(.)', '$1 '), '</w>')") {
      case (acc, (l, r)) =>
        s"trim(replace(replace(concat(' ', replace($acc, ' ', '  ')," +
          s" ' '), ' $l  $r ', ' $l$r '), '  ', ' '))"
    }
  }

  /** BPE token count of a whitespace-token array column `ws` under an
    * inlined merge chain: eligible words fold through the chain,
    * ineligible words count 1 (the byte-fallback stand-in). */
  private def bpeTokenCount(chain: String) =
    expr(s"""aggregate(
            |  transform(ws, w -> IF(
            |    w RLIKE '^[a-z]+$$' AND length(w) >= 2,
            |    size(split($chain, ' ')), 1)),
            |  CAST(0 AS BIGINT), (acc, x) -> acc + x)""".stripMargin)

  /** Tokenizer fertility per language bucket — the multilingual-
    * tokenizer fairness metric (tokens per word and tokens per byte
    * by language): a BPE vocabulary trained on a mixed corpus encodes
    * under-represented scripts into more, shorter pieces, inflating
    * their training cost and effective context budget. Composes the
    * [[bpeTrain]]/[[bpeEncode]] lifecycle with
    * [[TextAnalysis.langGuess]]: per document, count BPE tokens under
    * the trained merges, bucket by language, report
    * Σtokens/Σwords (fertility) and Σtokens/Σbytes per bucket.
    *
    * Scale: training is [[bpeTrain]]'s bounded eager loop; the merge
    * chain inlines as literals, so the RETURNED plan is ONE narrow
    * pass over the corpus (token fold + language classify + byte
    * length in a single whole-stage-codegen'd projection — no
    * self-join of per-doc derivations) into a partial agg that
    * hash-exchanges only n_langs rows per partition. At 100 TB the
    * wire cost is the language-cardinality agg, not the corpus. */
  def tokenizerFertility(docs: DataFrame, nMerges: Int = 6): DataFrame = {
    val chain = bpeMergeChain(docs, nMerges)
    docs.select(
        TextAnalysis.langGuess(col("text")).as("lang_guess"),
        split(lower(trim(col("text"))), "\\s+").as("ws"),
        octet_length(col("text")).cast("long").as("nb"))
      .select(col("lang_guess"), col("nb"),
        size(col("ws")).cast("long").as("nw"),
        bpeTokenCount(chain).as("ntok"))
      .groupBy("lang_guess")
      .agg(count(lit(1)).as("n_docs"),
        sum("ntok").as("n_tokens"),
        sum("nw").as("n_words"),
        sum("nb").as("n_bytes"),
        round(sum("ntok").cast("double") /
          greatest(sum("nw").cast("double"), lit(1.0)), 6)
          .as("fertility"),
        round(sum("ntok").cast("double") /
          greatest(sum("nb").cast("double"), lit(1.0)), 6)
          .as("tokens_per_byte"))
  }

  /** Deterministic training-order shuffle + shard assignment — the
    * "global shuffle" stage between curation and training: every
    * document gets a pseudorandom but reproducible position, realized
    * as (shard, position-within-shard) so a trainer's data loader can
    * read shard files in order. The permutation key is the md5 of the
    * doc id (retry-stable, engine-portable — the q28 sampling hash
    * family), so the same corpus always shuffles identically.
    *
    * Scale: ONE hash-partition shuffle on the shard key plus a
    * per-shard sort — exactly how a production global shuffle is
    * implemented (nShards chosen so a shard fits a task; the window
    * is partitioned by shard, never partition-less). No global
    * ordering is ever materialized.
    */
  /** q60/q164 shared shard key: md5-derived 48-bit hash of doc_id —
    * the single definition, so the balance audit grades exactly the
    * assignment q60 ships. */
  private[ops] def shardHash: Column =
    conv(substring(md5(col("doc_id").cast("string")
      .cast("binary")), 1, 12), 16, 10).cast("long")

  def shardAssign(docs: DataFrame, nShards: Int = 64): DataFrame = {
    val h = shardHash
    val keyed = docs.select(col("doc_id"), h.as("h"),
      pmod(h, lit(nShards.toLong)).cast("int").as("shard"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("h"), col("doc_id"))
    keyed.withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos")
  }

  /** Winnowing document fingerprints (the MOSS scheme): hash every
    * k-token shingle, slide a w-hash window, keep each window's
    * minimum — the guarantee is that any shared run of ≥ w+k-1 tokens
    * between two documents yields at least one shared fingerprint,
    * with ~2/(w+1) of hashes selected. The robust, position-tolerant
    * alternative to [[TextAnalysis.fingerprints]]' single rolling
    * hash; the selected-fingerprint inverted index is what plagiarism
    * / overlap detectors join on.
    *
    * Scale: entirely narrow — shingle hashes, window minima and the
    * distinct-set all happen INSIDE the per-document array (one
    * codegen'd pass, zero shuffle, no explode of the token stream);
    * only the bounded distinct-fingerprint set per document is
    * emitted. Hashes are md5 hex strings min-compared
    * lexicographically, so DuckDB reproduces selections exactly.
    */
  def winnowFingerprints(docs: DataFrame, k: Int = 4,
      w: Int = 5): DataFrame = {
    require(k >= 1 && w >= 1, s"k=$k and w=$w must be >= 1")
    // NB: Spark's sequence(1, n) is DESCENDING for n < 1 (it never
    // returns empty), so short docs need the explicit empty branch
    val grams = expr(
      s"""if(size(toks) >= $k,
         |  transform(sequence(1, size(toks) - ${k - 1}),
         |    i -> md5(cast(concat_ws(' ', slice(toks, i, $k)) as binary))),
         |  array())""".stripMargin)
    val mins = expr(
      s"""if(size(grams) >= $w,
         |  array_distinct(transform(sequence(1, size(grams) - ${w - 1}),
         |    j -> array_min(slice(grams, j, $w)))),
         |  array())""".stripMargin)
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), grams.as("grams"))
      .select(col("doc_id"), explode(mins).as("fp"))
  }

  /** Overlap-candidate pairs from shared winnowing fingerprints — the
    * detector [[winnowFingerprints]] exists to feed: documents sharing
    * ≥ minShared selected fingerprints share (with the winnowing
    * guarantee) runs of ≥ w+k-1 tokens, flagging copied passages that
    * whole-document hashes miss. The q31 df-filter discipline applies:
    * fingerprints appearing in more than maxDf documents are
    * boilerplate (shared headers, templates), and their posting lists
    * are dropped before any pair is emitted
    * ([[Dedup.postingListPairs]]), so no fingerprint yields more than
    * C(maxDf, 2) pairs.
    */
  def winnowOverlapPairs(docs: DataFrame, k: Int = 4, w: Int = 5,
      maxDf: Long = 100, minShared: Long = 2): DataFrame = {
    val (_, pairs) =
      Dedup.postingListPairs(winnowFingerprints(docs, k, w), "fp", maxDf)
    pairs.groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Sliding-window document chunking — the long-document → training
    * -example step of a pretraining pipeline: each document becomes
    * overlapping windows of `chunkTokens` whitespace tokens advancing
    * by `chunkTokens - overlap` (the trailing window may be shorter).
    * Emits the chunk's token count and content hash; a real exporter
    * would emit the text itself — the hash keeps the oracle compact
    * while pinning content byte-exactly.
    *
    * Scale: entirely narrow — tokenize, explode the per-doc start
    * sequence, slice; one codegen'd stage, zero shuffle, output rows
    * ∝ input tokens / stride. Explicit `floor` on the chunk index so
    * the Spark double division and DuckDB's integer `//` agree.
    */
  def chunkDocs(docs: DataFrame, chunkTokens: Int = 128,
      overlap: Int = 32): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap $overlap must be in [0, chunkTokens=$chunkTokens)")
    val stride = chunkTokens - overlap
    docs
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(1),
          greatest(size(col("toks")), lit(1)), lit(stride))).as("s"))
      .select(col("doc_id"),
        floor((col("s") - 1) / lit(stride)).cast("int").as("chunk_idx"),
        slice(col("toks"), col("s"), lit(chunkTokens)).as("ch"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("ch")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("ch")).cast("binary")).as("chunk_md5"))
  }

  /** Corpus snapshot diff — the release audit between two corpus
    * versions: per doc_id, `added` / `removed` / `changed` /
    * `unchanged` by content hash. Every curated-dataset release ships
    * this delta (and incremental consumers schedule work from it).
    *
    * Scale: each side reduces to (doc_id, md5) BEFORE the shuffle —
    * text never moves — then one full-outer equi-join on doc_id.
    */
  def corpusDiff(oldCorpus: DataFrame, newCorpus: DataFrame): DataFrame = {
    val o = oldCorpus.select(col("doc_id"),
      md5(col("text").cast("binary")).as("old_md5"))
    val n = newCorpus.select(col("doc_id"),
      md5(col("text").cast("binary")).as("new_md5"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("old_md5").isNull, "added")
          .when(col("new_md5").isNull, "removed")
          .when(col("old_md5") === col("new_md5"), "unchanged")
          .otherwise("changed"))
      .select("doc_id", "status")
  }

  /** Per-source quality pruning — keep each source's best share
    * rather than applying one global gate: per source, the q-th
    * quantile of the stopword-ratio quality signal becomes that
    * source's own threshold, and a document survives iff its ratio
    * meets its source's bar. This is how mixed-provenance pretraining
    * corpora are actually pruned (a global threshold would empty the
    * weakest source and leave the strongest untouched).
    *
    * Scale: the signal is one narrow codegen'd pass; thresholds are a
    * groupBy of the bounded (source) key whose exact `percentile`
    * buffer is bounded by the metric's 1e-4 quantization lattice
    * (Spark's Percentile aggregates (value → count) — ≤ ~10^4 distinct
    * cells per source regardless of corpus size, so exact quantiles
    * are safe where raw-double percentiles would not be); the
    * threshold table (one row per source) broadcast-joins back. The
    * corpus itself never shuffles, and the narrow signal is
    * deliberately recomputed for the output side rather than cached
    * (same argument as [[unigramLogProb]]'s token stream).
    */
  def sourceQuantilePrune(docs: DataFrame, q: Double = 0.25): DataFrame = {
    def scored = docs.select(col("doc_id"), col("source"),
      round(TextAnalysis.stopwordHits(col("text")).cast("double") /
        greatest(size(TextAnalysis.tokens(col("text"))).cast("long"),
          lit(1)), 4).as("stopword_ratio"))
    val thresholds = scored.groupBy("source")
      .agg(round(expr(s"percentile(stopword_ratio, $q)"), 6)
        .as("src_threshold"))
    scored.join(broadcast(thresholds), Seq("source"))
      .select(col("doc_id"), col("source"), col("stopword_ratio"),
        col("src_threshold"),
        (col("stopword_ratio") >= col("src_threshold")).as("keep"))
  }

  /** Per-document TF-IDF top terms — the classic keyword/topic signal
    * (used for corpus exploration cards, cluster labeling, and
    * near-dup triage): term frequency within the document × inverse
    * document frequency across the corpus, top-N terms per document.
    * Restricted to lowercase ASCII words ≥ 2 chars (q49's
    * pre-tokenization vocabulary definition).
    *
    * Scale: the corpus shuffles once as pre-summed (doc, term)
    * partials; the document-frequency table derives from that SAME
    * aggregate (persisted — both the df groupBy and the scoring join
    * read it), so the token stream is never shuffled twice. N (the
    * document count) is a parquet-metadata count inlined as a literal
    * — the q19 scalar pattern, never a partition-less window. The
    * final top-N is a window partitioned by doc_id (millions of
    * small partitions — the shape that scales), ranking on the
    * ROUNDED score with a term tie-break so ordering is reproducible
    * across engines.
    */
  def tfidfTopTerms(docs: DataFrame, topN: Int = 3): DataFrame = {
    val words = docs
      .select(col("doc_id"),
        explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
      .filter(col("term").rlike("^[a-z]+$") && length(col("term")) >= 2)
    val tf = Dedup.persistOnce(
      words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = docs.count().toDouble
    val scored = tf.join(df, Seq("term"))
      .withColumn("tfidf",
        round(col("tf") * log(lit(nDocs) / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
      .select(col("doc_id"), col("term"), col("tf"), col("tfidf"),
        col("rank"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * via Importance Resampling"): score each raw document by the
    * log-likelihood ratio of a TARGET hashed-unigram bag-of-words
    * model over the RAW corpus model —
    * `log w(x) = Σ_tok [ log p_t(b(tok)) − log p_r(b(tok)) ]` with
    * tokens hashed into `nBuckets` md5 buckets and Laplace-smoothed
    * `(count+1)/(total+B)` probabilities. `targetPred` selects the
    * target-domain rows (here: a column predicate on the corpus
    * itself, e.g. lang = 'en' — a real pipeline would feed a separate
    * high-quality corpus through the same bucket counter). Also emits
    * the Gumbel-perturbed score for DSIR's resample-without-
    * replacement: rank by `score` and take the top-k (the perturbation
    * is a deterministic md5-uniform, so the sample is retry-stable and
    * engine-reproducible like [[sampleByHash]]).
    *
    * Scale: the model "training" is ONE bucket-keyed partial agg of
    * the token stream — counts combine map-side into ≤ nBuckets rows
    * per task, so exactly nBuckets rows shuffle and a nBuckets-row
    * result reaches the driver (the AQE-stats shape; same rationale as
    * [[unigramLogProb]]'s scalar total). The ratio vector is inlined
    * as a LITERAL array, making scoring a zero-shuffle narrow fold
    * over the per-doc token array — no vocabulary join at all, which
    * is DSIR's own reason for hashing. Per-bucket log-ratios round to
    * 1e-6, and the per-doc fold ALSO rounds at 1e-6 — never coarser:
    * a sum of 1e-6-rounded terms is a near-exact 6-decimal value, so
    * rounding it at 1e-4 lands ON decimal half-boundaries where
    * engines tie-break differently (4 of 5000 sf0.1 docs flipped);
    * at 1e-6 the nearest boundary is ~5e-7 away versus ~1e-12 of
    * accumulation error, making the decision unambiguous everywhere.
    */
  def dsirWeights(docs: DataFrame, targetPred: Column,
      nBuckets: Int = 64): DataFrame = {
    def bucketOf(tok: Column): Column =
      conv(substring(md5(tok.cast("binary")), 1, 3), 16, 10)
        .cast("int") % nBuckets
    val counts = docs
      .select(targetPred.as("is_t"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy(bucketOf(col("tok")).as("b"))
      .agg(count(lit(1)).as("raw"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("tgt"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val rawTot = counts.valuesIterator.map(_._1).sum.toDouble
    val tgtTot = counts.valuesIterator.map(_._2).sum.toDouble
    val ratios = (0 until nBuckets).map { b =>
      val (raw, tgt) = counts.getOrElse(b, (0L, 0L))
      val r = math.log((tgt + 1.0) / (tgtTot + nBuckets)) -
        math.log((raw + 1.0) / (rawTot + nBuckets))
      lit(BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    }
    val ratioArr = array(ratios: _*)
    val toks = split(trim(col("text")), "\\s+")
    val logW = round(aggregate(toks, lit(0.0),
      (acc, t) => acc + element_at(ratioArr, bucketOf(t) + 1)), 6)
    val u = (hashBucket(col("doc_id")) + 0.5) / 4096.0
    val gumbel = round(-log(-log(u)), 6)
    docs.select(
      col("doc_id"),
      size(toks).cast("long").as("n_tokens"),
      logW.as("log_weight"),
      gumbel.as("gumbel"))
      .withColumn("score", round(col("log_weight") + col("gumbel"), 6))
  }

  /** Zipf-law fit over the token frequency distribution — the
    * vocabulary health diagnostic (natural-language corpora follow
    * freq ∝ rank^slope with slope ≈ -1; templated/synthetic/spammy
    * corpora deviate hard, so the slope is a cheap corpus-level
    * quality alarm). Least-squares fit of ln(freq) on ln(rank) over
    * the top `topN` tokens.
    *
    * Spark shape (the q68 eager-bounded pattern): ONE groupBy(tok)
    * partial-agg builds the vocabulary, TakeOrderedAndProject (per-
    * partition heaps, never a global sort or a partition-less window)
    * lands the topN rows on the driver, and the fit is driver
    * arithmetic over ≤topN doubles; the RETURNED plan is a 1-row
    * literal — zero exchanges. Determinism: ranking ties break on
    * token; sums fold the rank-ordered list (strict left fold), and
    * the slope/intercept round 1e-6, absorbing the oracle's
    * different summation order (~1e-13). */
  def zipfFit(docs: DataFrame, topN: Int = 100): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val top = docs
      .select(explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(topN)
      .collect()
    val pts = top.zipWithIndex.map { case (r, i) =>
      (math.log((i + 1).toDouble), math.log(r.getLong(1).toDouble))
    }
    val n = pts.length.toDouble
    val sx = pts.foldLeft(0.0)(_ + _._1)
    val sy = pts.foldLeft(0.0)(_ + _._2)
    val sxy = pts.foldLeft(0.0)((a, p) => a + p._1 * p._2)
    val sxx = pts.foldLeft(0.0)((a, p) => a + p._1 * p._1)
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val intercept = (sy - slope * sx) / n
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((pts.length.toLong, r6(slope), r6(intercept)))
      .toDF("n_fit", "zipf_slope", "zipf_intercept")
  }

  /** Per-source unigram KL divergence vs the whole-corpus
    * distribution — the data-mixing drift diagnostic: a source whose
    * token distribution diverges from the corpus (high KL) is either
    * a genre outlier worth upweighting for diversity or contamination
    * worth inspecting; the per-source number is what corpus cards
    * report. KL(source ‖ corpus) = Σ_tok p_s ln(p_s / p_c), summed
    * over the source's own support (p_s > 0 everywhere it's defined,
    * and p_c > 0 there too since the corpus contains the source).
    *
    * Spark shape: ONE explode+groupBy(source, tok) builds per-source
    * counts; per-source totals are a bounded second agg of THAT table
    * (never a second corpus scan) broadcast back; corpus token counts
    * groupBy(tok) + a scalar grand total literal (the q19 rule — no
    * partition-less window); the (source,tok)⋈(tok) equi-join is
    * vocabulary-sized, not corpus-sized. Per-source sum rounds 1e-6
    * (the q67 rule). */
  def sourceKlDivergence(docs: DataFrame): DataFrame = {
    val st = Dedup.persistOnce(docs
      .select(col("source"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("n_st")))
    val srcTot = st.groupBy("source")
      .agg(sum(col("n_st")).as("n_s"))
    val ct = Dedup.persistOnce(
      st.groupBy("tok").agg(sum(col("n_st")).as("n_t")))
    val totalRow = ct.agg(sum(col("n_t"))).head()
    val nTot =
      lit(if (totalRow.isNullAt(0)) Double.NaN else totalRow.getLong(0))
    val ps = col("n_st").cast("double") / col("n_s").cast("double")
    val pc = col("n_t").cast("double") / nTot.cast("double")
    st.join(broadcast(srcTot), Seq("source"))
      .join(ct, Seq("tok"))
      .groupBy("source")
      .agg(
        round(sum(ps * log(ps / pc)), 6).as("kl_div"),
        count(lit(1)).as("n_terms"))
  }

  /** Per-document n-gram NOVELTY — the memorization-risk diagnostic
    * dual of [[dupSpans]]: for each document with at least one
    * k-token window, the fraction of its DISTINCT k-gram fingerprints
    * that occur in no other part of the corpus (corpus document
    * frequency exactly 1 — a window repeated only inside the same
    * document still counts as novel). Low novelty marks documents
    * assembled from corpus-common spans (boilerplate, quotes, mirror
    * shards) that inflate memorization; the Lee et al. dedup papers
    * report exactly this distribution before/after span removal.
    *
    * Plan ([[dupSpans]]'s posture): explode to DISTINCT (doc,
    * 16-byte-hash) rows — text never shuffles, hashes do; ONE
    * persisted shingle table feeds both the df aggregate and the
    * per-doc reduce; the df table joins back hash-keyed. Output:
    * (doc_id, n_distinct, n_novel, novelty_frac). */
  def ngramNovelty(docs: DataFrame, k: Int = 8): DataFrame = {
    val sh = Dedup.persistOnce(docs
      .select(col("doc_id"),
        explode(graft.functions.word_ngrams(col("text"), k)).as("win"))
      .select(col("doc_id"), md5(col("win").cast("binary")).as("h"))
      .distinct())
    val df = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(df, Seq("h"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_distinct"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_distinct"), col("n_novel"),
        round(col("n_novel").cast("double") /
          col("n_distinct").cast("double"), 6).as("novelty_frac"))
  }

  /** Weighted sampling WITHOUT replacement, Efraimidis–Spirakis 2006:
    * each row draws the deterministic uniform u = (h+1)/2^48 from the
    * first 12 md5 hex digits of its key (exact dyadic double on both
    * engines) and scores key = ln(u)/w — taking the top `n` by score
    * is EXACTLY a weight-proportional sample without replacement (the
    * u^(1/w) order statistic, monotone-log transformed). The md5 draw
    * replaces rand() for the [[hashSample]] reasons: task-retry-safe
    * and oracle-reproducible.
    *
    * Plan: one narrow zero-shuffle scoring pass + TakeOrderedAndProject
    * (per-partition top-n, n rows to the driver) — the distributed
    * weighted-reservoir replacement, no global sort at any scale.
    * Output: (doc_id, weight, es_key [round-9; magnitudes are ~1/w]). */
  def weightedSample(docs: DataFrame, weightCol: String,
      n: Int = 100): DataFrame = {
    val h = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 12), 16, 10)
      .cast("long")
    val u = (h + lit(1L)).cast("double") / lit(281474976710656.0) // 2^48
    val esKey = log(u) / col(weightCol).cast("double")
    docs
      .filter(col(weightCol).isNotNull && col(weightCol) > 0)
      .select(col("doc_id"), col(weightCol).cast("long").as("weight"),
        esKey.as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id").asc)
      .limit(n)
      .select(col("doc_id"), col("weight"),
        round(col("es_key"), 9).as("es_key"))
  }

  /** Hot-key (skew) diagnostic — the first pass of the router's
    * adaptive-salting strategy exposed as a query: per-key row counts,
    * corpus share, and a would_salt verdict at `saltFactor`× the mean
    * key size. At 10¹² turns ONE mega-conversation serializes its
    * whole partition through a single task unless the writer salts it;
    * this report is how a pipeline operator finds those keys before
    * (or instead of) letting a stage time out. Top `topN` keys by
    * count.
    *
    * Plan: one partial-agg groupBy of the key (map-side combine — the
    * hot key itself is combined per-task BEFORE the wire, so the
    * diagnostic does not itself suffer the skew it measures), the
    * scalar total/key-count inlined as literals from a bounded 1-row
    * eager agg (the q19 pattern — no partition-less window, no 1-row
    * crossJoin), then TakeOrderedAndProject for the top-N. The salt
    * verdict compares n·n_keys > saltFactor·total in EXACT integer
    * arithmetic — no float boundary to disagree across engines. */
  def hotKeyReport(df: DataFrame, keyCol: String,
      saltFactor: Int = 2, topN: Int = 20): DataFrame = {
    val sizes = Dedup.persistOnce(
      df.groupBy(col(keyCol).as("key"))
        .agg(count(lit(1)).as("n_rows")))
    val r = sizes
      .agg(sum(col("n_rows")).cast("long"), count(lit(1))).head()
    val (total, nKeys) = (r.getLong(0), r.getLong(1))
    sizes
      .select(col("key"), col("n_rows"),
        round(col("n_rows").cast("double") / lit(total.toDouble), 6)
          .as("share"),
        (col("n_rows") * lit(nKeys) > lit(saltFactor.toLong * total))
          .as("would_salt"))
      .orderBy(col("n_rows").desc, col("key"))
      .limit(topN)
  }

  /** Per-source lexical diversity — the corpus-health dual of q24's
    * within-doc repetition: type-token ratio and distinct-bigram ratio
    * per source expose template farms and boilerplate-heavy sources
    * (low TTR at high volume) before they dominate a training mix.
    *
    * Scale: unigrams and bigrams each shuffle ONCE into a
    * (source, gram) partial-agg groupBy (map-side combine collapses
    * repeats before the wire), then re-aggregate to the bounded
    * per-source table; the final join of the two per-source frames is
    * bounded by source cardinality (AQE-broadcastable). No
    * countDistinct over the corpus (its Expand doubles the shuffle
    * volume); distinct-counting falls out of the two-level agg. */
  def lexicalDiversity(docs: DataFrame): DataFrame = {
    def grams(k: Int): DataFrame = {
      val g =
        if (k == 1) explode(split(trim(col("text")), "\\s+"))
        else explode(graft.functions.word_ngrams(col("text"), k))
      docs.select(col("source"), g.as("gram"))
        .groupBy("source", "gram").agg(count(lit(1)).as("c"))
        .groupBy("source")
        .agg(sum("c").as(s"n_grams_$k"),
          count(lit(1)).as(s"n_types_$k"))
    }
    grams(1).join(grams(2), Seq("source"))
      .select(col("source"),
        col("n_grams_1").as("n_tokens"),
        col("n_types_1").as("n_types"),
        round(col("n_types_1").cast("double") /
          col("n_grams_1").cast("double"), 6).as("ttr"),
        col("n_grams_2").as("n_bigrams"),
        col("n_types_2").as("n_bigram_types"),
        round(col("n_types_2").cast("double") /
          col("n_grams_2").cast("double"), 6).as("bigram_ttr"))
  }

  /** Content-defined chunking (the FastCDC/rsync posture at token
    * granularity): a chunk ends at every token whose md5-derived
    * 16-bit hash ≡ 0 (mod `modulus`) — boundaries depend only on LOCAL
    * content, so an insertion early in a document shifts ONE chunk
    * instead of re-cutting every fixed-width window (the property that
    * makes chunk-hash dedup robust to edits; contrast [[chunkDocs]]'s
    * fixed windows). Emits (doc_id, chunk_idx, n_tokens, chunk_hash).
    *
    * Plan: tokens explode with position, the boundary flag is a narrow
    * md5 map, and chunk_idx is a running count of PRIOR boundaries —
    * a lag-frame window partitioned on doc_id (bounded per-doc
    * partitions, the q81 posture — never global), then one
    * (doc_id, chunk_idx) groupBy rebuilds each chunk in token order
    * deterministically via array_sort on (pos, token) structs. Two
    * keyed exchanges total, both on doc-bounded keys; text bytes move
    * once. */
  def cdcChunks(docs: DataFrame, modulus: Int = 8): DataFrame = {
    val tok = docs
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+"))
          .as(Seq("pos", "tok")))
      .withColumn("bnd",
        when(conv(substring(md5(col("tok").cast("binary")), 1, 4),
          16, 10).cast("int") % modulus === 0, 1L).otherwise(0L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    tok
      .withColumn("chunk_idx",
        coalesce(sum(col("bnd")).over(w), lit(0L)))
      .groupBy("doc_id", "chunk_idx")
      .agg(
        count(lit(1)).as("n_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok")), " ").cast("binary"))
          .as("chunk_hash"))
  }

  /** q107: daily corpus-volume growth curve — turns and active
    * conversations per epoch day plus the cumulative turn share (the
    * ingest dashboard: "how much of the corpus had arrived by day
    * N"). Days are `floor(ts_ms / 86 400 000)` — pure integer
    * arithmetic, timezone-free on every engine.
    *
    * Scale shape: one corpus pass (partial+final agg keyed by day;
    * day cardinality is bounded — years of data is ~10³ keys), then
    * the running total over the day axis is computed on the COLLECTED
    * rollup and returned as a literal frame (the q102 eager pattern:
    * a window over days would be a partition-less sort at scale for
    * no reason — the rollup already fits on the driver). */
  def dailyVolume(t: DataFrame): DataFrame = {
    val spark = t.sparkSession
    import spark.implicits._
    val days = t
      .groupBy(expr("div(CAST(ts_ms AS BIGINT), 86400000)")
        .as("day_idx"))
      .agg(count(lit(1)).as("n_turns"),
        countDistinct(col("conv_id")).as("n_convs"))
      .collect() // bounded: one row per day
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val total = days.map(_._2).sum
    val cum = days.scanLeft(0L)(_ + _._2).tail
    days.zip(cum).toSeq
      .map { case ((d, n, c), ct) => (d, n, c, ct) }
      .toDF("day_idx", "n_turns", "n_convs", "cum_turns")
      .withColumn("cum_share", round(col("cum_turns").cast("double") /
        lit(total.toDouble), 6))
  }

  /** Top-N PMI collocations: pointwise mutual information
    * ln(p(w1w2) / (p(w1)·p(w2))) over corpus bigrams with at least
    * `minCount` occurrences — the collocation miner (Church & Hanks
    * 1990). High-PMI pairs are multi-word units a tokenizer/dedup
    * shingle should treat atomically; a corpus whose top PMI list is
    * boilerplate ("click here", "all rights") is template-heavy.
    *
    * Scale: unigram and bigram tables are each ONE corpus agg with
    * map-side partial combine (the q25 posture — hot grams arrive
    * pre-summed); corpus token/bigram totals are bounded eager scalars
    * inlined as literals (the q19 pattern, never a partition-less
    * window); the `minCount` filter prunes the bigram table BEFORE its
    * two unigram equi-joins (vocabulary-sized, keyed on word); the
    * top-N is TakeOrderedAndProject with the bigram string as
    * tie-break. PMI's float path (two divides, one multiply, ln,
    * round 1e-6) is spelled identically in the oracle. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5,
      topN: Int = 20): DataFrame = {
    val toks = split(trim(col("text")), "\\s+")
    val tot = docs.select(
      sum(size(toks)).cast("double"),
      sum(greatest(size(toks) - 1, lit(0))).cast("double")).head()
    val (nU, nB) = (tot.getDouble(0), tot.getDouble(1))
    val uni = docs.select(explode(toks).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val bi = docs
      .select(explode(graft.functions.word_ngrams(col("text"), 2))
        .as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
      .withColumn("w1", split(col("ngram"), " ")(0))
      .withColumn("w2", split(col("ngram"), " ")(1))
    bi
      .join(uni.select(col("tok").as("w1"), col("n").as("n_w1")), "w1")
      .join(uni.select(col("tok").as("w2"), col("n").as("n_w2")), "w2")
      .select(col("ngram"), col("n_pair"), col("n_w1"), col("n_w2"),
        round(log((col("n_pair").cast("double") / nB) /
          ((col("n_w1").cast("double") / nU) *
            (col("n_w2").cast("double") / nU))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("ngram")).limit(topN)
  }

  /** Top-N distance-2 skip-gram pairs (w_i, w_{i+2}) — the
    * co-occurrence table a word2vec-style embedding trainer consumes
    * beyond adjacent bigrams (q25/q139 cover distance 1): skip-grams
    * see through function words ("state ___ art"), so their top list
    * surfaces the corpus's multi-word frames rather than its
    * stock adjacencies.
    *
    * Scale: identical posture to q25 — the pair extraction is one
    * narrow zip_with over the token array (codegen'd, no explode
    * until the pair string exists), the count is ONE corpus agg with
    * map-side partial combine absorbing hot pairs, and the top-N is
    * TakeOrderedAndProject with the pair string as tie-break. */
  def skipgramPairs(docs: DataFrame, topN: Int = 20): DataFrame = {
    val w = split(trim(col("text")), "\\s+")
    val pairs = when(size(w) >= 3,
      zip_with(slice(w, lit(1), size(w) - 2), slice(w, lit(3), size(w) - 2),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(typedLit(Seq.empty[String]))
    docs.select(explode(pairs).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair")).limit(topN)
  }

  /** Dedup-aware mixture planner: [[mixturePlan]]'s integer quota
    * apportionment re-based on EFFECTIVE token supply — each
    * document's tokens down-weighted by its near-dup cluster size
    * (q138's measure) in exact micro-token integer arithmetic. A
    * source that looks big but is mostly copies gets epochs_eff ≫
    * epochs_raw: the planner's raw epoch count under-states how often
    * the model will actually see the same text (Muennighoff et al.'s
    * data-constrained regime counts unique tokens, not raw).
    *
    * Scale: q36's intrinsic pair→component derivation plus q122's
    * bounded per-source planner; micro-token sums are 64-bit exact
    * (n_tok·1e6 per doc, quota·1e6 per source — switch to
    * DECIMAL(38) arithmetic beyond ~9·10^12-token per-source quotas).
    * All outputs integers/booleans — bit-identical across engines,
    * retries and cluster sizes. */
  def dedupAwarePlan(docs: DataFrame, budgetTokens: Long): DataFrame = {
    val cl = Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(docs.select("doc_id", "text"), 3, 0.1)
        .select("doc_a", "doc_b"))
    val tok = docs.select(col("doc_id"), col("source"),
      substring(col("source"), 4, 10).cast("int").as("src_idx"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tok"))
    val withCl = tok.join(cl, Seq("doc_id"), "left")
      .withColumn("cluster_id",
        coalesce(col("cluster_id"), col("doc_id")))
    val sizes = withCl.groupBy("cluster_id")
      .agg(count(lit(1)).as("csize"))
    val perSrc = Dedup.persistOnce(withCl
      .join(sizes, Seq("cluster_id"))
      .withColumn("eff_utok", expr("n_tok * 1000000 div csize"))
      .groupBy("source")
      .agg(min("src_idx").as("src_idx"), count(lit(1)).as("n_docs"),
        sum("n_tok").as("avail_tok"), sum("eff_utok").as("eff_utok")))
    // bounded eager scalar (#sources), inlined as a literal
    val nSrc = math.max(perSrc.count(), 1L)
    val base = budgetTokens / nSrc
    val rem = budgetTokens % nSrc
    perSrc
      .withColumn("quota_tok",
        lit(base) + when(col("src_idx") < lit(rem), 1L).otherwise(0L))
      .withColumn("epochs_raw",
        expr("(quota_tok + avail_tok - 1) div avail_tok"))
      .withColumn("epochs_eff",
        expr("(quota_tok * 1000000 + eff_utok - 1) div eff_utok"))
      .select(col("source"), col("n_docs"), col("avail_tok"),
        col("eff_utok"), col("quota_tok"), col("epochs_raw"),
        col("epochs_eff"),
        (col("epochs_eff") > col("epochs_raw")).as("dup_penalty"))
      .orderBy("source")
  }

  /** Heaps'-law fit per source: least-squares regression of
    * ln(n_types) on ln(n_tokens) across the source's documents —
    * V(n) ≈ K·n^β, so heaps_beta ≪ the natural-text ~0.5 means
    * machine-generated / template text (vocabulary saturates), β → 1
    * means near-gibberish (every token novel); r2 says whether the
    * power law holds at all. The corpus-growth complement of q94's
    * point-estimate diversity and q134's per-document profile.
    *
    * Scale: per-doc (ln tokens, ln types) is a zero-shuffle row-local
    * projection (array HOFs); the regression is ONE bounded partial+
    * final agg of six moment sums keyed by source. The slope /
    * intercept / r² algebra is spelled identically in the DuckDB
    * oracle — raw moment sums, the textbook n·Σxy−ΣxΣy forms, rounded
    * 1e-6 only at output — so both engines walk the same float path
    * (double moment error ~1e-12 against the 1e-6 grid). Degenerate
    * sources (zero token-count variance) map to 0.0 in BOTH engines
    * rather than null. */
  def heapsFit(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val per = docs.select(col("source"),
      log(size(toks).cast("double")).as("x"),
      log(size(array_distinct(toks)).cast("double")).as("y"))
    val n = count(lit(1)).cast("double")
    val agg = per.groupBy("source").agg(
      n.as("n"), sum("x").as("sx"), sum("y").as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val covN = col("n") * col("sxy") - col("sx") * col("sy")
    val varXN = col("n") * col("sxx") - col("sx") * col("sx")
    val varYN = col("n") * col("syy") - col("sy") * col("sy")
    val slope = covN / varXN
    agg.select(
        col("source"), col("n").cast("long").as("n_docs"),
        when(varXN =!= 0.0, round(slope, 6)).otherwise(0.0)
          .as("heaps_beta"),
        when(varXN =!= 0.0,
          round(exp((col("sy") - slope * col("sx")) / col("n")), 6))
          .otherwise(0.0).as("heaps_k"),
        when(varXN =!= 0.0 && varYN =!= 0.0,
          round(covN * covN / (varXN * varYN), 6)).otherwise(0.0)
          .as("r2"))
      .orderBy("source")
  }

  /** q149: per-term burstiness (Church & Gale) — mean occurrences per
    * CONTAINING document, tf_total / df. A term with high burstiness
    * clumps (topical content words: when it appears, it appears many
    * times); burstiness ≈ 1 is the evenly-sprinkled function-word
    * signature. The corpus-level per-TERM dispersion complement of the
    * per-DOC profile in q134 and of frequency-only rankings (q25/q78
    * see total counts; burstiness separates "common everywhere" from
    * "rare but dense").
    *
    * Scale: per-doc term frequencies are computed ROW-LOCALLY (the
    * q134 distinct→count lambda pipeline), so the only corpus shuffle
    * ships (term, tf) partials into ONE map-side-combined agg; top-N
    * lands via TakeOrderedAndProject on the rounded score (round
    * BEFORE ordering so the rank can't straddle a ulp), term asc
    * tie-break. minDf suppresses unstable low-support ratios. */
  def termBurstiness(docs: DataFrame, minDf: Long = 5,
      topN: Int = 100): DataFrame =
    docs.select(TextAnalysis.tokens(col("text")).as("toks"))
      .select(explode(transform(array_distinct(col("toks")),
        t => struct(t.as("term"),
          size(filter(col("toks"), x => x === t)).cast("long")
            .as("tf")))).as("e"))
      .groupBy(col("e.term").as("term"))
      .agg(count(lit(1)).as("df"), sum(col("e.tf")).as("tf_total"))
      .filter(col("df") >= minDf)
      .withColumn("burstiness",
        round(col("tf_total").cast("double") / col("df"), 6))
      .orderBy(col("burstiness").desc, col("term").asc)
      .limit(topN)

  /** q164: shard-balance audit for q60's assignment — per-shard TOKEN
    * load (training shards are consumed by token count, not doc
    * count), reduced to the one-row report a data-loading team reads:
    * shards used, min/max/mean load and the max/mean straggler ratio.
    * A ratio near 1 says the md5 key is doing its job; a high ratio
    * says one shard gates every epoch. Uses [[shardHash]] — the SAME
    * key q60 writes with, so the audit grades the real layout.
    *
    * Scale: ONE bounded nShards-row agg (map-side combined), swept on
    * the driver (q68 posture). */
  def shardBalance(docs: DataFrame, nShards: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    val loads = docs
      .select(pmod(shardHash, lit(nShards.toLong)).cast("int")
          .as("shard"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("nt"))
      .groupBy("shard").agg(sum(col("nt")).as("load"))
      .collect().map(r => r.getLong(1))
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val total = loads.sum
    val mean = total.toDouble / nShards
    import spark.implicits._
    Seq((nShards, loads.length, total,
        if (loads.isEmpty) 0L else loads.min,
        if (loads.isEmpty) 0L else loads.max,
        r6(mean),
        if (total == 0L) 0.0 else r6(loads.max / mean)))
      .toDF("n_shards", "n_shards_used", "total_tokens", "min_load",
        "max_load", "mean_load", "max_over_mean")
  }

  /** q159: vocabulary churn across ingestion deciles — per q151
    * decile: how many distinct token TYPES appear, how many appear
    * here for the FIRST time, and the running vocabulary size. The
    * set-membership complement of q151's distributional KL: a decile
    * can match the corpus distribution (low KL) while still minting
    * new vocabulary (tokenizer OOV pressure), or churn nothing while
    * drifting in frequency. First-seen = min(decile) per type — one
    * agg, no ordered scan.
    *
    * Scale: the corpus reduces ONCE to DISTINCT (decile, tok) rows
    * (map-side combined); per-decile type counts and the
    * first-seen histogram are two bounded re-aggs of that table, and
    * the cumulative sweep runs on the driver over ≤nBuckets rows
    * (the q151 posture). */
  def vocabChurn(docs: DataFrame, nBuckets: Int = 10): DataFrame = {
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val n = maxId + 1
    val dec = least(expr(s"doc_id * $nBuckets DIV ${n}L"),
      lit(nBuckets - 1L)).cast("int")
    val st = Dedup.persistOnce(docs
      .select(dec.as("decile"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .distinct())
    val perDec = st.groupBy("decile").agg(count(lit(1)).as("n_types"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val newPerDec = st.groupBy("tok").agg(min(col("decile")).as("fd"))
      .groupBy("fd").agg(count(lit(1)).as("n_new"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var cum = 0L
    val rows = perDec.keys.toSeq.sorted.map { d =>
      val types = perDec(d)
      val nw = newPerDec.getOrElse(d, 0L)
      cum += nw
      (d, types, nw, r6(nw.toDouble / types), cum)
    }
    val spark = docs.sparkSession
    import spark.implicits._
    rows.toDF("decile", "n_types", "n_new", "new_share", "cum_vocab")
      .orderBy("decile")
  }

  /** q156: per-source bigram conditional entropy rate H(next ∣ prev)
    * — how predictable is each source's text, one token ahead? −Σ
    * p(ab)·ln p(b∣a) over the source's adjacent-token pairs, with
    * p(b∣a) = n_ab / n_a• (the bigram LEFT marginal). Low entropy =
    * templated/boilerplate text (every token determines the next);
    * high = diverse prose. The information-theoretic summary that
    * q94's count ratios approximate, with exp(H) as the familiar
    * per-token perplexity. (Per-source counterpart of q70, which
    * scores DOCUMENTS under the corpus LM.)
    *
    * Scale: q70's pair machinery keyed by source — the corpus
    * shuffles once into (source, w1, w2) counts (map-side combined),
    * the left marginal re-aggregates that table, the join re-keys on
    * (source, w1), and source totals broadcast; the output is one
    * bounded per-source rollup. Float-sum + 1e-6 round = the q79
    * discipline. */
  def bigramEntropyRate(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("source"),
      split(trim(col("text")), "\\s+").as("w"))
    val bg = toks.select(col("source"), explode(expr(
      """IF(size(w) >= 2,
        |  transform(sequence(1, size(w) - 1),
        |    i -> struct(element_at(w, i) AS w1,
        |                element_at(w, i + 1) AS w2)),
        |  array())""".stripMargin)).as("b"))
      .select(col("source"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bi = Dedup.persistOnce(bg.groupBy("source", "w1", "w2")
      .agg(count(lit(1)).as("n_ab")))
    val marg = bi.groupBy("source", "w1").agg(sum(col("n_ab")).as("n_a"))
    val tot = bi.groupBy("source").agg(sum(col("n_ab")).as("t_s"))
    val pab = col("n_ab").cast("double") / col("t_s").cast("double")
    val pba = col("n_ab").cast("double") / col("n_a").cast("double")
    bi.join(marg, Seq("source", "w1"))
      .join(broadcast(tot), Seq("source"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_distinct_bigrams"),
        max(col("t_s")).as("n_bigrams"),
        // 0.0 − sum, not unary minus: a perfectly deterministic
        // source sums to +0.0 and must not flip to −0.0
        round(lit(0.0) - sum(pab * log(pba)), 6).as("entropy_rate"))
      .withColumn("perplexity", round(exp(col("entropy_rate")), 6))
      .orderBy("source")
  }

  /** q151: ingestion-order composition drift — the corpus split into
    * `nBuckets` equal doc_id deciles (doc_id IS arrival order in this
    * data model), each scored with q79's KL(decile ‖ corpus) over the
    * token distribution, plus the round-over-round delta. A rising
    * tail says the crawler's recent intake no longer looks like the
    * corpus (pipeline drift BEFORE it poisons the mixture); the
    * TEMPORAL complement of q79 (per-source) and q136 (embedding
    * batches).
    *
    * Scale: decile = exact integer `div` on doc_id against the eager
    * max-id literal (the q19 scalar pattern — no window, no
    * crossJoin); then exactly q79's plan with decile as the key: ONE
    * (decile, tok) agg, bounded decile totals broadcast, token-keyed
    * corpus join. The round-over-round delta runs on the DRIVER over
    * the collected ≤nBuckets-row result (the q68 bounded-collect
    * posture — a decile−1 self-join would re-derive the whole KL
    * lineage on both sides, and a lag() would need a partition-less
    * window). */
  def ingestionDrift(docs: DataFrame, nBuckets: Int = 10): DataFrame = {
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val n = maxId + 1
    val dec = least(expr(s"doc_id * $nBuckets DIV ${n}L"),
      lit(nBuckets - 1L)).cast("int")
    val st = Dedup.persistOnce(docs
      .select(dec.as("decile"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .groupBy("decile", "tok").agg(count(lit(1)).as("n_dt")))
    val decTot = st.groupBy("decile").agg(sum(col("n_dt")).as("n_d"))
    val ct = st.groupBy("tok").agg(sum(col("n_dt")).as("n_t"))
    val nTot = lit(st.agg(sum(col("n_dt"))).head().getLong(0))
    val pd = col("n_dt").cast("double") / col("n_d").cast("double")
    val pc = col("n_t").cast("double") / nTot.cast("double")
    val kl = st.join(broadcast(decTot), Seq("decile"))
      .join(ct, Seq("tok"))
      .groupBy("decile")
      .agg(max(col("n_d")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        round(sum(pd * log(pd / pc)), 6).as("kl_vs_corpus"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
      .sortBy(_._1)
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = kl.zipWithIndex.map { case ((d, ntk, ntm, k), i) =>
      val delta =
        if (i == 0) None else Some(r6(k - kl(i - 1)._4))
      (d, ntk, ntm, k, delta)
    }
    val spark = docs.sparkSession
    import spark.implicits._
    rows.toSeq.toDF("decile", "n_tokens", "n_terms", "kl_vs_corpus",
        "delta_kl")
      .orderBy("decile")
  }

  /** q150: per-source Kolmogorov–Smirnov drift on the token-length
    * distribution — for every source, the exact two-sample KS
    * statistic of its doc-length CDF against the REST of the corpus,
    * with the length where the supremum is attained and the
    * α=0.05 critical value (1.358·√((n_s+n_r)/(n_s·n_r))). The
    * distribution-SHAPE counterpart of q79's token-histogram KL: KL
    * sees vocabulary drift, KS sees length drift (truncation bugs,
    * boilerplate injection, a scraper that started cutting pages
    * short), and the sup-gap length says WHERE.
    *
    * Scale: lengths cap at `lenCap` buckets, so the corpus reduces to
    * ONE bounded (source × ≤lenCap) histogram agg — map-side combined,
    * the only corpus shuffle — and the CDF sweep runs on the driver
    * over that documented-bound table (the q68 rocAuc posture; a
    * distributed grid would need a sources×lengths cross join for
    * lengths a source lacks). All ratios are IEEE divisions of exact
    * longs, so the driver and the SQL oracle agree bit-for-bit. */
  def lengthKsDrift(docs: DataFrame, lenCap: Int = 4096): DataFrame = {
    val spark = docs.sparkSession
    val cell = docs
      .select(col("source"),
        least(size(TextAnalysis.tokens(col("text"))), lit(lenCap))
          .cast("long").as("len"))
      .groupBy(col("source"), col("len"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val lens = cell.map(_._2).distinct.sorted
    val allByLen = cell.groupBy(_._2).view
      .mapValues(_.map(_._3).sum).toMap
    val nAll = cell.map(_._3).sum
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = cell.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (source, rs) =>
        val srcByLen = rs.map(r => (r._2, r._3)).toMap
        val nS = rs.map(_._3).sum
        val nR = math.max(nAll - nS, 1L)
        var cumS = 0L; var cumAll = 0L
        var ks = 0.0; var ksLen = lens.headOption.getOrElse(0L)
        lens.foreach { len =>
          cumS += srcByLen.getOrElse(len, 0L)
          cumAll += allByLen(len)
          val gap = math.abs(
            cumS.toDouble / nS - (cumAll - cumS).toDouble / nR)
          if (gap > ks) { ks = gap; ksLen = len }
        }
        val crit = 1.358 * math.sqrt((nS + nR).toDouble / (nS.toDouble * nR))
        (source, nS, r6(ks), ksLen, r6(crit), r6(ks) > r6(crit))
    }
    import spark.implicits._
    rows.toDF("source", "n_docs", "ks_stat", "ks_len", "crit_005",
        "drifted")
      .orderBy("source")
  }
}
