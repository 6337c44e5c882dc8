package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Eleventh-wave operators: the SFT-preparation slice of a training-data
  * pipeline over multi-turn transcripts — the stage between the parsed /
  * deduplicated transcript table and the tokenizer. Everything here is a
  * per-conversation window computation (hash-partitioned on conv_id:
  * billions of SMALL partitions at 100 TB, never a global sort or a
  * partition-less window) plus bounded final aggregates.
  *
  * Reference scope note: the reference (Syun-tnb/llm-logparser) stops at
  * parse→normalize→export; these operators are engine additions in the
  * spirit of its transcript model (docs/requirements.md message schema:
  * role/text/ts per turn).
  */
object SftPrep {

  private def convWindow = Window.partitionBy(col("conv_id"))
    .orderBy(col("turn_idx"))

  /** q101: user→assistant SFT pair extraction — the standard
    * instruction-tuning transform: every adjacent (user prompt,
    * assistant response) turn pair, with the full prior-history
    * context digested to an md5 (the pair builder at scale ships the
    * rendered context to the tokenizer; the digest keeps this
    * oracle-checkable without shipping O(conv²) text through the
    * compare).
    *
    * Scale shape: ONE conv_id hash partitioning shared by the lead()
    * pair walk and the running-context frame; the context
    * concatenation is sorted INSIDE the collected array
    * (array_sort on (turn_idx, line) structs) so the digest is
    * independent of window-frame traversal order — engine-portable by
    * construction, not by implementation accident.
    *
    * Input columns: conv_id, turn_idx, role, text.
    */
  def sftPairs(t: DataFrame): DataFrame = {
    val w = convWindow
    val ctx = convWindow.rowsBetween(Window.unboundedPreceding, -1)
    t.select(col("conv_id"), col("turn_idx"), col("role"), col("text"))
      .withColumn("next_role", lead(col("role"), 1).over(w))
      .withColumn("next_text", lead(col("text"), 1).over(w))
      .withColumn("n_context_turns", count(lit(1)).over(ctx))
      .withColumn("ctx_arr",
        collect_list(struct(col("turn_idx").as("i"),
          concat(col("role"), lit(": "), col("text")).as("line")))
          .over(ctx))
      .filter(col("role") === "user" && col("next_role") === "assistant")
      .select(col("conv_id"), col("turn_idx"),
        col("text").as("prompt"), col("next_text").as("response"),
        col("n_context_turns"),
        md5(expr("array_join(transform(array_sort(ctx_arr), x -> x.line), '\n')")
          .cast("binary")).as("context_md5"))
  }

  /** q102: role-transition matrix — the Markov structure report over
    * turn sequences (which role follows which, with per-from-role
    * conditional probabilities). The transition rollup is bounded at
    * roles² rows, so it runs EAGERLY (one corpus pass: the lead()
    * walk + one partial+final agg — the q68/q78/q86 bounded-collect
    * pattern) and the RETURNED plan is the literal matrix; a lazy
    * counts⋈totals join would re-derive the corpus subtree in both
    * branches and scan it twice. The division stays a Spark round()
    * on the literal frame so rounding semantics match the oracle's
    * engine-side round(x, 6). */
  def roleTransitions(t: DataFrame): DataFrame = {
    val counts = t.select(col("conv_id"), col("turn_idx"), col("role"))
      .withColumn("to_role", lead(col("role"), 1).over(convWindow))
      .filter(col("to_role").isNotNull)
      .groupBy(col("role").as("from_role"), col("to_role"))
      .agg(count(lit(1)).as("n_transitions"))
      .collect() // bounded: ≤ |roles|² rows
    val fromTotals: Map[String, Long] = counts
      .groupBy(_.getString(0))
      .view.mapValues(_.map(_.getLong(2)).sum).toMap
    val spark = t.sparkSession
    import spark.implicits._
    counts.toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(2).toDouble / fromTotals(r.getString(0)).toDouble))
      .toDF("from_role", "to_role", "n_transitions", "p_raw")
      .select(col("from_role"), col("to_role"), col("n_transitions"),
        round(col("p_raw"), 6).as("p"))
  }

  /** q103: context-budget truncation report — fit each conversation
    * into a fixed token budget by keeping the longest SUFFIX (the
    * standard left-truncation before tokenization: recent turns carry
    * the signal; the last turn is always kept even if alone it
    * overflows). Whitespace tokens are the q20 contract.
    *
    * Scale shape: a reverse running sum + row_number share ONE
    * (conv_id, turn_idx DESC) window partitioning, and the per-conv
    * rebuild groupBy reuses the same conv_id hash partitioning (the
    * q97 subset-key pattern) — one exchange total for the whole
    * operator. The kept-text digest sorts inside the collected array,
    * frame-order independent. */
  def contextFit(t: DataFrame, budgetTokens: Long): DataFrame = {
    val wRev = Window.partitionBy(col("conv_id"))
      .orderBy(col("turn_idx").desc)
    val g = t.select(col("conv_id"), col("turn_idx"), col("text"))
      .withColumn("n_tok",
        size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("cum_from_end", sum(col("n_tok"))
        .over(wRev.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("pos_from_end", row_number().over(wRev))
      .withColumn("keep",
        col("cum_from_end") <= budgetTokens || col("pos_from_end") === 1)
    g.groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("n_tok")).otherwise(0L))
          .as("kept_tokens"),
        collect_list(when(col("keep"),
          struct(col("turn_idx").as("i"), col("text").as("t"))))
          .as("kept_arr"))
      .select(col("conv_id"), col("n_turns"), col("n_kept"),
        col("kept_tokens"),
        md5(expr("array_join(transform(array_sort(kept_arr), x -> x.t), '\n')")
          .cast("binary")).as("kept_md5"))
  }

  /** q104: tool-call chains — consecutive tool-turn bigrams within a
    * conversation (which tool follows which: the workflow-mining
    * report for agent transcripts). The lead() walks only the
    * tool-turn subsequence (tool IS NOT NULL filter BEFORE the window,
    * so the shuffled stream is already the small slice); the bigram
    * rollup is bounded at tools² rows. */
  def toolChains(t: DataFrame): DataFrame =
    t.filter(col("tool").isNotNull)
      .select(col("conv_id"), col("turn_idx"), col("tool"))
      .withColumn("next_tool", lead(col("tool"), 1).over(convWindow))
      .filter(col("next_tool").isNotNull)
      .select(col("tool").as("tool_a"), col("next_tool").as("tool_b"))
      .groupBy(col("tool_a"), col("tool_b"))
      .agg(count(lit(1)).as("n_chains"))

  /** q106: per-conversation repetition report — the degenerate-loop
    * audit an SFT pipeline runs before training (a model that
    * self-repeats inside one conversation poisons pairs even when no
    * text is corpus-frequent enough for q105 to flag). Reports every
    * conversation: adjacent same-role exact repeats, distinct-text
    * count and the uniqueness ratio.
    *
    * Scale shape: the lag() walk and the per-conv rollup share ONE
    * conv_id hash partitioning (the groupBy reuses the window's
    * partitioning — q97 subset-key pattern); countDistinct(text)
    * stays inside the same exchange because the grouping key is the
    * partitioning key. The ratio is an exact small-integer division. */
  def repeatReport(t: DataFrame): DataFrame = {
    val w = convWindow
    t.select(col("conv_id"), col("turn_idx"), col("role"), col("text"))
      .withColumn("prev_role", lag(col("role"), 1).over(w))
      .withColumn("prev_text", lag(col("text"), 1).over(w))
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("role") === col("prev_role") &&
          col("text") === col("prev_text"), 1L).otherwise(0L))
          .as("n_adjacent_repeats"),
        countDistinct(col("text")).as("n_distinct_texts"))
      .withColumn("uniqueness",
        round(col("n_distinct_texts").cast("double") /
          col("n_turns").cast("double"), 6))
  }

  /** q108: turn-length position curve — how message length evolves
    * over a conversation (SFT diagnostics: front-loaded system/context
    * turns vs terse tail turns bias a pair sampler that cuts by
    * position). Each turn lands in a relative-position decile
    * `div(turn_idx * 10, n_turns)` (exact integer arithmetic on both
    * engines — no float boundary), then a bounded (10 × roles) rollup
    * of count / mean tokens / median tokens.
    *
    * Scale shape: n_turns is a count over the SAME conv_id window
    * partitioning the input already carries (one exchange), and the
    * final rollup is bounded at 10×roles rows. percentile() matches
    * DuckDB quantile_cont's linear interpolation (the q81 contract). */
  def positionCurve(t: DataFrame): DataFrame =
    t.select(col("conv_id"), col("turn_idx"), col("role"), col("text"))
      .withColumn("n_turns", count(lit(1)).over(
        Window.partitionBy(col("conv_id"))))
      .withColumn("pos_decile",
        expr("div(CAST(turn_idx AS BIGINT) * 10, n_turns)"))
      .withColumn("n_tok",
        size(split(trim(col("text")), "\\s+")).cast("long"))
      .groupBy(col("pos_decile"), col("role"))
      .agg(
        count(lit(1)).as("n_rows"),
        round(avg(col("n_tok")), 6).as("mean_tok"),
        round(expr("percentile(n_tok, 0.5)"), 4).as("p50_tok"))

  /** q110: role-vocabulary overlap — the register gap between what
    * users write and what the model writes (a large gap means user
    * turns alone are a poor LM corpus; near-total overlap means
    * assistant text is parroting). One corpus pass: tokens reduce to
    * per-token role-presence flags (groupBy token, two bool aggs — the
    * only shuffle, keyed by token), then a single bounded rollup row:
    * vocabulary sizes, intersection, union and exact-division Jaccard.
    * The final agg is the q19 eager-scalar pattern (a 1-row
    * DataFrame), not a collect-and-join. */
  def roleVocabOverlap(t: DataFrame, roleA: String, roleB: String)
      : DataFrame = {
    val toks = t.filter(col("role").isin(roleA, roleB))
      .select(col("role"),
        explode(split(trim(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok"))
      .agg(
        max(when(col("role") === roleA, 1L).otherwise(0L)).as("in_a"),
        max(when(col("role") === roleB, 1L).otherwise(0L)).as("in_b"))
    toks.agg(
        sum(col("in_a")).as("n_vocab_a"),
        sum(col("in_b")).as("n_vocab_b"),
        sum(col("in_a") * col("in_b")).as("n_shared"),
        count(lit(1)).as("n_union"))
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        col("n_union").cast("double"), 6))
  }

  /** q111: conversation-level exact dedup — whole conversations whose
    * ordered (role, text) turn sequence is byte-identical (re-imports,
    * double-logged sessions: the conversation-grain twin of q30's
    * document dedup and q105's turn dedup). Each conversation reduces
    * to ONE md5 digest (computed inside the conv_id-partitioned
    * rollup — at 100 TB the shuffle after this point carries 16-byte
    * keys, one row per conversation), then a digest-partitioned window
    * counts the duplicate group each conversation belongs to.
    * The digest sorts inside the collected array (frame-order
    * independent, the q101/q103 contract). */
  def convDigestDups(t: DataFrame): DataFrame = {
    val perConv = t
      .select(col("conv_id"), col("turn_idx"),
        concat(col("role"), lit(": "), col("text")).as("line"))
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        md5(expr("array_join(transform(array_sort(" +
          "collect_list(struct(turn_idx, line))), x -> x.line), '\n')")
          .cast("binary")).as("conv_md5"))
    perConv
      .withColumn("dup_group_n",
        count(lit(1)).over(Window.partitionBy(col("conv_md5"))))
      .select(col("conv_id"), col("n_turns"), col("conv_md5"),
        col("dup_group_n"))
  }

  /** q112: truncated-response detection — assistant turns that end
    * mid-thought (the context-length cutoff artifact every SFT
    * pipeline filters: an answer sliced at max_tokens teaches the
    * model to stop mid-sentence). Two objective, regex-free signals:
    * an ODD count of ``` fence markers (an opened-but-never-closed
    * code block) and a last non-space character outside the terminal
    * punctuation set (ASCII + CJK 。！？). Fence count is the exact
    * occurrence fold (length-diff ÷ marker length — the q110/langGuess
    * stop-hit contract); the last character comes from right(rtrim(·),
    * 1), identical semantics on both engines. One narrow codegen'd
    * pass over the assistant slice, zero shuffles beyond the input's
    * own derivation — at 100 TB this is a scan-rate filter. */
  def truncationReport(t: DataFrame): DataFrame = {
    val fences = ((length(col("text")) -
      length(replace(col("text"), lit("```"), lit("")))) / 3)
      .cast("long")
    val terminal =
      Seq(".", "!", "?", "\"", "'", ")", "]", "`", "。", "！", "？")
    t.filter(col("role") === "assistant")
      .select(col("conv_id"), col("turn_idx"), col("text"))
      .withColumn("n_fences", fences)
      .withColumn("unclosed_fence", col("n_fences") % 2 === 1)
      .withColumn("no_terminal",
        !expr("right(rtrim(text), 1)").isin(terminal: _*))
      .filter(col("unclosed_fence") || col("no_terminal"))
      .select(col("conv_id"), col("turn_idx"), col("n_fences"),
        col("unclosed_fence"), col("no_terminal"))
  }

  /** q113: conversation language-consistency report — conversations
    * where the user and model drift across languages (a code-switching
    * transcript is fine for multilingual SFT but poison for a
    * monolingual run; the mixed flag is the routing key). Per-turn
    * language is [[TextAnalysis.langGuess]] (the q21 contract — same
    * expression, same oracle CASE), reduced in two conv-local hops:
    * groupBy (conv_id, lang) counts, then ONE conv_id partitioning
    * shared by the dominant-language window (count desc, lang asc
    * tie-break) and the final rollup — the window's exchange is the
    * rollup's exchange. Conversation cardinality bounds every
    * post-turn-level row count. */
  def convLangReport(t: DataFrame): DataFrame = {
    val perLang = t
      .select(col("conv_id"),
        TextAnalysis.langGuess(col("text")).as("lang"))
      .groupBy(col("conv_id"), col("lang"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("n").desc, col("lang").asc)
    perLang.withColumn("rk", row_number().over(w))
      .groupBy(col("conv_id"))
      .agg(
        sum(col("n")).as("n_turns"),
        count(lit(1)).as("n_langs"),
        max(when(col("rk") === 1, col("lang"))).as("dominant_lang"),
        (count(lit(1)) > 1).as("is_mixed"))
  }

  /** q114: assistant-echo (parroting) score — for every adjacent
    * user→assistant pair (q101's walk), the fraction of the response's
    * DISTINCT tokens already present in the prompt. A near-1 ratio on
    * a long response is the restate-the-question failure mode; SFT
    * pipelines down-weight it (the per-pair sharp version of q110's
    * corpus-level overlap). Token sets are distinct-filtered arrays
    * (empty-token drop, the q110 contract); the intersection is a
    * per-row array op — after the one conv_id pair-walk exchange the
    * whole computation is narrow. */
  def echoReport(t: DataFrame): DataFrame = {
    def dtoks(c: Column): Column =
      array_distinct(filter(split(trim(c), "\\s+"),
        x => x =!= ""))
    val shared = size(array_intersect(col("atok"), col("utok")))
    t.select(col("conv_id"), col("turn_idx"), col("role"), col("text"))
      .withColumn("next_role", lead(col("role"), 1).over(convWindow))
      .withColumn("next_text", lead(col("text"), 1).over(convWindow))
      .filter(col("role") === "user" && col("next_role") === "assistant")
      .select(col("conv_id"), col("turn_idx"),
        dtoks(col("text")).as("utok"),
        dtoks(col("next_text")).as("atok"))
      .select(col("conv_id"), col("turn_idx"),
        size(col("atok")).cast("long").as("n_resp_tokens"),
        shared.cast("long").as("n_shared"),
        round(shared.cast("double") /
          greatest(size(col("atok")), lit(1)), 6).as("echo_ratio"))
  }

  /** q105: canned-response detection — assistant turns whose exact
    * text repeats ≥ minUses times across the corpus (templated/canned
    * boilerplate that an SFT pipeline down-weights or drops: the
    * turn-level twin of q30's document dedup). Texts reduce to md5
    * BEFORE the shuffle (16-byte keys on the wire, q30's posture); the
    * corpus-total normalizer is the q19 eager-scalar-literal pattern
    * (one bounded action, no partition-less window); top-N lands via
    * TakeOrderedAndProject with the md5 tie-break. */
  def cannedResponses(t: DataFrame, minUses: Long, topN: Int): DataFrame = {
    val a = t.filter(col("role") === "assistant")
      .select(col("conv_id"), md5(col("text").cast("binary"))
        .as("text_md5"))
    val total: Long = a.count()
    a.groupBy(col("text_md5"))
      .agg(count(lit(1)).as("n_uses"),
        countDistinct(col("conv_id")).as("n_convs"))
      .filter(col("n_uses") >= minUses)
      .withColumn("share", round(col("n_uses").cast("double") /
        lit(total.toDouble), 6))
      .orderBy(col("n_uses").desc, col("text_md5"))
      .limit(topN)
  }

  /** q115: user prompt-template mining — the user-side twin of q105:
    * prompts are skeletonized (lowercase, digit runs → `#`, whitespace
    * runs → one space, trim) so "click 89" and "click 7" collapse to
    * one template, then counted. SFT pipelines use this to spot
    * machine-generated prompt boilerplate worth down-weighting and to
    * name the dominant interaction shapes in a corpus.
    *
    * Scale shape: the HEAVY aggregation ships only 16-byte md5 keys
    * (q30/q105 posture — the skeleton text is hashed BEFORE the
    * shuffle); template text crosses the wire only for rows matching
    * the top-N winner keys, recovered via an explicitly broadcast
    * ≤topN-row join and a second md5-keyed agg over that filtered
    * slice. Digit/whitespace classes are spelled as explicit character
    * classes (`[0-9]`, `[ \t\n\r]`) — identical under Java regex and
    * RE2, so the skeleton is engine-portable by construction. */
  def promptTemplates(t: DataFrame, minUses: Long, topN: Int): DataFrame = {
    val skel = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[0-9]+", "#"),
      "[ \\t\\n\\r]+", " "))
    val u = t.filter(col("role") === "user")
      .select(col("conv_id"), skel.as("template"))
      .withColumn("template_md5", md5(col("template").cast("binary")))
    val winners = u.groupBy(col("template_md5"))
      .agg(count(lit(1)).as("n_uses"),
        countDistinct(col("conv_id")).as("n_convs"))
      .filter(col("n_uses") >= minUses)
      .orderBy(col("n_uses").desc, col("template_md5"))
      .limit(topN)
    u.join(broadcast(winners), "template_md5")
      .groupBy(col("template_md5"), col("n_uses"), col("n_convs"))
      .agg(min(col("template")).as("template"))
      .select(col("template_md5"), col("template"),
        col("n_uses"), col("n_convs"))
      .orderBy(col("n_uses").desc, col("template_md5"))
  }

  /** q116: assistant refusal / failure-marker incidence per language —
    * the safety-mix report an SFT pipeline runs before sampling: a
    * corpus whose assistant turns are 30% refusals teaches refusing,
    * one with 0% teaches never refusing, and a rate that differs 10×
    * between languages is a multilingual-alignment bug; all three are
    * findings. Markers are a fixed lowercase substring set (refusal
    * phrases + error markers, EN+JA); matching is `contains` on the
    * lowercased text — no regex, so the predicate is a codegen'd scan
    * both here and in the oracle. The language key is
    * [[TextAnalysis.langGuess]], the q21/q113 contract.
    *
    * Scale shape: one narrow pass over the assistant slice, then a
    * single rollup bounded by language-class cardinality (the
    * distinct-conversation count rides the same exchange via the
    * standard two-phase expand). */
  def refusalReport(t: DataFrame): DataFrame = {
    val isRefusal = isRefusalExpr(col("text"))
    t.filter(col("role") === "assistant")
      .select(TextAnalysis.langGuess(col("text")).as("lang"),
        col("conv_id"), isRefusal.cast("int").as("r"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_turns"),
        sum(col("r")).as("n_refusals"),
        countDistinct(when(col("r") === 1, col("conv_id")))
          .as("n_convs_refusing"),
        round(sum(col("r")).cast("double") / count(lit(1)), 6)
          .as("refusal_rate"))
      .orderBy(col("lang"))
  }

  /** q117: padding-efficiency report for length-bucketed batching —
    * per-conversation token totals (the q20 whitespace-token contract)
    * assigned to power-of-two sequence buckets, reporting per bucket
    * how many tokens a pad-to-bucket-cap batcher would waste. This is
    * the number that decides a training run's bucket boundaries: a
    * bucket with waste_share 0.45 is a bucket boundary in the wrong
    * place. The cap ladder is an exact-integer CASE chain (16 … 4096,
    * else 8192) — no float log2, whose power-of-two boundary rounding
    * differs across engines.
    *
    * Scale shape: one conv_id-keyed agg (map-side partial sums make
    * the shuffle rows-per-conversation, not per-turn) feeding a
    * ≤10-row bucket rollup; everything after the first exchange is
    * bounded by the ladder length. */
  def paddingReport(t: DataFrame): DataFrame = {
    val caps = Seq(16L, 32L, 64L, 128L, 256L, 512L, 1024L, 2048L, 4096L)
    val nTok = size(split(trim(col("text")), "\\s+")).cast("long")
    val conv = t.select(col("conv_id"), nTok.as("n_tok"))
      .groupBy(col("conv_id")).agg(sum(col("n_tok")).as("len"))
    val cap = caps.reverse.foldLeft(lit(8192L): Column)(
      (acc, c) => when(col("len") <= c, lit(c)).otherwise(acc))
    conv.withColumn("bucket_cap", cap)
      .groupBy(col("bucket_cap"))
      .agg(count(lit(1)).as("n_seqs"), sum(col("len")).as("n_tokens"))
      .withColumn("n_padding",
        col("bucket_cap") * col("n_seqs") - col("n_tokens"))
      .withColumn("waste_share", round(col("n_padding").cast("double") /
        (col("bucket_cap") * col("n_seqs")).cast("double"), 6))
      .orderBy(col("bucket_cap"))
  }

  /** q118: preference-pair mining for DPO/RLHF prep — in a transcript
    * stream, a run of ≥2 consecutive assistant turns answering one
    * user prompt is the regeneration signature (the user asked once,
    * the system produced multiple candidates). Each such run becomes a
    * (prompt, chosen, rejected) training row: chosen = the longest
    * candidate (ties → earliest turn), rejected = the shortest
    * (ties → latest turn) — the standard verbosity-proxy bootstrap a
    * pipeline uses before a learned reward model exists. Texts leave
    * the operator as md5 digests (the trainer joins them back by
    * digest), keeping the compare O(pairs), not O(bytes).
    *
    * Scale shape: run detection is one conv_id-partitioned window pass
    * (lag + running sum — billions of SMALL partitions, never global);
    * the per-run argmax/argmin are SEMILATTICE struct aggregates
    * (max/min over (len, -turn_idx, md5) tuples), so the groupBy gets
    * full map-side partial aggregation — no per-run sort, no top-k
    * window. The oracle spells the same selection as explicit
    * ORDER BY windows, pinning that the struct-lattice shortcut equals
    * the sort-based definition. */
  def preferencePairs(t: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val run = sum(
      when(lag(col("role"), 1).over(w).isNull ||
        lag(col("role"), 1).over(w) =!= col("role"), 1L).otherwise(0L))
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val marked = t
      .withColumn("prev_role", lag(col("role"), 1).over(w))
      .withColumn("prev_text", lag(col("text"), 1).over(w))
      .withColumn("run_id", run)
    val cand = struct(
      length(col("text")).cast("long").as("len"),
      (-col("turn_idx")).cast("long").as("nti"),
      md5(col("text").cast("binary")).as("h"))
    marked.filter(col("role") === "assistant")
      .groupBy(col("conv_id"), col("run_id"))
      .agg(
        count(lit(1)).as("n_candidates"),
        min(struct(col("turn_idx").as("ti"),
          col("prev_role").as("pr"),
          md5(col("prev_text").cast("binary")).as("ph"))).as("head"),
        max(cand).as("ch"),
        min(cand).as("rj"))
      .filter(col("n_candidates") >= 2 && col("head.pr") === "user")
      .select(
        col("conv_id"),
        (col("head.ti") - 1).cast("int").as("prompt_turn_idx"),
        col("head.ph").as("prompt_md5"),
        col("n_candidates"),
        col("ch.h").as("chosen_md5"), col("ch.len").as("chosen_len"),
        col("rj.h").as("rejected_md5"), col("rj.len").as("rejected_len"))
      .orderBy(col("conv_id"), col("prompt_turn_idx"))
  }

  /** q119: context-window trim transform — the intervention stage for
    * q103's context-fit report: given a token budget, keep the longest
    * SUFFIX of each conversation that fits (newest context wins, the
    * standard chat-serving and SFT-packing rule) and drop the oldest
    * turns. Emits the kept rows (text as md5 — the trainer re-joins by
    * digest) plus each conversation's drop count, so the downstream
    * sampler can down-weight heavily-truncated conversations. A
    * conversation whose final turn alone exceeds the budget vanishes
    * entirely (nothing fits) — deliberate, matching pack-or-drop
    * semantics. Token counts are the q20 whitespace contract.
    *
    * Scale shape: one conv_id hash partitioning carries everything —
    * the reverse cumulative sum (ordered window), the pre-filter
    * total, and the post-filter kept count (partition-only windows,
    * never partition-less); no second shuffle, no join-back for the
    * drop count. */
  def contextTrim(t: DataFrame, budget: Long): DataFrame = {
    val nTok = size(split(trim(col("text")), "\\s+")).cast("long")
    val wRev = Window.partitionBy(col("conv_id"))
      .orderBy(col("turn_idx").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wConv = Window.partitionBy(col("conv_id"))
    t.withColumn("n_tok", nTok)
      .withColumn("cum_from_end", sum(col("n_tok")).over(wRev))
      .withColumn("n_total", count(lit(1)).over(wConv))
      .filter(col("cum_from_end") <= budget)
      .withColumn("n_dropped",
        (col("n_total") - count(lit(1)).over(wConv)).cast("long"))
      .select(col("conv_id"), col("turn_idx"), col("role"),
        col("n_tok"), col("cum_from_end"),
        md5(col("text").cast("binary")).as("text_md5"),
        col("n_dropped"))
      .orderBy(col("conv_id"), col("turn_idx"))
  }

  /** q120: tool-reliability attribution — per tool: call volume, how
    * often the turn IMMEDIATELY after the tool call carries a failure
    * marker (the "did the tool blow up the conversation" rate), and
    * the mean latency from tool turn to the next turn. This is the
    * report that decides which tool integration gets the oncall
    * ticket, and — pipeline-side — which tool-call spans to filter
    * from training data. Failure matching is lowercase `contains` (no
    * regex, codegen'd scan both engines); the mean is an exact BIGINT
    * gap sum divided once (no float accumulation order in play).
    *
    * Scale shape: one conv_id-partitioned lead() pass (the q81/q104
    * posture), then a rollup bounded by tool-vocabulary cardinality
    * with map-side partials. */
  def toolReliability(t: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val nxt = t
      .withColumn("next_text", lead(col("text"), 1).over(w))
      .withColumn("next_ts", lead(col("ts_ms"), 1).over(w))
      .filter(col("role") === "tool" && col("tool").isNotNull)
    val p = lower(col("next_text"))
    val isErr = col("next_text").isNotNull &&
      (p.contains(lit("error")) || p.contains(lit("failed")))
    nxt.groupBy(col("tool"))
      .agg(
        count(lit(1)).as("n_calls"),
        sum(isErr.cast("long")).as("n_error_follow"),
        sum(when(col("next_ts").isNotNull,
          col("next_ts") - col("ts_ms")).otherwise(lit(0L)))
          .as("sum_gap_ms"),
        count(col("next_ts")).as("n_with_next"))
      .withColumn("error_follow_rate",
        round(col("n_error_follow").cast("double") /
          col("n_calls").cast("double"), 6))
      .withColumn("mean_gap_ms",
        round(col("sum_gap_ms").cast("double") /
          nullif(col("n_with_next"), lit(0L)).cast("double"), 3))
      .select(col("tool"), col("n_calls"), col("n_error_follow"),
        col("error_follow_rate"), col("n_with_next"),
        col("mean_gap_ms"))
      .orderBy(col("tool"))
  }

  /** q121: degenerate-loop collapse transform — the intervention for
    * q106's repetition report: drop every turn whose (role, text)
    * exactly equals its predecessor (a run of k identical turns keeps
    * its first), emit the kept rows with their re-packed turn index
    * plus each conversation's collapse count. Stuck-model loops are
    * poison in SFT data — the model learns to repeat itself — so the
    * pipeline stage that matters is the removal, not the report.
    *
    * Scale shape: ONE conv_id hash partitioning carries the lag
    * comparison, the pre-filter total, the post-filter re-index
    * (row_number) and the kept count — no second shuffle, no
    * join-back. Text leaves as md5 (trainer re-joins by digest). */
  def loopCollapse(t: DataFrame): DataFrame = {
    val w = convWindow
    val wConv = Window.partitionBy(col("conv_id"))
    t.withColumn("dup",
        when(col("role") === lag(col("role"), 1).over(w) &&
          col("text") === lag(col("text"), 1).over(w), 1).otherwise(0))
      .withColumn("n_total", count(lit(1)).over(wConv))
      .filter(col("dup") === 0)
      .withColumn("new_turn_idx", row_number().over(w) - 1)
      .withColumn("n_collapsed",
        (col("n_total") - count(lit(1)).over(wConv)).cast("long"))
      .select(col("conv_id"), col("turn_idx"), col("new_turn_idx"),
        col("role"), md5(col("text").cast("binary")).as("text_md5"),
        col("n_collapsed"))
      .orderBy(col("conv_id"), col("turn_idx"))
  }

  /** q123: chat-template render — the serialization step that hands a
    * conversation to the tokenizer: every turn becomes
    * `<|role|>\ntext`, joined by newlines in turn order. Emits the
    * rendered string's md5 and token count (q20 contract) — the
    * digest keeps the compare O(convs) while still pinning every byte
    * of the rendered form, template tokens included.
    *
    * Scale shape: one conv_id-keyed aggregation; collect_list gets
    * map-side partial aggregation and the sort happens INSIDE the
    * collected array (array_sort on (turn_idx, line) structs), so the
    * render is independent of both partitioning and window-frame
    * traversal order — the q101 portability posture. */
  /** q124: loss-mask span table — the companion to q123's render:
    * per turn, the exact token span `[start_tok, end_tok)` it
    * occupies in the rendered stream and whether the trainer computes
    * loss on it (assistant turns 1, everything else 0). The q123
    * contract makes each turn's contribution exactly
    * `1 role-header token + n_tok(text)` whitespace tokens, so the
    * offsets are a pure integer running sum — bit-identical across
    * engines, no tokenizer in the loop.
    *
    * Scale shape: ONE conv_id hash partitioning carries the running
    * sum (ROWS UNBOUNDED PRECEDING over the unique turn_idx order);
    * everything else is a narrow projection. */
  def lossMask(t: DataFrame): DataFrame = {
    val w = convWindow
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.select(col("conv_id"), col("turn_idx"), col("role"), col("text"))
      .withColumn("n_tok_turn",
        lit(1L) + size(split(trim(col("text")), "\\s+")).cast("long"))
      .withColumn("end_tok", sum(col("n_tok_turn")).over(w))
      .withColumn("start_tok", col("end_tok") - col("n_tok_turn"))
      .select(col("conv_id"), col("turn_idx"), col("role"),
        col("n_tok_turn"), col("start_tok"), col("end_tok"),
        when(col("role") === "assistant", 1L).otherwise(0L).as("mask"))
      .orderBy(col("conv_id"), col("turn_idx"))
  }

  /** q125: sliding dialogue-window chunking — split long
    * conversations into overlapping training windows of `winTurns`
    * turns starting every `stride` turns (the context-length chunker
    * for dialogue pretraining; overlap preserves cross-boundary
    * context). A conversation of n turns gets
    * `1 + ceil(max(n - winTurns, 0) / stride)` windows — exact
    * integer arithmetic, so window membership can never flip across
    * engines; short conversations get exactly one window [0, n).
    *
    * Scale shape: ONE count-agg per conv_id (map-side partials), then
    * the window table materializes via a narrow
    * `explode(sequence(...))` — rows expand by the bounded factor
    * n_windows/conv, there is NO join back to the turn table (the
    * trainer slices turns by [start, end) downstream, colocated by
    * the same conv_id key). */
  def dialogueWindows(
      t: DataFrame, winTurns: Int = 8, stride: Int = 4): DataFrame =
    t.groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_turns"))
      .withColumn("n_windows",
        lit(1L) + expr(
          s"(greatest(n_turns - $winTurns, 0L) + ${stride - 1}) div $stride"))
      .withColumn("window_idx",
        explode(sequence(lit(0L), col("n_windows") - 1)))
      .select(col("conv_id"), col("window_idx"),
        (col("window_idx") * stride).as("start_turn"),
        least(col("window_idx") * stride + winTurns, col("n_turns"))
          .as("end_turn"),
        col("n_windows"))
      .orderBy(col("conv_id"), col("window_idx"))

  /** q127: tool-grounding score — for every tool→assistant adjacency,
    * how much of the assistant's distinct-token vocabulary appears in
    * the tool output it just received. Low grounding on tool-heavy
    * data flags responses that IGNORE their tool results (a
    * hallucination-risk signal an agentic-SFT pipeline filters on);
    * the q114 echo machinery pointed at the tool edge instead of the
    * user edge.
    *
    * Scale shape: the q101/q114 pair walk — ONE conv_id partitioning
    * for the lead() adjacency; token arrays are built and intersected
    * AFTER the pair filter, never shuffled. */
  def toolGrounding(t: DataFrame): DataFrame = {
    def dtoks(c: Column): Column =
      array_distinct(filter(split(trim(c), "\\s+"), x => x =!= ""))
    t.select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("text"))
      .withColumn("next_role", lead(col("role"), 1).over(convWindow))
      .withColumn("next_text", lead(col("text"), 1).over(convWindow))
      .filter(col("role") === "tool" && col("next_role") === "assistant")
      .select(col("conv_id"), col("turn_idx"), col("tool"),
        dtoks(col("text")).as("ttok"),
        dtoks(col("next_text")).as("atok"))
      .select(col("conv_id"), col("turn_idx"), col("tool"),
        size(col("ttok")).cast("long").as("n_tool_tokens"),
        size(col("atok")).cast("long").as("n_resp_tokens"),
        size(array_intersect(col("atok"), col("ttok"))).cast("long")
          .as("n_grounded"),
        round(size(array_intersect(col("atok"), col("ttok")))
            .cast("double") / greatest(size(col("atok")), lit(1)), 6)
          .as("grounding_ratio"))
      .orderBy(col("conv_id"), col("turn_idx"))
  }

  /** q128: special-token leakage scan — per (role, marker), how often
    * chat-template control tokens (`<|`, `|>`, `[INST]`, `<<SYS>>`,
    * `</s>`) appear INSIDE message text. Template markers leaking
    * into content poison chat-template training (the model learns to
    * emit its own stop/control tokens mid-message), so the healthy
    * result is all-zeros and any nonzero row is actionable. Counts
    * are exact substring occurrences via the
    * `(len - len(replace)) / len(marker)` identity — literal match,
    * no regex, pure integer arithmetic.
    *
    * Scale shape: the marker struct array is built row-local and
    * exploded BEFORE the aggregation (×|markers| narrow rows,
    * map-side partials absorb them); one bounded
    * (roles × markers) rollup. */
  def specialTokenScan(t: DataFrame): DataFrame = {
    val markers = Seq("<|", "|>", "[INST]", "<<SYS>>", "</s>")
    val cnts = array(markers.map { m =>
      struct(lit(m).as("marker"),
        ((length(col("text")) -
          length(replace(col("text"), lit(m), lit("")))) /
          lit(m.length)).cast("long").as("n_occ"))
    }: _*)
    t.select(col("role"), explode(cnts).as("mc"))
      .select(col("role"), col("mc.marker").as("marker"),
        col("mc.n_occ").as("n_occ"))
      .groupBy(col("role"), col("marker"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("n_occ") > 0, 1L).otherwise(0L))
          .as("n_turns_with"),
        sum(col("n_occ")).as("n_occurrences"))
      .withColumn("rate",
        round(col("n_turns_with").cast("double") /
          col("n_turns").cast("double"), 6))
      .orderBy(col("role"), col("marker"))
  }

  /** q129: ingestion-order timestamp anomaly audit — per
    * conversation, events whose timestamp steps BACKWARD relative to
    * arrival order (event_id), plus same-millisecond collisions. The
    * pipeline's stable (ts, message_id) sort makes ordering
    * deterministic either way; this audit QUANTIFIES how much
    * reordering that sort performs — clock skew / backfill detection
    * before sessionization trusts the timestamps.
    *
    * Input: raw (conv_id, event_id, ts_ms) in ARRIVAL order — not the
    * ts-sorted transcript view (which is non-decreasing by
    * construction and would audit nothing).
    *
    * Scale shape: one conv_id partitioning for the lag() walk + the
    * same-keyed rollup; max_backstep is a semilattice max. */
  def tsAnomalyReport(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("event_id"))
    ev.select(col("conv_id"), col("event_id"), col("ts_ms"))
      .withColumn("prev_ts", lag(col("ts_ms"), 1).over(w))
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("ts_ms") < col("prev_ts"), 1L).otherwise(0L))
          .as("n_backsteps"),
        sum(when(col("ts_ms") === col("prev_ts"), 1L).otherwise(0L))
          .as("n_ts_collisions"),
        max(when(col("ts_ms") < col("prev_ts"),
          col("prev_ts") - col("ts_ms")).otherwise(0L))
          .as("max_backstep_ms"))
      .withColumn("anomalous",
        col("n_backsteps") > 0 || col("n_ts_collisions") > 0)
      .orderBy(col("conv_id"))
  }

  /** q133: preference-margin calibration report — the quality gate on
    * q118's mined pairs. DPO-style training degrades when the
    * chosen/rejected gap is noise (margin ≈ 0 teaches nothing and
    * over-length-regularizes), so pipelines band pairs by margin and
    * drop the bottom band. Bands are fixed char-length cuts
    * (0 / 1–8 / 9–32 / 33–128 / >128); per band the report carries
    * pair count, margin stats, mean candidate-pool size, and how many
    * pairs a `margin ≥ gate` filter keeps.
    *
    * Scale shape: inherits q118's single conv_id partitioning, then
    * ONE bounded (≤5-row) band rollup — margins are integer
    * arithmetic on q118's already-aggregated output, no text. */
  def marginReport(t: DataFrame, gate: Long = 9L): DataFrame = {
    val m = col("chosen_len") - col("rejected_len")
    preferencePairs(t)
      .select(
        when(m === 0, "b0_zero")
          .when(m <= 8, "b1_1_8")
          .when(m <= 32, "b2_9_32")
          .when(m <= 128, "b3_33_128")
          .otherwise("b4_gt128").as("margin_band"),
        m.as("m"), col("n_candidates"))
      .groupBy(col("margin_band"))
      .agg(
        count(lit(1)).as("n_pairs"),
        round(avg(col("m")), 6).as("avg_margin"),
        min(col("m")).as("min_margin"),
        max(col("m")).as("max_margin"),
        round(avg(col("n_candidates")), 6).as("avg_candidates"),
        sum(when(col("m") >= gate, 1L).otherwise(0L)).as("n_gate_kept"))
      .orderBy(col("margin_band"))
  }

  /** q135: ungrounded-numbers audit — q127's grounding idea sharpened
    * to the highest-risk token class: for every tool→assistant
    * adjacency, which NUMBERS in the assistant's reply do not appear
    * in the tool output it just received. A fabricated figure is the
    * canonical agentic hallucination (prices, counts, IDs), and
    * number-grounding is checkable exactly — digit-run extraction,
    * set difference, no NLP. Rows with `has_ungrounded` feed the
    * drop/review queue an agentic-SFT pipeline runs before training.
    *
    * Scale shape: the q127 pair walk — ONE conv_id partitioning for
    * the lead() adjacency; number lists are extracted and differenced
    * AFTER the pair filter, row-local, never shuffled. */
  def ungroundedNumbers(t: DataFrame): DataFrame = {
    def nums(c: Column): Column =
      array_distinct(regexp_extract_all(c, lit("[0-9]+"), lit(0)))
    t.select(col("conv_id"), col("turn_idx"), col("role"), col("tool"),
        col("text"))
      .withColumn("next_role", lead(col("role"), 1).over(convWindow))
      .withColumn("next_text", lead(col("text"), 1).over(convWindow))
      .filter(col("role") === "tool" && col("next_role") === "assistant")
      .select(col("conv_id"), col("turn_idx"), col("tool"),
        nums(col("text")).as("tnum"),
        nums(col("next_text")).as("anum"))
      .select(col("conv_id"), col("turn_idx"), col("tool"),
        size(col("anum")).cast("long").as("n_nums"),
        size(array_except(col("anum"), col("tnum"))).cast("long")
          .as("n_ungrounded"))
      .withColumn("ungrounded_share",
        round(col("n_ungrounded").cast("double") /
          greatest(col("n_nums"), lit(1L)), 6))
      .withColumn("has_ungrounded", col("n_ungrounded") > 0)
      .orderBy(col("conv_id"), col("turn_idx"))
  }

  /** q130: KV-prefix-cache sharing report — group conversations by
    * the first `prefixChars` characters of their OPENING turn (the
    * shared-system-prompt / boilerplate-opener signature) and compute
    * the token mass a prefix-cached server or a
    * pack-shared-prefixes-together trainer saves: every conversation
    * after the first in a group re-uses `prefix_n_tok` cached tokens,
    * so `saved_tok = (n_convs - 1) * prefix_n_tok`. The report ranks
    * prefixes by savings — the direct input to a "which system
    * prompts deserve a warm cache slot" decision.
    *
    * Scale shape: the opener filter (turn_idx = 0) collapses the
    * corpus to one row per conversation BEFORE any regrouping; the
    * md5-keyed rollup gets map-side partials, and prefix text never
    * leaves the operator (digest only). */
  def prefixCacheReport(t: DataFrame, prefixChars: Int = 24): DataFrame =
    t.filter(col("turn_idx") === 0)
      .select(substring(col("text"), 1, prefixChars).as("prefix"))
      .select(md5(col("prefix").cast("binary")).as("prefix_md5"),
        size(split(trim(col("prefix")), "\\s+")).cast("long")
          .as("prefix_n_tok"))
      .groupBy(col("prefix_md5"), col("prefix_n_tok"))
      .agg(count(lit(1)).as("n_convs"))
      .withColumn("saved_tok",
        (col("n_convs") - 1) * col("prefix_n_tok"))
      .select(col("prefix_md5"), col("n_convs"), col("prefix_n_tok"),
        col("saved_tok"))
      .orderBy(col("saved_tok").desc, col("prefix_md5"))

  /** q131: opening-intent mixture — classify every conversation by a
    * rules table (prefix → intent) applied to its FIRST user turn,
    * then report the corpus mixture per intent with mean depth and
    * token mass. This is the "what is this corpus actually made of"
    * report a data-mixture owner reads before setting sampling
    * weights; conversations with no user turn land in `no_user`,
    * unmatched openers in `other`.
    *
    * Scale shape: the first-user-turn pick is a SEMILATTICE min over
    * (turn_idx, text) structs — full map-side partial aggregation on
    * the conv_id key the transcript derivation already hashed by (no
    * re-exchange), then one bounded per-intent rollup. */
  /** The opening-intent rule table shared by q131 and q154 — the
    * single definition, so the refusal attribution grades the same
    * router q131 reports on. */
  private val IntentRules: Seq[(String, String)] = Seq(
    "error" -> "troubleshooting",
    "purchase" -> "transactional",
    "signup" -> "transactional",
    "click" -> "navigational",
    "view" -> "navigational")

  /** The refusal-marker gate shared by q116 and q154 (single
    * definition — same contract discipline as
    * [[TextAnalysis.clfScoreExpr]]). */
  def isRefusalExpr(text: Column): Column = {
    val markers = Seq(
      "i cannot", "i can't", "i'm sorry", "i am unable", "as an ai",
      "refuse", "error", "failed", "申し訳", "できません")
    val p = lower(text)
    markers.map(m => p.contains(lit(m))).reduce(_ || _)
  }

  /** Opening-intent resolution from the (turn_idx, text) struct of a
    * conversation's FIRST user turn — shared by q131 and q154. */
  private def intentOf(firstUser: Column): Column = {
    val ft = firstUser.getField("text")
    IntentRules
      .foldLeft(when(ft.isNull, lit("no_user"))) {
        case (acc, (p, i)) => acc.when(ft.startsWith(p), lit(i))
      }
      .otherwise(lit("other"))
  }

  def intentMix(t: DataFrame): DataFrame = {
    val conv = t.groupBy(col("conv_id")).agg(
      count(lit(1)).as("n_turns"),
      sum(size(split(trim(col("text")), "\\s+")).cast("long"))
        .as("n_tok"),
      min(when(col("role") === "user",
        struct(col("turn_idx"), col("text")))).as("fu"))
    val intent = intentOf(col("fu"))
    conv.select(intent.as("intent"), col("n_turns"), col("n_tok"))
      .groupBy(col("intent"))
      .agg(
        count(lit(1)).as("n_convs"),
        round(avg(col("n_turns")), 6).as("avg_turns"),
        round(avg(col("n_tok")), 6).as("avg_tokens"))
      .orderBy(col("intent"))
  }

  /** Conversation-outcome report: how did each conversation END — an
    * assistant answer ("answered"), a user message nobody replied to
    * ("abandoned"), or a tool result no assistant consumed
    * ("tool_dangling")? Abandonment and dangling-tool rates are the
    * first triage cut for SFT harvesting (q101/q123 want answered
    * conversations) and for serving-side incident review.
    *
    * Scale: ONE conv-keyed agg — the last turn is a semilattice
    * struct-max on (turn_idx, …) (turn_idx is unique per conv, so the
    * argmax is total), partial-agg combined map-side; billions of
    * conversations are just groups. No window, no self-join. */
  def conversationOutcome(t: DataFrame): DataFrame =
    t.groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        max(struct(col("turn_idx"), col("role"),
          length(col("text")).cast("long").as("len"))).as("last"))
      .select(col("conv_id"), col("n_turns"),
        col("last.turn_idx").as("last_turn_idx"),
        col("last.role").as("last_role"),
        col("last.len").as("last_text_len"))
      .withColumn("outcome",
        when(col("last_role") === "assistant", "answered")
          .when(col("last_role") === "user", "abandoned")
          .when(col("last_role") === "tool", "tool_dangling")
          .otherwise("other"))
      .orderBy(col("conv_id"))

  /** Topic-drift score: token-set Jaccard between the FIRST and LAST
    * user turn of each conversation (≥ 2 user turns). Low overlap
    * means the user's final ask is not the opening ask — the
    * conversation wandered — which matters both for intent labeling
    * (q131 labels only the opener) and for context-trim policies
    * (q119 must not cut the turns that carried the topic shift).
    *
    * Scale: first/last user turns are semilattice struct-min/max in
    * ONE conv-keyed agg (no window, no per-conv sort); the Jaccard is
    * a row-local array intersect/union on exactly two token sets per
    * conversation. */
  def topicDrift(t: DataFrame, minJaccard: Double = 0.2): DataFrame = {
    def toks(c: Column): Column =
      array_distinct(split(trim(c), "\\s+"))
    val g = t.filter(col("role") === "user")
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_user_turns"),
        min(struct(col("turn_idx"), col("text"))).as("first"),
        max(struct(col("turn_idx"), col("text"))).as("last"))
      .filter(col("n_user_turns") >= 2)
    val f = toks(col("first.text"))
    val l = toks(col("last.text"))
    g.select(col("conv_id"), col("n_user_turns"),
        col("first.turn_idx").as("first_turn_idx"),
        col("last.turn_idx").as("last_turn_idx"),
        round(size(array_intersect(f, l)).cast("double") /
          greatest(size(array_union(f, l)), lit(1)), 6).as("jaccard"))
      .withColumn("drifted", col("jaccard") < minJaccard)
      .orderBy(col("conv_id"))
  }

  /** Verbosity-slope audit: per-conversation least-squares slope of
    * assistant turn LENGTH on turn index — a positive slope says the
    * assistant's replies lengthen as context grows (the rambling /
    * sycophantic-padding signature); strongly negative says it
    * degenerates to one-liners. The per-conversation complement of
    * q108's corpus-level position curve.
    *
    * Scale: ONE conv-keyed moment agg (six sums, map-side combined).
    * Exactness: x (turn index) and y (char length) are integers, so
    * every moment sum is an EXACT double (< 2^53) — the slope is
    * bit-identical across engines and partitionings with no rounding
    * discipline needed before the 1e-6 output round. turn_idx is
    * unique per conversation, so n ≥ 2 ⇒ nonzero variance. */
  def verbositySlope(t: DataFrame): DataFrame = {
    val x = col("turn_idx").cast("double")
    val y = length(col("text")).cast("double")
    t.filter(col("role") === "assistant")
      .groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_assistant_turns"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"),
        sum(x * y).as("sxy"))
      .filter(col("n_assistant_turns") >= 2)
      .withColumn("n", col("n_assistant_turns").cast("double"))
      .select(col("conv_id"), col("n_assistant_turns"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 6)
          .as("len_slope"),
        round(col("sy") / col("n"), 6).as("mean_resp_len"))
      .withColumn("lengthening", col("len_slope") > 0.0)
      .orderBy(col("conv_id"))
  }

  /** q154: refusal rate by OPENING INTENT — q131's intent router
    * crossed with q116's refusal gate at conversation grain: per
    * intent, how many conversations contain at least one refusing
    * assistant turn? The attribution report that turns two corpus
    * totals into an actionable signal (a refusal spike localized to
    * one intent is a policy/routing bug; spread evenly it's a model
    * change). Both component expressions are the SHARED single
    * definitions ([[IntentRules]]/[[intentOf]],
    * [[isRefusalExpr]]) so this grades exactly what q131/q116 report.
    *
    * Scale: ONE conv-keyed agg (struct-min first-user turn + max
    * refusal flag, both semilattice, map-side combined) feeding a
    * bounded per-intent rollup. No window, no join. */
  /** The correction-marker gate for q175 — user turns that OPEN with a
    * complaint/retry marker. Single definition, same contract
    * discipline as [[isRefusalExpr]]; `startsWith` (not contains)
    * because a correction is an opening speech act, and substring
    * matches would fire on every turn that merely mentions an error. */
  def isCorrectionExpr(text: Column): Column = {
    val markers = Seq(
      "error", "retry", "wrong", "incorrect", "try again", "actually",
      "no, ")
    val p = lower(text)
    markers.map(m => p.startsWith(lit(m))).reduce(_ || _)
  }

  /** q175: correction rate by opening intent — the user-dissatisfaction
    * complement of q154: per intent, how many conversations contain a
    * USER turn that immediately follows an assistant turn and opens
    * with a correction marker ("error …", "wrong …", "try again …")?
    * Refusals (q154) measure what the ASSISTANT declined; corrections
    * measure what the USER rejected — the free preference signal
    * RLHF-style pipelines mine before paying for human labels, and
    * the conversation slice SFT curation down-weights (the assistant
    * turn BEFORE a correction is a known-bad completion).
    *
    * Scale: the follows-assistant condition is one lag over the
    * conv_id window (billions of SMALL partitions, the q102/q148
    * posture), then ONE conv-keyed semilattice agg feeding a bounded
    * per-intent rollup — no join, text never shuffles beyond the
    * conv-keyed exchange. */
  def correctionByIntent(t: DataFrame): DataFrame = {
    val marked = t
      .select(col("conv_id"), col("turn_idx"), col("role"), col("text"))
      .withColumn("prev_role", lag(col("role"), 1).over(convWindow))
    val conv = marked.groupBy(col("conv_id")).agg(
      min(when(col("role") === "user",
        struct(col("turn_idx"), col("text")))).as("fu"),
      max(when(col("role") === "user" &&
        col("prev_role") === "assistant" &&
        isCorrectionExpr(col("text")), 1L).otherwise(0L))
        .as("corrected"))
    conv.select(intentOf(col("fu")).as("intent"),
        col("corrected"))
      .groupBy(col("intent"))
      .agg(
        count(lit(1)).as("n_convs"),
        sum(col("corrected")).as("n_correcting"),
        round(sum(col("corrected")).cast("double") / count(lit(1)), 6)
          .as("correction_conv_rate"))
      .orderBy(col("intent"))
  }

  /** q178: assistant response-latency percentiles by opening intent —
    * q81's user→assistant gap distribution, attributed: a p99 spike
    * confined to one intent is a routing/tool problem on that path
    * (the latency twin of q154's refusal attribution), spread evenly
    * it's capacity. Exact `percentile` is the pinned engine-parity
    * contract (the q13/q81 discipline), with approx_percentile as the
    * documented 100-TB swap.
    *
    * Scale: gap extraction and the conversation's first-user turn are
    * BOTH window functions over the same conv_id window spec (one
    * exchange, billions of small partitions); the percentile agg keys
    * on the bounded intent set. No join anywhere. */
  def latencyByIntent(t: DataFrame): DataFrame = {
    val w = convWindow
    val whole = Window.partitionBy(col("conv_id"))
    val gaps = t
      .select(col("conv_id"), col("turn_idx"), col("role"),
        col("text"), col("ts_ms"))
      .withColumn("prev_role", lag(col("role"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts_ms"), 1).over(w))
      .withColumn("fu", min(when(col("role") === "user",
        struct(col("turn_idx"), col("text")))).over(whole))
      .filter(col("role") === "assistant" &&
        col("prev_role") === "user")
      .select(intentOf(col("fu")).as("intent"),
        (col("ts_ms") - col("prev_ts")).as("gap_ms"))
    gaps.groupBy(col("intent"))
      .agg(
        count(lit(1)).as("n_gaps"),
        expr("percentile(CAST(gap_ms AS DOUBLE), " +
          "array(0.5D, 0.9D, 0.99D))").as("p"),
        round(avg(col("gap_ms")), 4).as("mean_ms"))
      .select(col("intent"), col("n_gaps"),
        round(element_at(col("p"), 1), 4).as("p50_ms"),
        round(element_at(col("p"), 2), 4).as("p90_ms"),
        round(element_at(col("p"), 3), 4).as("p99_ms"),
        col("mean_ms"))
      .orderBy(col("intent"))
  }

  /** q184: conversation survival/hazard curve by turn depth — for each
    * depth d, how many conversations END there (n_ending), how many
    * reached it (n_at_risk), the hazard n_ending/n_at_risk and the
    * survival share still alive after d. The engagement curve behind
    * q125's window sizing and q119's trim budget: a hazard spike at
    * depth 2 says most sessions are one-exchange lookups (pack short
    * windows), a flat hazard says depth is exponential (cap context
    * instead).
    *
    * Scale: ONE conv-keyed count agg, then a length histogram bounded
    * by the maximum conversation depth (tens, not billions) collected
    * and swept top-down on the driver (the q68/q168 posture).
    * Returned bounded local table sorts only. */
  def convHazard(t: DataFrame): DataFrame = {
    val spark = t.sparkSession
    val hist = t.groupBy(col("conv_id"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("len"))
      .agg(count(lit(1)).as("n_ending"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .sortBy(_._1)
    val total = hist.map(_._2).sum
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var atRisk = total
    import spark.implicits._
    hist.map { case (depth, ending) =>
      val row = (depth, ending, atRisk,
        r6(ending.toDouble / atRisk),
        r6((atRisk - ending).toDouble / total))
      atRisk -= ending
      row
    }.toSeq
      .toDF("depth", "n_ending", "n_at_risk", "hazard", "survival")
      .orderBy("depth")
  }

  /** q185: tool-execution latency percentiles per tool — the gap
    * between a tool turn and the turn that invoked it, keyed by the
    * tool. The operational twin of q120's reliability report: q120
    * says WHETHER a tool's calls complete, this says how long they
    * take, and a p99 blow-up on one tool is an integration
    * regression, not a model change. Exact `percentile` per the
    * q13/q81/q178 parity contract.
    *
    * Scale: one lag over the conv window (small partitions), then the
    * percentile agg keys on the bounded tool vocabulary. No join. */
  def toolLatency(t: DataFrame): DataFrame =
    t.select(col("conv_id"), col("turn_idx"), col("role"),
        col("tool"), col("ts_ms"))
      .withColumn("prev_ts", lag(col("ts_ms"), 1).over(convWindow))
      .filter(col("role") === "tool" && col("prev_ts").isNotNull)
      .select(col("tool"), (col("ts_ms") - col("prev_ts")).as("gap_ms"))
      .groupBy(col("tool"))
      .agg(
        count(lit(1)).as("n_calls"),
        expr("percentile(CAST(gap_ms AS DOUBLE), " +
          "array(0.5D, 0.9D, 0.99D))").as("p"),
        round(avg(col("gap_ms")), 4).as("mean_ms"))
      .select(col("tool"), col("n_calls"),
        round(element_at(col("p"), 1), 4).as("p50_ms"),
        round(element_at(col("p"), 2), 4).as("p90_ms"),
        round(element_at(col("p"), 3), 4).as("p99_ms"),
        col("mean_ms"))
      .orderBy(col("tool"))

  /** q188: hour-of-week load profile — turns, conversation starts and
    * tool turns per (day-of-week, UTC hour) cell, with each cell's
    * share of all turns. The capacity-planning heatmap q107's daily
    * totals can't show: a weekday-business-hours ridge says the corpus
    * is workplace traffic (schedule ingestion around the peak), a flat
    * profile says global consumer use, and a tool-turn share that
    * spikes off-peak usually means batch agents, not humans.
    *
    * Day-of-week comes from pure epoch-ms integer arithmetic
    * (epoch day 0 = Thursday, so dow = (day + 4) mod 7 with 0 =
    * Sunday) — no calendar/timezone library on either engine, so the
    * derivation is engine-exact by construction.
    *
    * Scale: ONE agg onto the fixed ≤168-cell (dow, hour) key run
    * eagerly; shares are swept on the driver (the q184 posture) and
    * the returned bounded local table only sorts. */
  /** q188/q199 (dow, hour) keys for ALL epoch-ms values: floor-mod
    * arithmetic, so a pre-1970 timestamp still lands in dow 0–6 and
    * hour 0–23. `msOfDay` (the oracles' `md`) is ts_ms floor-mod one
    * day, so the day index is an exact division on which floor and
    * truncating division agree. Spark's `pmod` is the floor-mod; the
    * oracles spell it `((x % n) + n) % n`, since DuckDB's `%` follows
    * the dividend's sign. */
  private val msOfDay = "pmod(ts_ms, 86400000L)"
  private def hourOfWeekDow: Column =
    expr(s"pmod((ts_ms - $msOfDay) DIV 86400000L + 4L, 7L)")
  private def hourOfWeekHour: Column = expr(s"$msOfDay DIV 3600000L")

  def hourOfWeekLoad(t: DataFrame): DataFrame = {
    val spark = t.sparkSession
    val cells = t.select(
        hourOfWeekDow.as("dow"), hourOfWeekHour.as("hour"),
        col("turn_idx"), col("role"))
      .groupBy(col("dow"), col("hour"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("turn_idx") === 0, 1L).otherwise(0L))
          .as("n_conv_starts"),
        sum(when(col("role") === "tool", 1L).otherwise(0L))
          .as("n_tool_turns"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val total = cells.map(_._3).sum
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    cells.toSeq.map { case (dow, hour, nt, ncs, ntt) =>
      (dow, hour, nt, ncs, ntt, r6(nt.toDouble / total))
    }.toDF("dow", "hour", "n_turns", "n_conv_starts", "n_tool_turns",
      "turn_share")
      .orderBy("dow", "hour")
  }

  /** q193: conversation-volume concentration — exact Gini coefficient
    * and top-1%/top-10% turn shares over the conversation-length
    * distribution. The skew report behind every conv-partitioned
    * window in the registry (q81/q102/q185): a Gini near 0 says conv
    * partitions are uniform and per-conv windows parallelize cleanly;
    * a high Gini with a fat top-1% share names the mega-conversation
    * problem (q100's hot keys) as a corpus property, not an incident.
    *
    * Exact arithmetic: ranks over the bounded length histogram are
    * arithmetic series (BigInt), so the Gini numerator is an exact
    * integer and the only doubles are the final single divisions —
    * engine-reproducible by construction. Top-k counts use integer
    * ceil ((n+99) div 100); tied lengths make the top-k turn sum
    * order-independent.
    *
    * Scale: the q184 posture — ONE conv-keyed count agg, a
    * max-depth-bounded histogram collected, the Lorenz sweep on the
    * driver; the returned single-row literal plans zero exchanges. */
  def convConcentration(t: DataFrame): DataFrame = {
    val spark = t.sparkSession
    val hist = t.groupBy(col("conv_id"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col("len"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .sortBy(_._1)
    val n = hist.map(_._2).sum
    val total = hist.map { case (l, c) => l * c }.sum
    // S1 = Σ rank·len over ascending ranks; a length block spanning
    // ranks r+1..r+c contributes len · c·(2r+c+1)/2 (exact BigInt)
    var rank = 0L
    var s1 = BigInt(0)
    hist.foreach { case (len, c) =>
      s1 += BigInt(len) * (BigInt(c) * (2 * rank + c + 1) / 2)
      rank += c
    }
    // top-k turn sums swept from the longest block down
    def topSum(k: Long): Long = {
      var remaining = k
      var s = 0L
      hist.reverse.foreach { case (len, c) =>
        val take = math.min(remaining, c)
        s += take * len
        remaining -= take
      }
      s
    }
    val k1 = (n + 99) / 100
    val k10 = (n + 9) / 10
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val gini = r6(2.0 * s1.toDouble / (n * total) - (n + 1.0) / n)
    import spark.implicits._
    Seq((n, total, gini,
      r6(topSum(k1).toDouble / total),
      r6(topSum(k10).toDouble / total)))
      .toDF("n_convs", "n_turns", "gini", "top1pct_share",
        "top10pct_share")
  }

  /** q194: exact duplicate-CONVERSATION clusters — whole sessions that
    * repeat verbatim (replayed clients, batch re-submissions, mirror
    * ingests). The q30 exact-dedup idea lifted from documents to the
    * conversation grain: the unit of SFT training is the conversation,
    * so a duplicated session double-weights every turn it contains
    * even when no single turn is notable.
    *
    * Scale: ONE conv-keyed agg builds the ordered-turn digest (the
    * concat is conv-bounded and immediately collapses to 16 bytes —
    * only (hash, conv_id) ever shuffles again); the cluster rollup is
    * keyed on the hash. Same plan class as q30 at the coarser grain. */
  def duplicateConversations(t: DataFrame): DataFrame =
    t.groupBy(col("conv_id"))
      .agg(md5(array_join(transform(
          sort_array(collect_list(struct(col("turn_idx"), col("text")))),
          s => s.getField("text")), "\u0001").cast("binary"))
        .as("conv_hash"))
      .groupBy(col("conv_hash"))
      .agg(count(lit(1)).as("n_convs"), min(col("conv_id")).as("canonical"))
      .filter(col("n_convs") > 1)
      .orderBy("conv_hash")

  /** q195: conversation language-mix rollup — each turn gets the q21
    * heuristic language, each conversation its majority language
    * (ties break toward the lexicographically larger code, the
    * max-struct semilattice) and a mixed flag (≥2 distinct turn
    * languages = code-switching). The bounded corpus-report grain
    * over q113's per-conversation language report — and unlike q113's
    * ranked window, the argmax here is a window-FREE max-struct
    * semilattice, so no per-conv sort exists to skew.
    *
    * Scale: (conv, lang) partial-agg → conv-keyed semilattice argmax
    * → bounded ≤|langs|×2 rollup; text never leaves the first narrow
    * pass. */
  def convLangMix(t: DataFrame): DataFrame =
    t.select(col("conv_id"),
        graft.ops.TextAnalysis.langGuess(col("text")).as("lang"))
      .groupBy(col("conv_id"), col("lang"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("conv_id"))
      .agg(
        max(struct(col("cnt"), col("lang"))).getField("lang")
          .as("majority_lang"),
        (count(lit(1)) > 1).as("is_mixed"))
      .groupBy(col("majority_lang"), col("is_mixed"))
      .agg(count(lit(1)).as("n_convs"))
      .orderBy("majority_lang", "is_mixed")

  /** q196: user/assistant token-balance histogram — per conversation,
    * the user share of (user + assistant) whitespace tokens, bucketed
    * to deciles with pure integer arithmetic ((10·u) div (u+a), so
    * bucket 10 is user-monologue and 0 assistant-monologue). The
    * corpus-shape complement of q108's position curve: SFT mixtures
    * want to KNOW whether they are training on terse-question/long-
    * answer traffic (buckets 0–2) or transcription-style dumps.
    *
    * Scale: one narrow token-count pass + conv-keyed agg; the 11-cell
    * histogram runs EAGERLY and shares sweep on the driver (q184
    * posture), so the returned local table only sorts. */
  def roleBalanceHistogram(t: DataFrame): DataFrame = {
    val spark = t.sparkSession
    val nt = size(split(trim(col("text")), "\\s+")).cast("long")
    val hist = t.filter(col("role").isin("user", "assistant"))
      .select(col("conv_id"), col("role"), nt.as("nt"))
      .groupBy(col("conv_id"))
      .agg(
        sum(when(col("role") === "user", col("nt")).otherwise(0L))
          .as("u"),
        sum(when(col("role") === "assistant", col("nt")).otherwise(0L))
          .as("a"))
      .filter(col("u") + col("a") > 0)
      .select(expr("(10 * u) DIV (u + a)").as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_convs"))
      .collect()
      .map(r => r.getLong(0) -> r.getLong(1))
      .sortBy(_._1)
    val total = hist.map(_._2).sum
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    hist.toSeq.map { case (b, n) => (b, n, r6(n.toDouble / total)) }
      .toDF("bucket", "n_convs", "share")
      .orderBy("bucket")
  }

  /** q197: PII incidence by role — email/phone pattern counts (the
    * q26 regexes, unchanged) attributed to WHO said them. The privacy
    * audit a transcript pipeline needs before the q26-style scrub:
    * user-side PII is expected and gets redacted; ASSISTANT-side PII
    * is a leak (the model echoing or inventing contact data) and is a
    * drop/escalate signal, not a scrub.
    *
    * Scale: one narrow codegen'd regexp pass, ONE bounded role
    * rollup. No window, no join. */
  def piiByRole(t: DataFrame): DataFrame =
    t.select(col("role"),
        regexp_count(col("text"), lit(TextAnalysis.EmailRe)).cast("long")
          .as("ne"),
        regexp_count(col("text"), lit(TextAnalysis.PhoneRe)).cast("long")
          .as("np"))
      .groupBy(col("role"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(col("ne")).as("n_emails"),
        sum(col("np")).as("n_phones"),
        sum(when(col("ne") + col("np") > 0, 1L).otherwise(0L))
          .as("n_turns_with_pii"))
      .select(col("role"), col("n_turns"), col("n_emails"),
        col("n_phones"), col("n_turns_with_pii"),
        round(col("n_turns_with_pii").cast("double") /
          col("n_turns").cast("double"), 6).as("pii_turn_share"))
      .orderBy("role")

  /** q199: response-latency percentiles per hour-of-week cell — q81's
    * user→assistant gap derivation keyed by q188's epoch-ms (dow,
    * hour) arithmetic. The operational latency heatmap: q81 says what
    * the corpus-wide p90 is, this says WHEN it degrades (a nightly
    * batch window inflating p90 at 03:00 is capacity, the same p90
    * all week is the serving stack).
    *
    * Scale: the q81 conv-window walk (billions of small partitions),
    * then exact percentiles on the fixed ≤168-cell key — bounded
    * final agg, no join. */
  def latencyByHour(t: DataFrame): DataFrame = {
    val w = convWindow
    t.select(col("conv_id"), col("turn_idx"), col("role"), col("ts_ms"))
      .withColumn("prev_role", lag(col("role"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts_ms"), 1).over(w))
      .filter(col("role") === "assistant" && col("prev_role") === "user")
      .select(
        hourOfWeekDow.as("dow"), hourOfWeekHour.as("hour"),
        (col("ts_ms") - col("prev_ts")).as("gap_ms"))
      .groupBy(col("dow"), col("hour"))
      .agg(
        count(lit(1)).as("n_gaps"),
        expr("percentile(CAST(gap_ms AS DOUBLE), array(0.5D, 0.9D))")
          .as("p"),
        round(avg(col("gap_ms")), 4).as("mean_ms"))
      .select(col("dow"), col("hour"), col("n_gaps"),
        round(element_at(col("p"), 1), 4).as("p50_ms"),
        round(element_at(col("p"), 2), 4).as("p90_ms"),
        col("mean_ms"))
      .orderBy("dow", "hour")
  }

  def refusalByIntent(t: DataFrame): DataFrame = {
    val conv = t.groupBy(col("conv_id")).agg(
      min(when(col("role") === "user",
        struct(col("turn_idx"), col("text")))).as("fu"),
      max(when(col("role") === "assistant" &&
        isRefusalExpr(col("text")), 1L).otherwise(0L)).as("refused"))
    conv.select(intentOf(col("fu")).as("intent"), col("refused"))
      .groupBy(col("intent"))
      .agg(
        count(lit(1)).as("n_convs"),
        sum(col("refused")).as("n_refusing"),
        round(sum(col("refused")).cast("double") / count(lit(1)), 6)
          .as("refusal_conv_rate"))
      .orderBy(col("intent"))
  }

  /** q148: answer-consistency audit over REPEATED user questions —
    * for every user prompt asked verbatim in ≥ minAsks adjacent
    * user→assistant pairs across the corpus, how many DISTINCT
    * assistant answers did it receive? High diversity on a factual
    * question is the inconsistency signature (conflicting supervision
    * an SFT run should reconcile before training); n_distinct = 1 is
    * the consistent case. The question-keyed complement of q105
    * (which finds repeated ANSWERS regardless of prompt) and of q115
    * (which skeletonizes prompts but never looks at the reply).
    *
    * Scale shape: the pair walk is the q101/q114 lead() over the
    * conv_id window (billions of SMALL partitions); both texts reduce
    * to md5 BEFORE the corpus shuffle (16-byte keys on the wire, the
    * q30/q105 posture), so the question-keyed agg ships no text. The
    * two COUNT(DISTINCT) land in one Expand-based aggregate — one
    * logical agg, no self-join. */
  def answerConsistency(t: DataFrame, minAsks: Long = 2): DataFrame =
    t.select(col("conv_id"), col("turn_idx"), col("role"), col("text"))
      .withColumn("next_role", lead(col("role"), 1).over(convWindow))
      .withColumn("next_text", lead(col("text"), 1).over(convWindow))
      .filter(col("role") === "user" && col("next_role") === "assistant")
      .select(
        md5(col("text").cast("binary")).as("q_md5"),
        md5(col("next_text").cast("binary")).as("a_md5"),
        col("conv_id"))
      .groupBy(col("q_md5"))
      .agg(
        count(lit(1)).as("n_asks"),
        countDistinct(col("conv_id")).as("n_convs"),
        countDistinct(col("a_md5")).as("n_distinct_answers"))
      .filter(col("n_asks") >= minAsks)
      .withColumn("answer_diversity",
        round(col("n_distinct_answers").cast("double") /
          col("n_asks"), 6))
      .withColumn("consistent", col("n_distinct_answers") === 1)
      .orderBy(col("q_md5"))

  def sftRender(t: DataFrame): DataFrame = {
    val line = concat(lit("<|"), col("role"), lit("|>\n"), col("text"))
    t.select(col("conv_id"), col("turn_idx"), line.as("line"))
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        array_sort(collect_list(struct(col("turn_idx"), col("line"))))
          .as("arr"))
      .withColumn("rendered",
        array_join(transform(col("arr"), x => x.getField("line")), "\n"))
      .select(col("conv_id"), col("n_turns"),
        size(split(trim(col("rendered")), "\\s+")).cast("long")
          .as("n_tok"),
        md5(col("rendered").cast("binary")).as("render_md5"))
      .orderBy(col("conv_id"))
  }
}
