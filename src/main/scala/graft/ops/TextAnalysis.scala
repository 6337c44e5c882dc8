package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over a document
  * corpus: token counting, language-ID heuristic, quality scoring,
  * document fingerprinting. All pure Catalyst expressions (codegen'd,
  * no UDFs) and all mirrored 1:1 by DuckDB oracle SQL in Queries.
  *
  * Scale: every operator is a narrow map over the scan — no shuffle,
  * full whole-stage codegen, columns pruned to (doc_id, text).
  */
object TextAnalysis {

  /** Whitespace tokens of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** BPE-ish token-budget estimate (~4 chars/token on natural text) —
    * the single definition shared by q20 and sequence packing (q29). */
  def estBpeTokens(text: Column): Column =
    ceil(length(text) / 4.0).cast("long")

  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      length(col("text")).cast("long").as("n_chars_meas"),
      estBpeTokens(col("text")).as("est_bpe_tokens"))

  /** n-gram-free heuristic language ID:
    *  - CJK codepoints present → "cjk"
    *  - Latin stopword density ≥ 3% → "en"
    *  - ASCII ratio ≥ 0.9 → "latin_other"
    *  - else "other"
    * (The sf corpus text pool is synthetic English-ish for every lang
    * label; the heuristic is graded against its own DuckDB mirror.)
    */
  def langGuess(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    val stopHits =
      Seq(" the ", " a ", " and ", " of ", " to ", " is ").map { w =>
        (length(padded) - length(replace(padded, lit(w), lit("")))) /
          w.length
      }.reduce(_ + _)
    val nTokens = size(tokens(text))
    val asciiRatio = (length(regexp_replace(text, "[^\\x00-\\x7F]", "")) /
      greatest(length(text), lit(1)).cast("double"))
    when(text.rlike("[\\u3040-\\u30ff\\u4e00-\\u9fff]"), "cjk")
      .when(stopHits.cast("double") / greatest(nTokens, lit(1)) >= 0.03, "en")
      .when(asciiRatio >= 0.9, "latin_other")
      .otherwise("other")
  }

  def langId(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), langGuess(col("text")).as("lang_guess"))

  /** q134: per-document lexical profile — type-token ratio, hapax
    * share (tokens seen exactly once) and peak token frequency
    * (burstiness), the per-document complement of q94's per-source
    * diversity: q94 ranks SOURCES, this flags individual DOCUMENTS
    * (hapax_share → 1 is unique-gibberish, max_token_freq ≫ 1 on a
    * short doc is degenerate repetition — both drop candidates).
    *
    * Scale shape: ZERO shuffle — the histogram is built row-local
    * with higher-order array functions (distinct → per-type counts),
    * embarrassingly parallel over the scan. The per-row cost is
    * O(types × tokens), fine at chat/document lengths; a corpus of
    * book-length texts would switch to q94's explode+agg plan, which
    * is the same report at the other grain. */
  def hapaxProfile(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docs
      .select(col("doc_id"), toks.as("toks"),
        array_distinct(toks).as("dts"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("dts")).cast("long").as("n_types"),
        transform(col("dts"),
          t => size(filter(col("toks"), x => x === t))).as("counts"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        size(filter(col("counts"), c => c === 1)).cast("long")
          .as("n_hapax"),
        array_max(col("counts")).cast("long").as("max_token_freq"))
      .withColumn("ttr",
        round(col("n_types").cast("double") / col("n_tokens"), 6))
      .withColumn("hapax_share",
        round(col("n_hapax").cast("double") /
          greatest(col("n_types"), lit(1L)), 6))
      .orderBy(col("doc_id"))
  }

  /** q132: language-ID confusion audit — cross-tabulate the corpus's
    * DECLARED language label against [[langGuess]]'s prediction
    * (mapped onto the classifier's 4-class vocabulary: zh→cjk, en→en,
    * any other Latin-script label→latin_other). The confusion matrix
    * plus per-label agreement rate is the classifier-vs-metadata
    * audit a pipeline runs before trusting EITHER side for filtering:
    * a label whose agreement collapses is mislabeled upstream data or
    * a classifier blind spot — both actionable.
    *
    * Scale shape: one narrow codegen'd scan (classify + map), one
    * bounded (lang × guess) rollup with map-side partials, and the
    * per-label share via a window over the BOUNDED confusion table
    * (≤ labels × classes rows), never over the corpus. */
  def langConfusion(docs: DataFrame): DataFrame = {
    val declaredClass = when(col("lang") === "zh", "cjk")
      .when(col("lang") === "en", "en")
      .otherwise("latin_other")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
    docs
      .select(col("lang"), declaredClass.as("declared_class"),
        langGuess(col("text")).as("lang_guess"))
      .groupBy(col("lang"), col("declared_class"), col("lang_guess"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("share_of_lang",
        round(col("n_docs").cast("double") / sum(col("n_docs")).over(w),
          6))
      .withColumn("agree", col("declared_class") === col("lang_guess"))
      .select(col("lang"), col("lang_guess"), col("n_docs"),
        col("share_of_lang"), col("agree"))
      .orderBy(col("lang"), col("lang_guess"))
  }

  /** The quality keep-gate — single definition shared by
    * [[qualityScore]] and [[corpusFilter]]. */
  private def keepQualityExpr(text: Column): Column = {
    val nTokens = size(tokens(text)).cast("long")
    val punct = regexp_count(text, lit("[.,!?;:]")).cast("long")
    nTokens.between(10, 2000) &&
      punct.cast("double") / greatest(nTokens, lit(1)) < 0.5
  }

  /** Rounded (top-frac, dup-frac) repetition signals — single
    * definition shared by [[repetitionStats]] and [[corpusFilter]].
    * NULL text counts as an empty document (see repetitionStats). */
  private def repetitionFracs(text: Column, k: Int): (Column, Column) = {
    val st = graft.functions.ngram_repetition(coalesce(text, lit("")), k)
    def frac(f: String): Column =
      round(st.getField(f).cast("double") /
        greatest(st.getField("n_ngrams"), lit(1)), 4)
    (frac("max_count"), frac("dup_count"))
  }

  /** Repetition keep-gate thresholds (Gopher-style). */
  private val TopFracMax = 0.10
  private val DupFracMax = 0.15

  /** Quality signals: token count, punctuation density, stopword ratio,
    * mean token length; boolean keep-gate like pretraining filters. */
  /** Long count of stopword occurrences in padded lowercase text —
    * the single definition shared by [[qualityScore]] and the
    * per-source quality pruning operator
    * ([[CorpusStats.sourceQuantilePrune]], q54). */
  def stopwordHits(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    Seq(" the ", " a ", " and ", " of ", " to ", " is ").map { w =>
      ((length(padded) - length(replace(padded, lit(w), lit("")))) /
        w.length).cast("long")
    }.reduce(_ + _)
  }

  def qualityScore(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTokens = size(toks).cast("long")
    val stopHits = stopwordHits(col("text"))
    val punct = regexp_count(col("text"), lit("[.,!?;:]")).cast("long")
    docs.select(
      col("doc_id"),
      nTokens.as("n_tokens"),
      punct.as("n_punct"),
      stopHits.as("n_stopwords"),
      round(length(col("text")).cast("double") /
        greatest(nTokens, lit(1)), 4).as("mean_token_len"),
      round(stopHits.cast("double") / greatest(nTokens, lit(1)), 4)
        .as("stopword_ratio"),
      keepQualityExpr(col("text")).as("keep"))
  }

  /** Model-based quality classification — the shape of the
    * fastText/logistic quality-classifier stage modern web pipelines
    * run after the heuristic gates (DCLM / FineWeb-style): a linear
    * model over the [[qualityScore]] feature vector, squashed through
    * a sigmoid, thresholded at 0.5. Weights here are fixed literals
    * (a trained model would broadcast its coefficient vector — same
    * plan shape); features enter ROUNDED (1e-4) so the score is
    * engine-portable, and the score itself rounds to 1e-6 before the
    * threshold so the keep decision can't straddle a ulp.
    *
    * Scale: pure narrow map, one codegen'd pass, zero shuffle —
    * classifier inference over 100 TB is embarrassingly parallel and
    * this plan keeps it that way.
    */
  /** The q58 logistic quality score as a standalone expression —
    * shared by [[qualityClassifier]] and the AUC evaluation
    * ([[rocAuc]], q68) so the evaluated model IS the deployed model. */
  def clfScoreExpr(text: Column): Column = {
    val nTokens = size(tokens(text)).cast("long")
    val stopRatio = round(
      stopwordHits(text).cast("double") / greatest(nTokens, lit(1)), 4)
    val meanTokLen = round(length(text).cast("double") /
      greatest(nTokens, lit(1)), 4)
    val punctRatio = round(
      regexp_count(text, lit("[.,!?;:]")).cast("double") /
        greatest(nTokens, lit(1)), 4)
    val z = lit(-2.0) + lit(6.0) * stopRatio + lit(0.3) * meanTokLen +
      lit(-4.0) * punctRatio + lit(0.2) * log(nTokens + lit(1))
    round(lit(1.0) / (lit(1.0) + exp(-z)), 6)
  }

  def qualityClassifier(docs: DataFrame): DataFrame = {
    val nTokens = size(tokens(col("text"))).cast("long")
    val stopRatio = round(
      stopwordHits(col("text")).cast("double") /
        greatest(nTokens, lit(1)), 4)
    val meanTokLen = round(length(col("text")).cast("double") /
      greatest(nTokens, lit(1)), 4)
    val punctRatio = round(
      regexp_count(col("text"), lit("[.,!?;:]")).cast("double") /
        greatest(nTokens, lit(1)), 4)
    val score = clfScoreExpr(col("text"))
    docs.select(
      col("doc_id"),
      stopRatio.as("stopword_ratio"),
      meanTokLen.as("mean_token_len"),
      punctRatio.as("punct_ratio"),
      score.as("clf_score"),
      (score >= 0.5).as("keep_clf"))
  }

  /** C4-style rule filter — the canonical line-and-document heuristic
    * set from the C4/T5 cleaning recipe, on the subset of rules this
    * data model can express: a LINE survives iff it ends in terminal
    * punctuation ([.!?"]), has ≥ 5 words, and does not mention
    * "javascript"; a DOCUMENT survives iff ≥ 3 lines survive and it
    * contains neither "lorem ipsum" nor a '{'. Emits the per-doc rule
    * signals, the composite gate, and the md5 of the cleaned text
    * (kept lines joined in order).
    *
    * Scale: all line logic runs INSIDE the per-document array
    * (`filter` higher-order function over the split — no explode of
    * the line stream, no shuffle); one codegen'd pass, output sort
    * only. The same shape as [[CorpusStats.winnowFingerprints]].
    */
  /** The C4 kept-lines expression over `text` — the single definition
    * [[c4Filter]] (q63) and [[filterAgreement]] (q167) both gate on,
    * so the agreement audit grades exactly the filter that ships. */
  private def c4KeptLines: Column = expr(
    """filter(split(text, '\n'), ln ->
      |  trim(ln) RLIKE '[.!?"]$' AND
      |  size(split(trim(ln), '\\s+')) >= 5 AND
      |  NOT contains(lower(ln), 'javascript'))""".stripMargin)

  /** q63/q167 shared C4 document gate: ≥ 3 kept lines, no
    * "lorem ipsum", no '{'. */
  private[ops] def keepC4Expr: Column =
    size(c4KeptLines) >= 3 &&
      !lower(col("text")).contains("lorem ipsum") &&
      !col("text").contains("{")

  def c4Filter(docs: DataFrame): DataFrame = {
    val hasLorem = lower(col("text")).contains("lorem ipsum")
    val hasBrace = col("text").contains("{")
    docs
      .select(col("doc_id"),
        size(split(col("text"), "\n")).cast("long").as("n_lines"),
        c4KeptLines.as("kept"),
        hasLorem.as("has_lorem"), hasBrace.as("has_brace"))
      .select(col("doc_id"), col("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        col("has_lorem"), col("has_brace"),
        (size(col("kept")) >= 3 && !col("has_lorem") &&
          !col("has_brace")).as("keep_c4"),
        md5(concat_ws("\n", col("kept")).cast("binary")).as("clean_md5"))
  }

  /** Gopher-style document rule set (Rae et al. 2021, table A1) — the
    * whole-document heuristics complementing [[c4Filter]]'s line rules
    * and the [[qualityScore]]/[[repetitionStats]] signals: word-count
    * band, TRUE mean word length band (sum of word lengths / words —
    * not q22's chars/token which counts separators), symbol-to-word
    * ratio (# and ellipses), bullet-start and ellipsis-end line
    * fractions, alpha-word fraction, and distinct-stopword presence.
    * Gate: 50 ≤ words ≤ 100000, 3 ≤ mean_word_len ≤ 10,
    * symbol_ratio < 0.1, bullet_frac < 0.1 (">90% of lines must not
    * start with a bullet"), ellipsis_frac < 0.3, alpha_frac > 0.8,
    * ≥ 2 distinct stopwords present. Ratios round to 1e-4 BEFORE the
    * gate so the keep decision cannot straddle an engine ulp.
    *
    * Symbol occurrences count via non-overlapping replace-delta (the
    * engine-portable idiom — identical leftmost-non-overlap semantics
    * in Spark and DuckDB); all line/word logic runs inside the per-doc
    * arrays (filter/transform HOFs, no explode): one narrow codegen'd
    * pass, zero shuffle, output sort only.
    */
  /** The Gopher component expressions over `text` — single
    * definitions shared by [[gopherFilter]] (q64) and the
    * [[keepGopherExpr]] gate [[filterAgreement]] (q167) audits, so
    * both always grade the same rule set. Ratios round 1e-4 BEFORE
    * the gate (engine-ulp discipline). */
  private object Gopher {
    def toks: Column = split(trim(col("text")), "\\s+")
    def nWords: Column = size(toks).cast("long")
    private def nLines: Column =
      greatest(size(split(col("text"), "\n")), lit(1)).cast("double")
    private def occurrences(needle: String): Column =
      (length(col("text")) -
        length(replace(col("text"), lit(needle), lit("")))) / needle.length
    def meanWordLen: Column = round(
      expr("aggregate(split(trim(text), '\\\\s+'), 0L, (a, w) -> a + length(w))")
        .cast("double") / greatest(nWords, lit(1)), 4)
    def symbolRatio: Column = round(
      (occurrences("#") + occurrences("...") + occurrences("…"))
        .cast("double") / greatest(nWords, lit(1)), 4)
    def bulletFrac: Column = round(size(expr(
      "filter(split(text, '\\n'), ln -> ltrim(ln) RLIKE '^[-*•]')"))
      .cast("double") / nLines, 4)
    def ellipsisFrac: Column = round(size(expr(
      "filter(split(text, '\\n'), ln -> rtrim(ln) RLIKE '(\\\\.\\\\.\\\\.|…)$')"))
      .cast("double") / nLines, 4)
    def alphaFrac: Column = round(size(expr(
      "filter(split(trim(text), '\\\\s+'), w -> w RLIKE '[A-Za-z]')"))
      .cast("double") / greatest(nWords, lit(1)), 4)
    def stopPresent: Column = Seq("the", "be", "to", "of", "and",
      "that", "have", "with").map { w =>
      array_contains(transform(toks, t => lower(t)), w).cast("int")
    }.reduce(_ + _).cast("long")
  }

  /** q64/q167 shared Gopher document gate over the rounded
    * components. */
  private[ops] def keepGopherExpr: Column =
    Gopher.nWords.between(50, 100000) &&
      Gopher.meanWordLen.between(3.0, 10.0) &&
      Gopher.symbolRatio < 0.1 &&
      Gopher.bulletFrac < 0.1 &&
      Gopher.ellipsisFrac < 0.3 &&
      Gopher.alphaFrac > 0.8 &&
      Gopher.stopPresent >= 2

  def gopherFilter(docs: DataFrame): DataFrame = {
    val nWords = Gopher.nWords
    val meanWordLen = Gopher.meanWordLen
    val symbolRatio = Gopher.symbolRatio
    val bulletFrac = Gopher.bulletFrac
    val ellipsisFrac = Gopher.ellipsisFrac
    val alphaFrac = Gopher.alphaFrac
    val stopPresent = Gopher.stopPresent
    docs.select(
      col("doc_id"),
      nWords.as("n_words"),
      meanWordLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"),
      bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_frac"),
      alphaFrac.as("alpha_frac"),
      stopPresent.as("n_stop_present"))
      .withColumn("keep_gopher",
        col("n_words").between(50, 100000) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_ratio") < 0.1 &&
          col("bullet_frac") < 0.1 &&
          col("ellipsis_frac") < 0.3 &&
          col("alpha_frac") > 0.8 &&
          col("n_stop_present") >= 2)
  }

  /** Markdown code-fence extraction — the code-mining stage of a
    * training-data pipeline: emit one row per ``` fenced block with
    * its language hint (text after the opening fence), line count, and
    * content md5. Fences pair first-open/next-close in document order;
    * a trailing unmatched fence is ignored; nested/inline fences are
    * out of contract (the wire format here is line-anchored ``` only).
    *
    * Scale: fence positions, pairing and content slicing all run
    * INSIDE the per-document line array (indexed transform + filter +
    * slice HOFs — no line explode); the only explode is the final
    * per-BLOCK one, whose output is the result itself. Zero shuffle
    * before the output sort.
    */
  def codeBlocks(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), split(col("text"), "\n").as("lines"))
      // 1-based positions of fence lines
      .withColumn("fpos", expr(
        """filter(transform(lines,
          |  (ln, i) -> IF(startswith(ltrim(ln), '```'), i + 1, -1)),
          |  x -> x >= 0)""".stripMargin))
      .withColumn("nb",
        expr("CAST(floor(size(fpos) / 2) AS INT)"))
      // sequence(1, 0) is DESCENDING in Spark, not empty — guard it
      .withColumn("blocks", expr(
        """transform(IF(nb >= 1, sequence(1, nb), array()),
          |  j -> named_struct(
          |    'block_idx', j - 1,
          |    'lang_hint', trim(substring(
          |      ltrim(element_at(lines, element_at(fpos, 2*j - 1))), 4)),
          |    'content', slice(lines,
          |      element_at(fpos, 2*j - 1) + 1,
          |      element_at(fpos, 2*j) - element_at(fpos, 2*j - 1) - 1)))"""
          .stripMargin))
      .select(col("doc_id"), explode(col("blocks")).as("b"))
      .select(
        col("doc_id"),
        col("b.block_idx").as("block_idx"),
        col("b.lang_hint").as("lang_hint"),
        size(col("b.content")).cast("long").as("n_lines"),
        md5(concat_ws("\n", col("b.content")).cast("binary"))
          .as("code_md5"))
  }

  /** Gopher-style within-document repetition signals over word
    * 2-grams: fraction of 2-gram occurrences taken by the single most
    * frequent 2-gram, fraction in any repeated 2-gram, and a keep-gate
    * like pretraining repetition filters. One codegen'd hash-count pass
    * per row (graft.functions.NgramRepetition) — zero shuffle.
    * NULL text counts as an empty document (0 n-grams, gate passes) —
    * the same convention the DuckDB oracle's LEFT JOIN + coalesce
    * produces, so nullable corpora stay bit-identical. */
  def repetitionStats(docs: DataFrame, k: Int = 2): DataFrame = {
    val st = graft.functions.ngram_repetition(
      coalesce(col("text"), lit("")), k)
    val (topF, dupF) = repetitionFracs(col("text"), k)
    docs
      .select(
        col("doc_id"),
        st.getField("n_ngrams").as("n_ngrams"),
        topF.as("top_ngram_frac"),
        dupF.as("dup_ngram_frac"))
      .withColumn("keep_rep",
        col("top_ngram_frac") < TopFracMax &&
          col("dup_ngram_frac") < DupFracMax)
  }

  /** Composite pretraining keep-filter: the language, quality, and
    * repetition gates composed into ONE narrow pass over the scan —
    * deliberately NOT a join of the three per-filter frames (three
    * shuffles at corpus scale) but a fused select whose predicates all
    * live in the same WholeStageCodegen span as the scan. Gate
    * semantics are exactly [[qualityScore]].keep, [[repetitionStats]]
    * .keep_rep and [[langGuess]] == "en"; the DuckDB oracle is
    * composed from those operators' own oracles, so the composite
    * cannot drift from its components. */
  def corpusFilter(docs: DataFrame): DataFrame = {
    val keepQuality = keepQualityExpr(col("text"))
    val (topF, dupF) = repetitionFracs(col("text"), 2)
    val keepRep = topF < TopFracMax && dupF < DupFracMax
    val keepLang = langGuess(col("text")) === "en"
    docs.select(
      col("doc_id"),
      keepQuality.as("keep_quality"),
      keepRep.as("keep_rep"),
      keepLang.as("keep_lang"),
      (keepQuality && keepRep && keepLang).as("keep"))
  }

  /** The [[corpusFilter]] composite keep-gate as a bare column — the
    * SAME fused predicate, for operators that need the gate inline in
    * their own single pass (e.g. [[CorpusStats.sourceReport]]) instead
    * of joining the per-doc filter frame back against the corpus. */
  def keepGate(text: Column): Column = {
    val (topF, dupF) = repetitionFracs(text, 2)
    keepQualityExpr(text) &&
      (topF < TopFracMax && dupF < DupFracMax) &&
      langGuess(text) === "en"
  }

  /** Email pattern shared by the scrub and its DuckDB oracle — kept to
    * the RE2-compatible subset (no backrefs/lookaround) so the same
    * pattern string runs in Java regex and DuckDB. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** US-ish short phone form (555-0199); \b is RE2-compatible. */
  val PhoneRe = "\\b[0-9]{3}-[0-9]{4}\\b"

  /** PII scrub: count + redact emails and phone-shaped tokens. The
    * scrubbed text is reduced to an md5 so results stay compact; the
    * full scrubbed column is what a production pipeline would write.
    * Narrow codegen'd map — no shuffle, no UDFs. */
  def piiScrub(docs: DataFrame): DataFrame = {
    val scrubbed = regexp_replace(
      regexp_replace(col("text"), EmailRe, "[EMAIL]"),
      PhoneRe, "[PHONE]")
    docs.select(
      col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phones"),
      md5(scrubbed.cast("binary")).as("scrubbed_hash"))
  }

  /** Canonical-form fingerprint: lowercase, collapse whitespace, trim,
    * md5 — the exact-dedup key robust to spacing/case edits. */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")).cast("binary"))

  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprint(col("text")).as("fp"))

  /** Exact tie-aware ROC-AUC of a score column against a boolean
    * label — classifier evaluation at corpus scale WITHOUT a global
    * sort: scores quantize into ≤ ~10^3 buckets, the corpus reduces
    * to a bucket histogram (ONE bounded partial agg — the only
    * shuffle), and the Mann-Whitney U statistic is exact integer
    * arithmetic over that bounded table on the driver (the dsir/q19
    * bounded-collect shape; a rank-based AUC would need a global sort
    * or a partition-less window, both forbidden here).
    *
    * Quantization is decimal-exact on purpose: the double score casts
    * to DECIMAL(9,6) (unambiguous — scores are 1e-6-rounded values),
    * then floor(d·1000) in exact decimal arithmetic. Never
    * `round(score, 3)` on the double: 6-decimal scores land ON
    * 3-decimal half-boundaries where engines tie-break differently
    * (the q65 lesson). AUC counts pos>neg pairs as 1 and ties as ½:
    * `Σ_b n_pos(b)·(2·cumNeg(<b) + n_neg(b)) / (2·P·N)`.
    */
  def rocAuc(scored: DataFrame, scoreCol: String, labelCol: String)
      : DataFrame = {
    val spark = scored.sparkSession
    val bucket = floor(col(scoreCol).cast("decimal(9,6)") * 1000)
      .cast("int")
    val hist = scored
      .groupBy(bucket.as("b"))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("np"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("nn"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val p = hist.map(_._2).sum
    val n = hist.map(_._3).sum
    var cumNeg = 0L
    var num2 = 0L // 2 × Σ pos-beats-neg (ties count once)
    hist.foreach { case (_, np, nn) =>
      num2 += np * (2L * cumNeg + nn)
      cumNeg += nn
    }
    val auc =
      if (p == 0L || n == 0L) Double.NaN
      else BigDecimal(num2.toDouble / (2.0 * p * n))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    spark.range(1).select(
      lit(p).as("n_pos"), lit(n).as("n_neg"), lit(auc).as("auc"))
  }

  /** q153: within-source percentile normalization of the q58 quality
    * score — maps every document's classifier score to its percentile
    * INSIDE its own source, so a "keep the top 40% of every source"
    * policy compares documents against their peers instead of letting
    * one verbose source dominate a global threshold (the
    * quantile-normalization step quality-pruning pipelines run before
    * cross-source mixing; q54 prunes at a fixed per-source quantile —
    * this emits the full normalized score for ANY downstream cut).
    *
    * Scale: the naive plan — percent_rank over a source-partitioned
    * window — funnels entire sources (billions of rows each; source
    * cardinality is SMALL) through single tasks, exactly the
    * partition-less-window trap the registry guard forbids. Instead
    * scores quantize to 1e-3 buckets (the q68 rocAuc grid), the
    * corpus reduces to ONE bounded (source × ≤1001) histogram agg,
    * the inclusive-CDF window re-keys only that bounded table, and
    * the CDF broadcast-joins back — the scoring pass stays narrow.
    * All ratios are divisions of exact longs. */
  def scorePercentiles(docs: DataFrame): DataFrame = {
    val score = clfScoreExpr(col("text"))
    // persisted: both the histogram agg and the final scoring join
    // read the scored table — without the cache the multi-regex
    // classifier expression runs over the corpus twice
    val scored = Dedup.persistOnce(docs.select(col("doc_id"),
      col("source"), score.as("clf_score")))
    val bucket = floor(col("clf_score").cast("decimal(9,6)") * 1000)
      .cast("int").as("b")
    val hist = scored.groupBy(col("source"), bucket)
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("source").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = hist
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n_s",
        sum(col("cnt")).over(Window.partitionBy("source")))
      .select(col("source"), col("b"),
        round(col("cum").cast("double") / col("n_s"), 6)
          .as("pct_in_source"))
    scored.withColumn("b",
        floor(col("clf_score").cast("decimal(9,6)") * 1000).cast("int"))
      .join(broadcast(cdf), Seq("source", "b"))
      .select(col("doc_id"), col("source"), col("clf_score"),
        col("pct_in_source"))
      .orderBy("doc_id")
  }

  /** q155: quality-selection token curve — "if we keep every document
    * scoring ≥ s, how much of the corpus (docs AND tokens) survives?"
    * evaluated at every 1e-2 score floor. The curve a data-mixture
    * owner reads before choosing a quality cut: q153 normalizes
    * per-document scores, this prices the CUT ITSELF in token mass
    * (the budget currency), descending so each row is one candidate
    * policy.
    *
    * Scale: one narrow scoring pass reduces the corpus to a ≤101-row
    * (bucket → docs, tokens) histogram (ONE map-side-combined agg);
    * the top-down cumulative sweep runs on the driver over that
    * bounded table (the q68 posture — a partition-less window even
    * over bounded data is banned registry-wide). Shares are IEEE
    * divisions of exact longs. */
  def selectionCurve(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val b = floor(clfScoreExpr(col("text")).cast("decimal(9,6)") * 100)
      .cast("int")
    val hist = docs
      .select(b.as("b"), size(tokens(col("text"))).cast("long")
        .as("nt"))
      .groupBy("b")
      .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(-_._1)
    val totD = hist.map(_._2).sum
    val totT = hist.map(_._3).sum
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    var cd = 0L; var ct = 0L
    val rows = hist.map { case (bk, nd, nt) =>
      cd += nd; ct += nt
      (bk.toDouble / 100.0, nd, nt, cd, ct,
        r6(cd.toDouble / totD), r6(ct.toDouble / totT))
    }
    import spark.implicits._
    rows.toSeq.toDF("score_floor", "n_docs", "n_tokens", "cum_docs",
        "cum_tokens", "doc_share", "token_share")
      .orderBy(col("score_floor").desc)
  }

  /** q165: mutual information between quality score and document
    * length — "is the quality classifier just re-measuring length?"
    * MI over the discretized (score 1e-1 grid × length-div-16 bucket)
    * joint distribution, with both marginal entropies and the
    * normalized MI/min(H) coefficient. High normalized MI means q58's
    * score adds little beyond a length cut (and the cheap gate
    * should win); near 0 means the two filters are complementary.
    *
    * Scale: the corpus reduces to ONE bounded 2-D histogram agg
    * (≤11 score cells × bounded length buckets, map-side combined);
    * MI/entropy sums run on the driver over that table (q68 posture).
    * All probabilities are IEEE divisions of exact longs. */
  def qualityLengthMi(docs: DataFrame, toksPerBucket: Long = 16)
      : DataFrame = {
    val spark = docs.sparkSession
    val sb = floor(clfScoreExpr(col("text")).cast("decimal(9,6)") * 10)
      .cast("int")
    val lb = expr(
      s"CAST(size(split(trim(text), '\\\\s+')) DIV ${toksPerBucket}L" +
        " AS INT)")
    val cells = docs.select(sb.as("sb"), lb.as("lb"))
      .groupBy("sb", "lb").agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2)))
    val total = cells.map(_._2).sum.toDouble
    val px = cells.groupBy(_._1._1).view.mapValues(_.map(_._2).sum).toMap
    val py = cells.groupBy(_._1._2).view.mapValues(_.map(_._2).sum).toMap
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // deterministic iteration order: sorted by (sb, lb) / key
    val mi = cells.sortBy(_._1).foldLeft(0.0) { case (acc, ((x, y), n)) =>
      val pxy = n / total
      acc + pxy * math.log(pxy / ((px(x) / total) * (py(y) / total)))
    }
    def entropy(m: Map[Int, Long]): Double =
      m.toSeq.sortBy(_._1).foldLeft(0.0) { case (acc, (_, n)) =>
        val p = n / total; acc - p * math.log(p)
      }
    val hx = entropy(px); val hy = entropy(py)
    val minH = math.min(hx, hy)
    import spark.implicits._
    Seq((total.toLong, cells.length.toLong, r6(mi), r6(hx), r6(hy),
        if (minH == 0.0) 0.0 else r6(mi / minH)))
      .toDF("n_docs", "n_cells", "mi_nats", "h_score", "h_length",
        "normalized_mi")
  }

  /** q167: filter-agreement audit — the 2³ Venn table of the three
    * shipped quality gates (C4 line rules, Gopher document rules, the
    * q58 logistic classifier at 0.5), with each cell's corpus share
    * and the number of gates passed. Answers the ablation question a
    * data team asks before stacking filters: do they remove the SAME
    * documents (stack for free) or DIFFERENT ones (each costs fresh
    * token mass — price via q155 before enabling)? Uses the single
    * shared gate definitions ([[keepC4Expr]], [[keepGopherExpr]],
    * [[clfScoreExpr]]) so the audit grades exactly the filters that
    * ship.
    *
    * Scale: all three gates are narrow codegen'd expressions over the
    * same text scan — ONE pass, ONE bounded ≤8-cell rollup (map-side
    * combined), shares on the driver (q68 posture). Zero joins: the
    * naive compose-the-three-filter-outputs form would shuffle three
    * corpus-wide (id, bool) tables. */
  def filterAgreement(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val cells = docs.select(
        keepC4Expr.as("keep_c4"),
        keepGopherExpr.as("keep_gopher"),
        (clfScoreExpr(col("text")) >= 0.5).as("keep_clf"))
      .groupBy("keep_c4", "keep_gopher", "keep_clf")
      .agg(count(lit(1)).as("n_docs"))
      .collect()
      .map(r => (r.getBoolean(0), r.getBoolean(1), r.getBoolean(2),
        r.getLong(3)))
      .sortBy(t => (t._1, t._2, t._3))
    val total = cells.map(_._4).sum.toDouble
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    cells.toSeq.map { case (c4, gp, clf, n) =>
      (c4, gp, clf, n, r6(n / total),
        (if (c4) 1 else 0) + (if (gp) 1 else 0) + (if (clf) 1 else 0))
    }.toDF("keep_c4", "keep_gopher", "keep_clf", "n_docs", "share",
        "n_filters_pass")
      .orderBy("keep_c4", "keep_gopher", "keep_clf")
  }

  /** q162: k-anonymity cell audit over document quasi-identifiers —
    * every (source, lang, length-bucket) combination with its
    * population, flagging cells under k. A document whose visible
    * attribute combination is shared by fewer than k corpus members
    * is re-identifiable from metadata alone even after q26 scrubs the
    * text — the governance report data-release reviews ask for
    * (Sweeney's k-anonymity, applied at corpus grain).
    *
    * Scale: ONE bounded cell rollup (sources × langs × ≤buckets,
    * map-side combined) — the corpus never re-shuffles; the length
    * bucket is exact integer div so no float boundary can move a
    * document between cells. */
  def kAnonymityCells(docs: DataFrame, k: Long = 5,
      charsPerBucket: Long = 50): DataFrame =
    docs.select(col("source"), col("lang"),
        expr(s"n_chars DIV ${charsPerBucket}L").as("chars_bucket"))
      .groupBy("source", "lang", "chars_bucket")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("at_risk", col("n_docs") < k)
      .orderBy("source", "lang", "chars_bucket")

  /** Encoding-artifact (mojibake) detection — the web-scrape hygiene
    * filter: UTF-8 bytes decoded as Latin-1 leave 'Ã'/'Â' lead-byte
    * characters (e.g. "café" → "cafÃ©", NBSP → "Â "), and lossy
    * transcodes leave U+FFFD replacement characters. Counts each
    * artifact class per document via the length-difference of a
    * single-char translate — a narrow zero-shuffle codegen'd pass, no
    * regex dialect to keep in cross-engine sync (`length` is
    * CHARACTER count on both engines, so multi-byte text is safe).
    * Output: (doc_id, n_c3 ['Ã'], n_c2 ['Â'], n_fffd [U+FFFD],
    * is_suspect). */
  def encodingArtifacts(docs: DataFrame): DataFrame = {
    def occ(ch: String): Column =
      (length(col("text")) -
        length(translate(col("text"), ch, ""))).cast("long")
    docs.select(
      col("doc_id"),
      occ("\u00c3").as("n_c3"),
      occ("\u00c2").as("n_c2"),
      occ("\ufffd").as("n_fffd"),
      (occ("\u00c3") + occ("\u00c2") + occ("\ufffd") > 0L)
        .as("is_suspect"))
  }

  /** The default bad-term list for [[blocklistFilter]] \u2014 a stand-in
    * for the (much larger) NSFW/spam wordlists production filters
    * broadcast; terms chosen to occur in the synthetic corpus so
    * counts are non-trivial. */
  val DefaultBlocklist: Seq[String] = Seq("slow", "dup", "crash", "leak")

  /** Blocklist (bad-word) filter \u2014 the wordlist gate every production
    * corpus pipeline runs (NSFW lists, spam markers, boilerplate
    * phrases): per-doc count and fraction of tokens on the list plus a
    * keep verdict at `maxBadFrac`. The list is inlined as an array
    * literal (the broadcast-small-side degenerate case: at production
    * list sizes the same shape ships via broadcast variable \u2014 either
    * way the corpus never shuffles); the membership test is an
    * array_contains inside a filter HOF over the token array \u2014 one
    * narrow codegen'd pass. */
  def blocklistFilter(docs: DataFrame,
      maxBadFrac: Double = 0.05): DataFrame = {
    val toks = tokens(col("text"))
    val bad = size(filter(toks,
      t => array_contains(typedLit(DefaultBlocklist), t))).cast("long")
    docs.select(
        col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        bad.as("n_bad"))
      .withColumn("bad_frac",
        round(col("n_bad").cast("double") /
          col("n_tokens").cast("double"), 6))
      .withColumn("keep", col("bad_frac") <= lit(maxBadFrac))
  }

  /** Format/markup profile per document \u2014 the corpus-router signal
    * BEFORE language or quality: is this byte stream prose, source
    * code, or markup? Misrouted non-prose is where the prose quality
    * gates (q22/q58/q63/q64) silently misfire, and a pretraining mix
    * wants code and markup weighted as their own sources. Signals are
    * plain character counts (braces/semicolons/equals for code,
    * angle brackets for markup) \u2014 deliberately regex-free so both
    * engines count identically; densities round 1e-6 BEFORE the
    * class thresholds so the verdict can't straddle a ulp.
    *
    * Scale: ZERO shuffle \u2014 one narrow codegen'd projection over the
    * scan; only the output sort exchanges. */
  def markupProfile(docs: DataFrame): DataFrame = {
    def cnt(ch: String): Column =
      (length(col("text")) -
        length(replace(col("text"), lit(ch), lit("")))).cast("long")
    val nChars = greatest(length(col("text")), lit(1)).cast("double")
    val code = cnt("{") + cnt("}") + cnt(";") + cnt("=")
    val markup = cnt("<") + cnt(">")
    docs.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        code.as("n_code_chars"), markup.as("n_markup_chars"),
        round(code.cast("double") / nChars, 6).as("code_density"),
        round(markup.cast("double") / nChars, 6).as("markup_density"))
      .withColumn("doc_class",
        when(col("markup_density") >= 0.005 &&
          col("markup_density") >= col("code_density"), "markup")
          .when(col("code_density") >= 0.01, "code")
          .otherwise("prose"))
      .orderBy("doc_id")
  }

  /** Heuristic-gate vs model-classifier calibration audit: every
    * (source, q22 keep verdict, q58 keep verdict) cell with its doc
    * count, mean classifier probability, and share of the source \u2014
    * the QA report that says WHERE the cheap gate and the model
    * disagree (large heuristic_keep=true / clf_keep=false cells mean
    * the gate passes text the model would cut, and vice versa).
    * Complements q68 (which grades the classifier against labels);
    * this grades the two FILTERS against each other.
    *
    * Scale: both verdicts are the shared single-definition
    * expressions ([[keepQualityExpr]], [[clfScoreExpr]]) evaluated in
    * one narrow pass; ONE bounded rollup (source \u00d7 2 \u00d7 2) with
    * map-side combine; the share window re-keys only the bounded
    * cell table (the q132 pattern). */
  def qualityCalibration(docs: DataFrame): DataFrame = {
    val cells = docs.select(col("source"),
        keepQualityExpr(col("text")).as("heuristic_keep"),
        clfScoreExpr(col("text")).as("p"))
      .withColumn("clf_keep", col("p") >= 0.5)
      .groupBy("source", "heuristic_keep", "clf_keep")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("p"), 6).as("mean_clf_prob"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
    cells
      .withColumn("share_of_source",
        round(col("n_docs").cast("double") /
          sum(col("n_docs")).over(w), 6))
      .select(col("source"), col("heuristic_keep"), col("clf_keep"),
        col("n_docs"), col("mean_clf_prob"), col("share_of_source"))
      .orderBy("source", "heuristic_keep", "clf_keep")
  }

  /** Unicode-script composition per document \u2014 the code-switching /
    * wrong-corpus-routing detector: counts codepoints in the Latin,
    * Cyrillic, CJK and digit ranges (BMP ranges; the corpus contract \u2014
    * astral plane would need codepoint pairs) and flags documents
    * mixing \u2265 2 writing systems. Language-ID (q21) answers "which
    * language"; this answers "is the byte stream even ONE script" \u2014
    * mixed-script docs are where mojibake, spam keyword-stuffing and
    * wrong-encoding routing concentrate.
    *
    * Plan: split-to-chars \u2192 codepoint transform \u2192 three range-count
    * filters, all inside one narrow codegen'd projection (verified
    * cross-engine: Spark `split(text,'')`+`ascii` \u2261 DuckDB
    * `string_split(text,'')`+`unicode` on BMP input \u2014 no regex
    * dialect in play). Zero shuffle. */
  def scriptMix(docs: DataFrame): DataFrame = {
    val cps = transform(split(col("text"), ""), c => ascii(c))
    def inRange(lo: Int, hi: Int): Column =
      size(filter(cps, p => p >= lo && p <= hi)).cast("long")
    val nLatin = (inRange(0x41, 0x5a) + inRange(0x61, 0x7a))
      .as("n_latin")
    val nCyr = inRange(0x400, 0x4ff).as("n_cyrillic")
    val nCjk = inRange(0x4e00, 0x9fff).as("n_cjk")
    val nDigit = inRange(0x30, 0x39).as("n_digit")
    docs.select(col("doc_id"), nLatin, nCyr, nCjk, nDigit)
      .withColumn("n_scripts",
        (col("n_latin") > 0L).cast("int") +
          (col("n_cyrillic") > 0L).cast("int") +
          (col("n_cjk") > 0L).cast("int"))
      .withColumn("main_script",
        when(col("n_latin") >= col("n_cyrillic") &&
          col("n_latin") >= col("n_cjk"), "latin")
          .when(col("n_cyrillic") >= col("n_cjk"), "cyrillic")
          .otherwise("cjk"))
      .withColumn("is_mixed", col("n_scripts") >= 2)
  }

  /** q171: readability report — Flesch reading ease and Flesch–Kincaid
    * grade per document from deterministic structural proxies: words =
    * whitespace tokens, sentences = terminator groups `[.!?]+`
    * (min 1), syllables = vowel groups `[aeiouy]+` per word (min 1
    * per word — "rhythm" still has a nucleus). Readability is a
    * classic curation axis the heuristic gates don't cover: C4/Gopher
    * measure junk, FRE measures difficulty — curriculum ordering and
    * kid-safe/ELI5 slices both select on it. The proxy syllable
    * counter is the standard public approximation (true
    * hyphenation dictionaries are language-specific); what matters
    * at corpus scale is that it is deterministic and engine-portable.
    *
    * Scale: pure narrow map — every count is a row-local regexp/array
    * fold in the scan's codegen span, zero shuffle beyond the output
    * sort. The per-word fold is `aggregate(transform(tokens, …))`, a
    * vectorized array HOF, not a UDF. Band thresholds compare the
    * ROUNDED score (1e-6 discipline) so grade assignment can't
    * straddle a ulp between engines. */
  def readability(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nW = greatest(size(toks).cast("long"), lit(1L))
    val nS = greatest(
      (size(split(col("text"), "[.!?]+")) - 1).cast("long"), lit(1L))
    val syl = aggregate(
      transform(toks,
        w => greatest(size(split(lower(w), "[aeiouy]+")) - 1, lit(1))
          .cast("long")),
      lit(0L), (acc, x) => acc + x)
    docs
      .select(col("doc_id"), nW.as("n_words"), nS.as("n_sentences"),
        syl.as("n_syllables"))
      .withColumn("fre",
        round(lit(206.835)
          - lit(1.015) * col("n_words").cast("double")
            / col("n_sentences")
          - lit(84.6) * col("n_syllables").cast("double")
            / col("n_words"), 6))
      .withColumn("fk_grade",
        round(lit(0.39) * col("n_words").cast("double")
            / col("n_sentences")
          + lit(11.8) * col("n_syllables").cast("double")
            / col("n_words")
          - lit(15.59), 6))
      .withColumn("band",
        when(col("fre") >= 60.0, "easy")
          .when(col("fre") >= 30.0, "medium")
          .otherwise("hard"))
  }

  /** q182: numeric-token profile per source — share of pure-integer
    * tokens and their mean digit width. Numeracy mix is a curation
    * axis quality gates ignore: tables, logs and price lists are
    * number-dense (high share, wide tokens), prose is number-sparse,
    * and a source whose profile shifts is changing register. The
    * mixture planner reads this next to q50's corpus card when the
    * target is math/code-heavy training data.
    *
    * Scale: the numeric filter and digit widths are one row-local
    * array pass (`filter` + `aggregate` HOFs over the token array —
    * no explode); ONE bounded source rollup; mean width is a single
    * exact-integer division. */
  def numericProfile(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nums = filter(toks, t => t.rlike("^[0-9]+$"))
    docs
      .select(col("source"),
        size(toks).cast("long").as("nt"),
        size(nums).cast("long").as("nn"),
        aggregate(nums, lit(0L),
          (acc, t) => acc + length(t).cast("long")).as("nd"))
      .groupBy(col("source"))
      .agg(
        sum(col("nt")).as("n_tokens"),
        sum(col("nn")).as("n_numeric"),
        sum(col("nd")).as("n_digits"))
      .select(col("source"), col("n_tokens"), col("n_numeric"),
        round(col("n_numeric").cast("double") /
          greatest(col("n_tokens"), lit(1L)), 6).as("numeric_share"),
        round(col("n_digits").cast("double") /
          greatest(col("n_numeric"), lit(1L)), 6).as("mean_digits"))
      .orderBy("source")
  }

  /** q183: URL-domain scan — extract every http(s) host from the
    * corpus and report the top domains by occurrence with their doc
    * spread. The crawl-governance report behind robots/takedown
    * compliance and domain-mix caps (a pretraining corpus where one
    * CDN hosts 40% of the links is one outage away from a provenance
    * problem); link density also separates link-farm pages from
    * prose.
    *
    * Scale: extraction is one codegen'd regexp pass; only (domain,
    * doc_id) pairs leave the scan — never text. ONE domain-keyed agg
    * (count + COUNT(DISTINCT doc) in a single Expand), top-N via
    * TakeOrderedAndProject semantics on the bounded output sort. */
  def domainScan(docs: DataFrame, topN: Int = 20): DataFrame =
    docs
      .select(col("doc_id"),
        explode(expr(
          "regexp_extract_all(text, 'https?://([a-z0-9.-]+)', 1)"))
          .as("domain"))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("domain"))
      .limit(topN)

  /** The function-word vocabulary for q180's stylometry profile — a
    * fixed 16-word list (content-free English function words), wider
    * than [[stopwordHits]]'s 6-word density gate because a similarity
    * PROFILE needs enough dimensions to separate registers. Single
    * definition shared with the oracle. */
  val FunctionWords: Seq[String] = Seq(
    "the", "a", "and", "of", "to", "is", "in", "that", "it", "for",
    "was", "on", "with", "as", "be", "at")

  /** q180: source stylometry similarity matrix — pairwise cosine
    * between per-source FUNCTION-WORD frequency vectors. Function-word
    * profiles are the classic authorship/register fingerprint
    * (content-independent, hard to fake): two "different" sources
    * with near-1.0 profiles are likely the same generator or mirror
    * (the stylometric complement of q166's content MinHash matrix),
    * and a source whose profile sits far from every other is a
    * register outlier worth a manual look before mixing.
    *
    * Scale: each doc contributes 16 integer occurrence counts
    * computed row-locally (the [[stopwordHits]] replace-length trick,
    * codegen'd — no tokenize, no explode); ONE bounded source-keyed
    * agg reduces them, and the ≤|sources|² cosine matrix is driver
    * arithmetic over exact integer vectors (engine-exact: integer
    * dot/norms, one IEEE division). */
  def stopwordProfileSim(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    val counts = FunctionWords.map { w =>
      val pw = s" $w "
      sum(((length(padded) -
        length(replace(padded, lit(pw), lit("")))) /
        pw.length).cast("long")).as(s"c_$w")
    }
    val prof = docs.groupBy(col("source")).agg(counts.head,
        counts.tail: _*)
      .collect()
      .map(r => r.getString(0) ->
        FunctionWords.indices.map(i => r.getLong(i + 1)))
      .sortBy(_._1)
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    (for {
      i <- prof.indices; j <- (i + 1) until prof.length
    } yield {
      val (sa, va) = prof(i)
      val (sb, vb) = prof(j)
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val na = math.sqrt(va.map(x => x * x).sum.toDouble)
      val nb = math.sqrt(vb.map(x => x * x).sum.toDouble)
      (sa, sb,
        if (na == 0.0 || nb == 0.0) 0.0
        else r6(dot.toDouble / (na * nb)))
    }).toDF("source_a", "source_b", "profile_cos")
      .orderBy("source_a", "source_b")
  }

  /** q174: license / copyright marker scan per source — incidence of
    * rights-reserved, (c)-mark and Creative-Commons markers, the
    * governance screen run before a crawl source is cleared for
    * training ("what fraction of this source self-declares
    * restrictive terms?"). Marker definitions are deliberately plain
    * substring gates (not legal analysis): deterministic,
    * engine-portable, and auditable — the same posture as q26's PII
    * patterns.
    *
    * Scale: one lower() pass + three substring probes per row inside
    * the scan's codegen span, then ONE bounded source-keyed rollup;
    * text never shuffles. */
  def licenseScan(docs: DataFrame): DataFrame = {
    val p = lower(col("text"))
    def has(m: String): Column = instr(p, m) > 0
    val anyMark = has("all rights reserved") || has("(c) ") ||
      has("copyright") || has("creative commons")
    docs
      .select(col("source"),
        has("all rights reserved").cast("long").as("ar"),
        (has("(c) ") || has("copyright")).cast("long").as("cm"),
        has("creative commons").cast("long").as("cc"),
        anyMark.cast("long").as("any"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ar")).as("n_all_rights"),
        sum(col("cm")).as("n_copyright"),
        sum(col("cc")).as("n_creative_commons"),
        sum(col("any")).as("n_any_marker"))
      .withColumn("marker_share",
        round(col("n_any_marker").cast("double") / col("n_docs"), 6))
      .orderBy("source")
  }
}
