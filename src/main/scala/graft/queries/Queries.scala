package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.agg.Aggregates
import graft.enrich.Enrich
import graft.gen.TranscriptGen

/** Driver-verifiable queries (each paired with a DuckDB oracle in
  * [[Oracles]]). Every query reads only the driver-provided parquet
  * tables under `sfDir` and is deterministic: exact-typed aggregates
  * (decimal-cast sums → double), explicit ORDER BY, no wall clock.
  *
  * Cross-engine parity rules used throughout:
  *  - epoch millis (unix_millis / epoch_ms) instead of raw timestamps
  *  - SUM over DECIMAL(18,2) casts → exact, then cast to double
  *  - md5 for text checksums (identical bytes on both engines)
  *  - count(*) → long on both
  */
object PipelineQueries {

  /** Derived transcript table with stable turn ordering — the north-rule
    * parse→normalize slice over the events table. The global sort is
    * part of q01's DECLARED output; every other consumer re-windows or
    * re-aggregates, so they read [[transcriptsUnordered]] — the sort
    * survived into ~60 downstream physical plans (one range-partition
    * sampling job + full sort each) while contributing nothing to
    * their results (guide §2.4: an orderBy used only for presentation
    * is an accidental Exchange). */
  def transcripts(s: SparkSession, dir: String): DataFrame =
    transcriptsUnordered(s, dir).orderBy(col("conv_id"), col("turn_idx"))

  /** [[transcripts]] without the final presentation sort — same rows,
    * same turn_idx assignment; the input of every internal consumer. */
  def transcriptsUnordered(s: SparkSession, dir: String): DataFrame = {
    val t = TranscriptGen.fromEvents(s, dir)
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    t.withColumn("turn_idx", row_number().over(w) - 1)
      .select(
        col("conv_id"), col("turn_idx"), col("role"), col("text"),
        col("tool"), unix_millis(col("ts")).as("ts_ms"))
  }

  /** Grok text-log round trip (north-star: regex parse of role
    * markers / tool-call blocks / turn boundaries from raw text):
    * render per-conversation text documents, parse them back with the
    * pure-Catalyst grok parser. The oracle computes the EXPECTED rows
    * directly from events, so this passes only if the parser exactly
    * inverts the renderer — role, optional tool block, epoch-ms ts and
    * body text all round-trip byte-equal. */
  def grokParse(s: SparkSession, dir: String): DataFrame =
    graft.parse.GrokParser.parse(
        graft.parse.GrokParser.render(TranscriptGen.fromEvents(s, dir)))
      .orderBy(col("conv_id"), col("turn_idx"))

  /** Router parity: per-(role, tool) routed-row counts. */
  def routeCounts(s: SparkSession, dir: String): DataFrame =
    Aggregates.routedCounts(TranscriptGen.fromEvents(s, dir))
      .orderBy(col("role"), col("tool"))

  /** Manifest aggregate: per-conversation count + ts range. */
  def threadStats(s: SparkSession, dir: String): DataFrame =
    TranscriptGen.fromEvents(s, dir)
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        unix_millis(min(col("ts"))).as("ts_min"),
        unix_millis(max(col("ts"))).as("ts_max"))
      .orderBy(col("conv_id"))

  /** Broadcast-hash-join enrich stage + aggregate by tool category. */
  def enrichToolCategory(s: SparkSession, dir: String): DataFrame =
    Enrich.attachToolMeta(TranscriptGen.fromEvents(s, dir))
      .groupBy(coalesce(col("category"), lit("n/a")).as("category"))
      .agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("conv_id")).as("n_convs"))
      .orderBy(col("category"))

  /** Tumbling 1-hour window aggregation over the raw event stream. */
  def eventWindows(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(
        unix_millis(date_trunc("hour", col("ts"))).as("window_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** ROLLUP over the routed dimensions: per-(role, tool) counts plus
    * per-role subtotals and the grand total in ONE expanded aggregate
    * (Spark plans rollup as a single Expand + hash aggregate — no
    * per-level re-scan of the input).
    *
    * Known cross-engine edge (unreachable on driver data, every sf has
    * rows): on EMPTY input Spark's rollup returns 0 rows while
    * DuckDB's GROUP BY ROLLUP returns the SQL-standard grand-total row
    * ('ALL','ALL',0) — the oracle contract here assumes a non-empty
    * transcript table. */
  def routedRollup(s: SparkSession, dir: String): DataFrame =
    TranscriptGen.fromEvents(s, dir)
      .withColumn("tool", coalesce(col("tool"), lit("none")))
      .rollup(col("role"), col("tool"))
      .agg(count(lit(1)).as("n_rows"))
      .select(
        coalesce(col("role"), lit("ALL")).as("role"),
        coalesce(col("tool"), lit("ALL")).as("tool"),
        col("n_rows"))
      .orderBy(col("role"), col("tool"))

  /** Pivot: per-tool-sink turn counts pivoted by role. The IN-list is
    * fixed so the output schema is static (an open pivot needs a
    * distinct-values pre-pass); missing cells coalesce to 0. The group
    * key is aliased tool_sink because "tool" is also a role value. */
  def rolePivot(s: SparkSession, dir: String): DataFrame = {
    val roles = Seq("assistant", "system", "tool", "user")
    val p = TranscriptGen.fromEvents(s, dir)
      .select(coalesce(col("tool"), lit("none")).as("tool_sink"),
        col("role"))
      .groupBy(col("tool_sink"))
      .pivot("role", roles)
      .agg(count(lit(1)))
    roles.foldLeft(p)((df, r) =>
      df.withColumn(r, coalesce(col(r), lit(0L))))
      .orderBy(col("tool_sink"))
  }

  /** AS-OF join: attach to every event the latest "rate" in force at
    * its timestamp — the rate-change dimension is derived
    * deterministically from the stream itself (every 50th event sets
    * its type's rate). Uses the broadcast as-of variant
    * (graft.ops.Temporal): the 10^12-row fact side never shuffles;
    * the oracle is DuckDB's native ASOF LEFT JOIN. */
  def asofRates(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .withColumn("ts_ms", unix_millis(col("ts").cast("timestamp")))
    val changes = ev
      .filter(pmod(col("event_id"), lit(50)) === 0)
      .groupBy(col("event_type"), col("ts_ms"))
      .agg(max(col("value")).as("rate"))
    graft.ops.Temporal.asofJoinBroadcast(
        ev.select("event_id", "ts_ms", "event_type", "value"),
        changes, key = "event_type", tsCol = "ts_ms", valCol = "rate")
      .select("event_id", "ts_ms", "event_type", "value", "rate")
      .orderBy("event_id")
  }

  /** Gap-based per-user sessionization over the event stream (30-min
    * idle gap); ONE shuffle on user_id (graft.ops.Temporal
    * .gapSessions). session_seq ordering note: equal-ts ties within a
    * user are order-ambiguous under lag(), but tie rows always land in
    * the SAME session (gap 0 ≤ gapMs), so session boundaries and all
    * aggregates are deterministic cross-engine. */
  /** q81: user→assistant response-latency percentiles — the turn-gap
    * SLA analytics every serving/log pipeline reports. Adjacent-turn
    * gaps via lag() windows PARTITIONED BY conv_id (billions of small
    * partitions at scale, never a global sort); percentiles are the
    * q13 exact R-7 form (ships as approx_percentile at 100 TB, the
    * q14-proven sketch); the final agg is one bounded partial+final
    * reduce. avg over integer-ms gaps is an exact double sum
    * (< 2^53), so no rounding hazard in any summation order. */
  def turnLatency(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val gaps = transcriptsUnordered(s, dir)
      .select(col("conv_id"), col("turn_idx"), col("role"),
        col("ts_ms"))
      .withColumn("prev_role", lag(col("role"), 1).over(w))
      .withColumn("prev_ts", lag(col("ts_ms"), 1).over(w))
      .filter(col("role") === "assistant" && col("prev_role") === "user")
      .select((col("ts_ms") - col("prev_ts")).as("gap_ms"))
    gaps.agg(
        count(lit(1)).as("n_gaps"),
        expr("percentile(CAST(gap_ms AS DOUBLE), " +
          "array(0.5D, 0.9D, 0.99D))").as("p"),
        round(avg(col("gap_ms")), 4).as("mean_ms"))
      .select(
        col("n_gaps"),
        round(element_at(col("p"), 1), 4).as("p50_ms"),
        round(element_at(col("p"), 2), 4).as("p90_ms"),
        round(element_at(col("p"), 3), 4).as("p99_ms"),
        col("mean_ms"))
  }

  /** q86: ordered view→click→purchase conversion funnel over the raw
    * event stream (graft.ops.Temporal.funnel — the min-timestamp
    * cascade, strict-after semantics, one persisted typed slice). */
  def funnelQ(s: SparkSession, dir: String): DataFrame =
    graft.ops.Temporal.funnel(
      s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"),
          unix_millis(col("ts").cast("timestamp")).as("ts_ms"),
          col("event_type")),
      key = "user_id", tsCol = "ts_ms", typeCol = "event_type",
      steps = Seq("view", "click", "purchase"))

  /** q92: conversation-structure validation — the transcript hygiene
    * report an instruction-tuning pipeline gates on: per conversation,
    * turn count, first/last role, the number of adjacent same-role
    * turn pairs (role-alternation violations — regeneration or
    * tool-loop artifacts), and the composite ok flag (starts with
    * user, strictly alternating). ONE exchange on conv_id: the lag
    * window, the per-partition count, and the final groupBy all share
    * the conv_id hash partitioning (billions of small conversations at
    * scale — never a global sort). */
  def convStructure(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val wAll = Window.partitionBy(col("conv_id"))
    val t = transcriptsUnordered(s, dir).select("conv_id", "turn_idx", "role")
      .withColumn("prev_role", lag(col("role"), 1).over(w))
      .withColumn("n", count(lit(1)).over(wAll))
    t.groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        max(when(col("turn_idx") === 0, col("role"))).as("first_role"),
        max(when(col("turn_idx") === col("n") - 1, col("role")))
          .as("last_role"),
        sum(when(col("role") === col("prev_role"), 1L).otherwise(0L))
          .as("n_same_role_adjacent"))
      .withColumn("alternation_ok",
        col("first_role") === "user" && col("n_same_role_adjacent") === 0L)
      .orderBy(col("conv_id"))
  }

  def sessions(s: SparkSession, dir: String): DataFrame =
    graft.ops.Temporal.gapSessions(
        s.read.parquet(s"$dir/events.parquet")
          .select(col("user_id"),
            unix_millis(col("ts").cast("timestamp")).as("ts_ms")),
        key = "user_id", tsCol = "ts_ms", gapMs = 30 * 60 * 1000L)
      .orderBy(col("user_id"), col("session_seq"))

  /** Sorted-merge AS-OF join on a HIGH-cardinality key (per-user rate
    * history): the q07 twin through graft.ops.Temporal.asofJoinMerge —
    * one shuffle on user_id, no broadcast — for when the change side
    * is itself corpus-sized (per-user state history at 10^8 users
    * cannot be a broadcast dimension). Same `<=`/null contract as q07;
    * the oracle is again DuckDB's native ASOF LEFT JOIN. */
  def asofRatesMerge(s: SparkSession, dir: String): DataFrame = {
    val ev = s.read.parquet(s"$dir/events.parquet")
      .withColumn("ts_ms", unix_millis(col("ts").cast("timestamp")))
    val changes = ev
      .filter(pmod(col("event_id"), lit(20)) === 0)
      .groupBy(col("user_id"), col("ts_ms"))
      .agg(max(col("value")).as("rate"))
    graft.ops.Temporal.asofJoinMerge(
        ev.select("event_id", "ts_ms", "user_id", "value"),
        changes, key = "user_id", tsCol = "ts_ms", valCol = "rate")
      .select("event_id", "ts_ms", "user_id", "value", "rate")
      .orderBy("event_id")
  }

  /** q100: hot-key skew report over the transcript stream — the
    * router's adaptive-salting first pass as a query
    * ([[graft.ops.CorpusStats.hotKeyReport]]). The synthetic corpus is
    * deliberately uniform, so a deterministic mega-conversation stripe
    * is injected (every event_id % 5 == 0 turn re-keyed to one
    * "conv-hot0" — ~20% of all turns in one key, the exact shape that
    * serializes a routed write without salting) and the report must
    * flag exactly that key. */
  def hotKeys(s: SparkSession, dir: String): DataFrame = {
    val t = TranscriptGen.fromEvents(s, dir)
      .select(
        when(pmod(col("event_id"), lit(5)) === 0, "conv-hot0")
          .otherwise(col("conv_id")).as("conv_id"))
    graft.ops.CorpusStats.hotKeyReport(t, "conv_id")
  }

  /** q101: user→assistant SFT pair extraction with a full-prior-history
    * context digest ([[graft.ops.SftPrep.sftPairs]]). */
  def sftPairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.sftPairs(transcriptsUnordered(s, dir))
      .orderBy(col("conv_id"), col("turn_idx"))

  /** q102: role-transition Markov matrix with per-from-role conditional
    * probabilities ([[graft.ops.SftPrep.roleTransitions]]). */
  def roleTransitions(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.roleTransitions(transcriptsUnordered(s, dir))
      .orderBy(col("from_role"), col("to_role"))

  /** q103: context-budget left-truncation report at 64 whitespace
    * tokens ([[graft.ops.SftPrep.contextFit]]) — convs here run 50–88
    * turns at ~3 tokens/turn, so the budget splits every conversation
    * into a real kept suffix + dropped prefix. */
  def contextFit(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.contextFit(transcriptsUnordered(s, dir), budgetTokens = 64L)
      .orderBy(col("conv_id"))

  /** q104: consecutive tool-call bigrams within conversations
    * ([[graft.ops.SftPrep.toolChains]]). */
  def toolChains(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.toolChains(transcriptsUnordered(s, dir))
      .orderBy(col("n_chains").desc, col("tool_a"), col("tool_b"))

  /** q105: canned assistant-response detection (exact-text repeats ≥ 2,
    * top-20 by uses — [[graft.ops.SftPrep.cannedResponses]]). */
  def cannedResponses(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.cannedResponses(transcriptsUnordered(s, dir),
      minUses = 2L, topN = 20)

  /** q106: per-conversation adjacent-repetition / uniqueness report
    * ([[graft.ops.SftPrep.repeatReport]]). */
  def repeatReport(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.repeatReport(transcriptsUnordered(s, dir))
      .orderBy(col("conv_id"))

  /** q107: daily volume + cumulative corpus-growth curve
    * ([[graft.ops.CorpusStats.dailyVolume]]). */
  def dailyVolume(s: SparkSession, dir: String): DataFrame =
    graft.ops.CorpusStats.dailyVolume(transcriptsUnordered(s, dir))
      .orderBy(col("day_idx"))

  /** q108: turn-length position-decile curve
    * ([[graft.ops.SftPrep.positionCurve]]). */
  def positionCurve(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.positionCurve(transcriptsUnordered(s, dir))
      .orderBy(col("pos_decile"), col("role"))

  /** q110: user↔assistant vocabulary overlap
    * ([[graft.ops.SftPrep.roleVocabOverlap]]). */
  def roleVocabOverlap(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.roleVocabOverlap(transcriptsUnordered(s, dir),
      roleA = "user", roleB = "assistant")

  /** q111: conversation-level exact dedup via ordered turn digests
    * ([[graft.ops.SftPrep.convDigestDups]]). */
  def convDigestDups(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.convDigestDups(transcriptsUnordered(s, dir))
      .orderBy(col("conv_id"))

  /** q112: truncated/unterminated assistant responses
    * ([[graft.ops.SftPrep.truncationReport]]). */
  def truncationReport(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.truncationReport(transcriptsUnordered(s, dir))
      .orderBy(col("conv_id"), col("turn_idx"))

  /** q113: per-conversation language-consistency report
    * ([[graft.ops.SftPrep.convLangReport]]). */
  def convLangReport(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.convLangReport(transcriptsUnordered(s, dir))
      .orderBy(col("conv_id"))

  /** q114: assistant-echo (parroting) score per SFT pair
    * ([[graft.ops.SftPrep.echoReport]]). */
  def echoReport(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.echoReport(transcriptsUnordered(s, dir))
      .orderBy(col("conv_id"), col("turn_idx"))

  /** q115: user prompt-template mining
    * ([[graft.ops.SftPrep.promptTemplates]]). */
  def promptTemplates(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.promptTemplates(transcriptsUnordered(s, dir),
      minUses = 2L, topN = 20)

  /** q116: assistant refusal / failure-marker incidence per language
    * ([[graft.ops.SftPrep.refusalReport]]). */
  def refusalReport(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.refusalReport(transcriptsUnordered(s, dir))

  /** q117: padding-efficiency length-bucket report
    * ([[graft.ops.SftPrep.paddingReport]]). */
  def paddingReport(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.paddingReport(transcriptsUnordered(s, dir))

  /** q118: preference-pair mining from regeneration runs
    * ([[graft.ops.SftPrep.preferencePairs]]). */
  def preferencePairs(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.preferencePairs(transcriptsUnordered(s, dir))

  /** q119: context-window trim transform at a 96-token budget
    * ([[graft.ops.SftPrep.contextTrim]]). */
  def contextTrim(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.contextTrim(transcriptsUnordered(s, dir), budget = 96L)

  /** q120: tool-reliability attribution
    * ([[graft.ops.SftPrep.toolReliability]]). */
  def toolReliability(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.toolReliability(transcriptsUnordered(s, dir))

  /** q121: degenerate-loop collapse transform
    * ([[graft.ops.SftPrep.loopCollapse]]). */
  def loopCollapse(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.loopCollapse(transcriptsUnordered(s, dir))

  /** q123: SFT chat-template render ([[graft.ops.SftPrep.sftRender]]). */
  def sftRender(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.sftRender(transcriptsUnordered(s, dir))

  /** q124: loss-mask span table ([[graft.ops.SftPrep.lossMask]]). */
  def lossMask(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.lossMask(transcriptsUnordered(s, dir))

  /** q125: sliding dialogue-window chunking at (8, 4)
    * ([[graft.ops.SftPrep.dialogueWindows]]). */
  def dialogueWindows(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.dialogueWindows(transcriptsUnordered(s, dir),
      winTurns = 8, stride = 4)

  /** q127: tool-grounding score per tool→assistant adjacency
    * ([[graft.ops.SftPrep.toolGrounding]]). */
  def toolGrounding(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.toolGrounding(transcriptsUnordered(s, dir))

  /** q128: special-token leakage scan
    * ([[graft.ops.SftPrep.specialTokenScan]]). */
  def specialTokenScan(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.specialTokenScan(transcriptsUnordered(s, dir))

  /** q129: ingestion-order timestamp anomaly audit over the RAW
    * arrival stream ([[graft.ops.SftPrep.tsAnomalyReport]]). */
  def tsAnomalies(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.tsAnomalyReport(
      TranscriptGen.fromEvents(s, dir)
        .select(col("conv_id"), col("event_id"),
          unix_millis(col("ts")).as("ts_ms")))

  /** q130: KV-prefix-cache sharing report at a 24-char opener prefix
    * ([[graft.ops.SftPrep.prefixCacheReport]]). */
  def prefixCache(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.prefixCacheReport(transcriptsUnordered(s, dir),
      prefixChars = 24)

  /** q131: opening-intent mixture report under the default rules
    * table ([[graft.ops.SftPrep.intentMix]]). */
  def intentMix(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.intentMix(transcriptsUnordered(s, dir))

  /** q133: preference-margin calibration bands over q118's pairs at
    * the default ≥9-char gate ([[graft.ops.SftPrep.marginReport]]). */
  def marginReport(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.marginReport(transcriptsUnordered(s, dir))

  /** q135: ungrounded-numbers audit on the tool→assistant edge
    * ([[graft.ops.SftPrep.ungroundedNumbers]]). */
  def ungroundedNumbers(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.ungroundedNumbers(transcriptsUnordered(s, dir))

  /** q145: conversation-outcome triage
    * ([[graft.ops.SftPrep.conversationOutcome]]). */
  def convOutcome(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.conversationOutcome(transcriptsUnordered(s, dir))

  /** q146: first-vs-last user-turn topic drift
    * ([[graft.ops.SftPrep.topicDrift]]). */
  def topicDrift(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.topicDrift(transcriptsUnordered(s, dir))

  /** q147: per-conversation assistant verbosity slope
    * ([[graft.ops.SftPrep.verbositySlope]]). */
  def verbositySlope(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.verbositySlope(transcriptsUnordered(s, dir))

  /** q148: answer-consistency audit over repeated user questions
    * ([[graft.ops.SftPrep.answerConsistency]]). */
  def answerConsistency(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.answerConsistency(transcriptsUnordered(s, dir))

  /** q154: refusal rate by opening intent
    * ([[graft.ops.SftPrep.refusalByIntent]]). */
  def refusalByIntent(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.refusalByIntent(transcriptsUnordered(s, dir))

  /** q175: correction rate by opening intent
    * ([[graft.ops.SftPrep.correctionByIntent]]). */
  def correctionByIntent(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.correctionByIntent(transcriptsUnordered(s, dir))

  /** q178: assistant response-latency percentiles by opening intent
    * ([[graft.ops.SftPrep.latencyByIntent]]). */
  def latencyByIntent(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.latencyByIntent(transcriptsUnordered(s, dir))

  /** q184: conversation survival/hazard curve by depth
    * ([[graft.ops.SftPrep.convHazard]]). */
  def convHazard(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.convHazard(transcriptsUnordered(s, dir))

  /** q185: tool-execution latency percentiles per tool
    * ([[graft.ops.SftPrep.toolLatency]]). */
  def toolLatency(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.toolLatency(transcriptsUnordered(s, dir))

  /** q188: hour-of-week load profile
    * ([[graft.ops.SftPrep.hourOfWeekLoad]]). */
  def hourOfWeekLoad(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.hourOfWeekLoad(transcriptsUnordered(s, dir))

  /** q193: conversation-volume concentration (Gini + top shares)
    * ([[graft.ops.SftPrep.convConcentration]]). */
  def convConcentration(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.convConcentration(transcriptsUnordered(s, dir))

  /** q194: duplicate-conversation clusters over a corpus with a
    * synthetic replay stripe — every conversation whose numeric
    * suffix is divisible by 9 is re-submitted verbatim under a
    * "dup-" prefixed id ([[graft.ops.SftPrep.duplicateConversations]]). */
  def duplicateConvs(s: SparkSession, dir: String): DataFrame = {
    // NOT persisted although both branches read the derivation: a
    // wrapper-level persist registers a session cache entry that every
    // LATER query's plan silently embeds (InMemoryRelation), breaking
    // the per-query exchange accounting the guard tests pin
    val t = transcriptsUnordered(s, dir)
    // full suffix, no length cap — the oracle parses substr(conv_id, 6)
    // whole, and a 9-char cap would diverge on ids past 9 digits
    val stripe = t
      .filter(pmod(expr("substring(conv_id, 6)").cast("long"),
        lit(9L)) === 0)
      .withColumn("conv_id", concat(lit("dup-"), col("conv_id")))
    graft.ops.SftPrep.duplicateConversations(t.unionByName(stripe))
  }

  /** q195: conversation language-mix rollup
    * ([[graft.ops.SftPrep.convLangMix]]). */
  def convLangMix(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.convLangMix(transcriptsUnordered(s, dir))

  /** q196: user/assistant token-balance decile histogram
    * ([[graft.ops.SftPrep.roleBalanceHistogram]]). */
  def roleBalance(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.roleBalanceHistogram(transcriptsUnordered(s, dir))

  /** q197: PII incidence by role over a corpus with injected contact
    * stripes — every turn_idx ≡ 3 (mod 11) gains an email, every
    * turn_idx ≡ 5 (mod 13) a phone ([[graft.ops.SftPrep.piiByRole]]). */
  def piiByRole(s: SparkSession, dir: String): DataFrame = {
    val t = transcriptsUnordered(s, dir).withColumn("text", concat(col("text"),
      when(pmod(col("turn_idx"), lit(11)) === 3,
        lit(" contact support@example.com")).otherwise(lit("")),
      when(pmod(col("turn_idx"), lit(13)) === 5,
        lit(" call 555-0199")).otherwise(lit(""))))
    graft.ops.SftPrep.piiByRole(t)
  }

  /** q199: response-latency percentiles per (dow, hour) cell
    * ([[graft.ops.SftPrep.latencyByHour]]). */
  def latencyByHour(s: SparkSession, dir: String): DataFrame =
    graft.ops.SftPrep.latencyByHour(transcriptsUnordered(s, dir))

  /** Per-role text checksum — the per-turn byte-equality invariant in
    * aggregate form (md5 over identical UTF-8 bytes on both engines). */
  def textChecksum(s: SparkSession, dir: String): DataFrame =
    TranscriptGen.fromEvents(s, dir)
      .groupBy(col("role"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(md5(col("text").cast("binary"))).as("md5_min"),
        max(md5(col("text").cast("binary"))).as("md5_max"))
      .orderBy(col("role"))
}

/** Classic scan/agg/join/top-k queries over the TPC-H-ish tables —
  * exercise pushdown, partial aggregation, broadcast joins, LIMIT. */
object AnalyticsQueries {

  def tpchQ1(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_base_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  def ordersBySegment(s: SparkSession, dir: String): DataFrame = {
    val orders = s.read.parquet(s"$dir/orders.parquet")
    val customer = s.read.parquet(s"$dir/customer.parquet")
    orders.join(broadcast(customer),
        orders("o_custkey") === customer("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** Exact grouped percentiles (R-7 linear interpolation — the same
    * definition as DuckDB quantile_cont, so bit-parity holds modulo
    * round(…, 4)). Exact percentile sorts each group; at 100 TB the
    * same query ships as approx_percentile (Greenwald-Khanna
    * QuantileSummaries sketch, partial-agg friendly, rank-error bound
    * set by its accuracy parameter) — this is the exact small-scale
    * reference for that sketch. */
  def pricePercentiles(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(expr(
        "percentile(CAST(l_extendedprice AS DOUBLE), " +
          "array(0.25D, 0.5D, 0.9D, 0.99D))").as("p"))
      .select(
        col("l_returnflag"),
        round(element_at(col("p"), 1), 4).as("p25"),
        round(element_at(col("p"), 2), 4).as("p50"),
        round(element_at(col("p"), 3), 4).as("p90"),
        round(element_at(col("p"), 4), 4).as("p99"))
      .orderBy(col("l_returnflag"))

  /** The 100-TB percentile path EXECUTED, not narrated: the same groups
    * as [[pricePercentiles]] through `approx_percentile` (Greenwald-
    * Khanna QuantileSummaries — partial-agg friendly: each task folds
    * its partition into a bounded sketch and only sketches shuffle,
    * vs the exact form's per-group value multiset buffering), plus an
    * in-query verification of the sketch's contract: for accuracy
    * parameter `a`, the returned value's exact rank must lie within
    * n/a of the target rank. Output is the verified verdict per group
    * (deterministic — TRUE whenever the sketch honors its bound — so
    * the DuckDB oracle can pin it exactly even though sketch
    * internals are engine-specific); the exact ranks come from one
    * broadcast join of the 3-row sketch output back against the scan.
    * A ±1-row slack absorbs rank-rounding conventions at interval
    * endpoints. OpsSpec additionally asserts the approx VALUES land
    * within the exact [[pricePercentiles]] neighborhood. */
  def pricePercentilesApprox(
      s: SparkSession, dir: String, accuracy: Int = 1000): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_returnflag"),
        col("l_extendedprice").cast("double").as("v"))
    val ps = Seq(("p25", 0.25, 1), ("p50", 0.5, 2), ("p90", 0.9, 3),
      ("p99", 0.99, 4))
    val eps = 1.0 / accuracy
    val approx = li.groupBy(col("l_returnflag"))
      .agg(expr("approx_percentile(v, " +
          s"array(0.25D, 0.5D, 0.9D, 0.99D), $accuracy)").as("ap"),
        count(lit(1)).as("n_rows"))
    val joined = li.join(broadcast(approx), Seq("l_returnflag"))
    val rankAggs = first(col("n_rows")).as("n_rows") +: ps.flatMap {
      case (nm, _, i) => Seq(
        count(when(col("v") <= element_at(col("ap"), i), 1)).as(s"le_$nm"),
        count(when(col("v") < element_at(col("ap"), i), 1)).as(s"lt_$nm"))
    }
    joined.groupBy(col("l_returnflag"))
      .agg(rankAggs.head, rankAggs.tail: _*)
      .select(col("l_returnflag") +: col("n_rows") +: ps.map {
        case (nm, p, _) =>
          // returned value's rank interval [lt+1, le] must intersect
          // the target interval [(p-eps)n, (p+eps)n]
          ((col(s"le_$nm") >= col("n_rows") * lit(p - eps) - lit(1)) &&
            (col(s"lt_$nm") + lit(1) <=
              col("n_rows") * lit(p + eps) + lit(1))).as(s"ok_$nm")
      }: _*)
      .orderBy(col("l_returnflag"))
  }

  def topBrands(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val part = s.read.parquet(s"$dir/part.parquet")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_items"))
      .orderBy(col("n_items").desc, col("p_brand").asc)
      .limit(10)
  }
}

/** DuckDB-dialect oracles, one per query key. */
object Oracles {

  private val T = TranscriptGen.fromEventsOracleSql

  /** q118's full oracle, extracted so q133 can compose on it. */
  private val preferencePairsOracle: String =
    s"""WITH t AS ($T),
       |tr AS (SELECT conv_id,
       |    CAST(row_number() OVER (PARTITION BY conv_id
       |      ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
       |    role, text FROM t),
       |m AS (SELECT conv_id, turn_idx, role, text,
       |    lag(role) OVER w AS prev_role,
       |    lag(text) OVER w AS prev_text,
       |    CASE WHEN lag(role) OVER w IS NULL
       |         OR lag(role) OVER w <> role THEN 1 ELSE 0 END AS rs
       |  FROM tr WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
       |r AS (SELECT *, sum(rs) OVER (PARTITION BY conv_id
       |    ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS run_id
       |  FROM m),
       |rk AS (SELECT conv_id, run_id, turn_idx, prev_role, prev_text,
       |    text, length(text) AS len,
       |    row_number() OVER (PARTITION BY conv_id, run_id
       |      ORDER BY turn_idx) AS rn_first,
       |    row_number() OVER (PARTITION BY conv_id, run_id
       |      ORDER BY length(text) DESC, turn_idx ASC) AS rn_ch,
       |    row_number() OVER (PARTITION BY conv_id, run_id
       |      ORDER BY length(text) ASC, turn_idx DESC) AS rn_rj,
       |    count(*) OVER (PARTITION BY conv_id, run_id) AS n_cand
       |  FROM r WHERE role = 'assistant'),
       |g AS (SELECT conv_id, run_id,
       |    max(n_cand) AS n_candidates,
       |    max(CASE WHEN rn_first = 1 THEN turn_idx END) AS head_ti,
       |    max(CASE WHEN rn_first = 1 THEN prev_role END) AS head_pr,
       |    max(CASE WHEN rn_first = 1 THEN md5(prev_text) END)
       |      AS prompt_md5,
       |    max(CASE WHEN rn_ch = 1 THEN md5(text) END) AS chosen_md5,
       |    max(CASE WHEN rn_ch = 1 THEN len END) AS chosen_len,
       |    max(CASE WHEN rn_rj = 1 THEN md5(text) END) AS rejected_md5,
       |    max(CASE WHEN rn_rj = 1 THEN len END) AS rejected_len
       |  FROM rk GROUP BY 1, 2)
       |SELECT conv_id,
       |  CAST(head_ti - 1 AS INTEGER) AS prompt_turn_idx, prompt_md5,
       |  n_candidates, chosen_md5,
       |  CAST(chosen_len AS BIGINT) AS chosen_len,
       |  rejected_md5, CAST(rejected_len AS BIGINT) AS rejected_len
       |FROM g WHERE n_candidates >= 2 AND head_pr = 'user'
       |ORDER BY conv_id, prompt_turn_idx""".stripMargin

  val all: Map[String, String] = Map(
    "q01_transcripts" ->
      s"""WITH t AS ($T)
         |SELECT conv_id,
         |  CAST(row_number() OVER (PARTITION BY conv_id ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         |  role, text, tool, epoch_ms(ts) AS ts_ms
         |FROM t ORDER BY conv_id, turn_idx""".stripMargin,
    // q17's oracle is the EXPECTED parse output computed directly from
    // events — the Spark side renders per-conversation grok text and
    // re-parses it, so a green row proves parse ∘ render == identity
    "q17_grok_parse" ->
      s"""WITH t AS ($T)
         |SELECT conv_id,
         |  CAST(row_number() OVER (PARTITION BY conv_id ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         |  role, tool, epoch_ms(ts) AS ts_ms, text
         |FROM t ORDER BY conv_id, turn_idx""".stripMargin,
    // q81: lag() windows inside each conversation + R-7 percentiles
    // (quantile_cont parity, the q13 contract); avg over integer-ms
    // gaps is an exact double sum in any order
    "q81_turn_latency" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id, role, epoch_ms(ts) AS ts_ms,
         |    lag(role) OVER w AS prev_role,
         |    lag(epoch_ms(ts)) OVER w AS prev_ts
         |  FROM t
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)),
         |g AS (SELECT ts_ms - prev_ts AS gap_ms FROM o
         |  WHERE role = 'assistant' AND prev_role = 'user')
         |SELECT CAST(count(*) AS BIGINT) AS n_gaps,
         |  round(quantile_cont(CAST(gap_ms AS DOUBLE), 0.5), 4)
         |    AS p50_ms,
         |  round(quantile_cont(CAST(gap_ms AS DOUBLE), 0.9), 4)
         |    AS p90_ms,
         |  round(quantile_cont(CAST(gap_ms AS DOUBLE), 0.99), 4)
         |    AS p99_ms,
         |  round(avg(gap_ms), 4) AS mean_ms
         |FROM g""".stripMargin,
    "q02_route_counts" ->
      s"""WITH t AS ($T)
         |SELECT role, coalesce(tool, 'none') AS tool, count(*) AS n_rows
         |FROM t GROUP BY 1, 2 ORDER BY role, tool""".stripMargin,
    "q03_thread_stats" ->
      s"""WITH t AS ($T)
         |SELECT conv_id, count(*) AS n_turns,
         |  epoch_ms(min(ts)) AS ts_min, epoch_ms(max(ts)) AS ts_max
         |FROM t GROUP BY 1 ORDER BY conv_id""".stripMargin,
    "q04_enrich_tool_category" ->
      s"""WITH t AS ($T)
         |SELECT coalesce(d.category, 'n/a') AS category,
         |  count(*) AS n_rows, count(DISTINCT t.conv_id) AS n_convs
         |FROM t LEFT JOIN (VALUES
         |  ('file_search','retrieval'), ('browser','web'),
         |  ('python','code'), ('dalle','image'), ('zapier','plugin'))
         |  AS d(tool, category) ON t.tool = d.tool
         |GROUP BY 1 ORDER BY category""".stripMargin,
    "q05_event_windows" ->
      """SELECT epoch_ms(date_trunc('hour', ts)) AS window_start,
        |  event_type, count(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q13_price_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.25), 4)
        |    AS p25,
        |  round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5), 4)
        |    AS p50,
        |  round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.9), 4)
        |    AS p90,
        |  round(quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.99), 4)
        |    AS p99
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    // pins the CONTRACT, not sketch internals: the Spark side computes
    // each approx value's exact rank and emits whether it is within the
    // configured bound — deterministically TRUE for a correct sketch —
    // so the oracle asserts group keys, group sizes, and all-TRUE
    // verdicts; a sketch violating its rank-error bound flips a column
    // to FALSE and fails the hash compare
    "q14_price_percentiles_approx" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  true AS ok_p25, true AS ok_p50, true AS ok_p90, true AS ok_p99
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,
    "q08_routed_rollup" ->
      s"""WITH t AS ($T),
         |b AS (SELECT role, coalesce(tool, 'none') AS tool FROM t)
         |SELECT coalesce(role, 'ALL') AS role,
         |  coalesce(tool, 'ALL') AS tool, count(*) AS n_rows
         |FROM b GROUP BY ROLLUP(role, tool)
         |ORDER BY role, tool""".stripMargin,
    "q09_role_pivot" ->
      s"""WITH t AS ($T),
         |b AS (SELECT coalesce(tool, 'none') AS tool_sink, role FROM t)
         |SELECT tool_sink,
         |  CAST(sum(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS assistant,
         |  CAST(sum(CASE WHEN role = 'system' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS system,
         |  CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS tool,
         |  CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS user
         |FROM b GROUP BY tool_sink ORDER BY tool_sink""".stripMargin,
    "q07_asof_rates" ->
      """WITH e AS (SELECT event_id, epoch_ms(ts) AS ts_ms, event_type,
        |    value FROM events),
        |-- HAVING mirrors Temporal.cleanChanges: an all-null change
        |-- group is IGNORED, not matched as a null rate
        |r AS (SELECT event_type, epoch_ms(ts) AS ts_ms, max(value) AS rate
        |  FROM events WHERE event_id % 50 = 0 GROUP BY 1, 2
        |  HAVING max(value) IS NOT NULL)
        |SELECT e.event_id, e.ts_ms, e.event_type, e.value, r.rate
        |FROM e ASOF LEFT JOIN r
        |  ON e.event_type = r.event_type AND e.ts_ms >= r.ts_ms
        |ORDER BY e.event_id""".stripMargin,
    "q06_text_checksum" ->
      s"""WITH t AS ($T)
         |SELECT role, count(*) AS n_rows,
         |  min(md5(text)) AS md5_min, max(md5(text)) AS md5_max
         |FROM t GROUP BY 1 ORDER BY role""".stripMargin,
    // DuckDB sum() OVER → HUGEINT and count(*) windows differ — CAST
    // pins session_seq/n_events to BIGINT like Spark's longs
    "q15_sessions" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
        |    WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |l AS (SELECT user_id, ts_ms,
        |    lag(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms)
        |      AS prev_ts FROM e),
        |s AS (SELECT user_id, ts_ms,
        |    CASE WHEN prev_ts IS NULL OR ts_ms - prev_ts > 1800000
        |      THEN 1 ELSE 0 END AS new_s FROM l),
        |c AS (SELECT user_id, ts_ms,
        |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM s)
        |SELECT user_id, session_seq, count(*) AS n_events,
        |  min(ts_ms) AS first_ts_ms, max(ts_ms) AS last_ts_ms
        |FROM c GROUP BY 1, 2 ORDER BY user_id, session_seq""".stripMargin,
    "q16_asof_rates_merge" ->
      """WITH e AS (SELECT event_id, epoch_ms(ts) AS ts_ms, user_id,
        |    value FROM events),
        |-- HAVING mirrors Temporal.cleanChanges: an all-null change
        |-- group is IGNORED, not matched as a null rate
        |r AS (SELECT user_id, epoch_ms(ts) AS ts_ms, max(value) AS rate
        |  FROM events WHERE event_id % 20 = 0 GROUP BY 1, 2
        |  HAVING max(value) IS NOT NULL)
        |SELECT e.event_id, e.ts_ms, e.user_id, e.value, r.rate
        |FROM e ASOF LEFT JOIN r
        |  ON e.user_id = r.user_id AND e.ts_ms >= r.ts_ms
        |ORDER BY e.event_id""".stripMargin,
    "q10_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q11_orders_by_segment" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    "q12_top_brands" ->
      """SELECT p_brand, count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY n_items DESC, p_brand ASC LIMIT 10""".stripMargin,
    // q86: min-timestamp cascade with strict-after progression; rates
    // are exact small-integer double divisions (both engines IEEE)
    "q86_funnel" ->
      """WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_type
        |    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |s1 AS (SELECT user_id, min(ts_ms) AS t FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts_ms) AS t FROM e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.ts_ms > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts_ms) AS t FROM e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts_ms > s2.t GROUP BY 1),
        |c AS (SELECT 1 AS step_idx, 'view' AS step,
        |    (SELECT count(*) FROM s1) AS n_keys
        |  UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
        |  UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
        |SELECT step_idx, step, n_keys,
        |  round(CASE WHEN step_idx = 1 THEN CAST(1.0 AS DOUBLE)
        |    ELSE CAST(n_keys AS DOUBLE) /
        |      CAST(lag(n_keys) OVER (ORDER BY step_idx) AS DOUBLE)
        |    END, 6) AS conv_from_prev,
        |  round(CAST(n_keys AS DOUBLE) /
        |    CAST((SELECT n_keys FROM c WHERE step_idx = 1) AS DOUBLE), 6)
        |    AS conv_from_first
        |FROM c ORDER BY step_idx""".stripMargin,
    // q92: same lag()-window turn walk as q81, aggregated per conv
    "q92_conv_structure" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id, role,
         |    CAST(row_number() OVER w - 1 AS INTEGER) AS turn_idx,
         |    count(*) OVER (PARTITION BY conv_id) AS n,
         |    lag(role) OVER w AS prev_role
         |  FROM t
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id))
         |SELECT conv_id, count(*) AS n_turns,
         |  max(CASE WHEN turn_idx = 0 THEN role END) AS first_role,
         |  max(CASE WHEN turn_idx = n - 1 THEN role END) AS last_role,
         |  CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_same_role_adjacent,
         |  (max(CASE WHEN turn_idx = 0 THEN role END) = 'user' AND
         |    CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END)
         |      AS BIGINT) = 0) AS alternation_ok
         |FROM o GROUP BY conv_id ORDER BY conv_id""".stripMargin,
    // q100: same injected mega-conversation stripe, per-key counts,
    // EXACT-integer salt verdict (n·n_keys > 2·total), top-20
    "q100_hot_keys" ->
      s"""WITH t AS ($T),
         |k AS (SELECT CASE WHEN event_id % 5 = 0 THEN 'conv-hot0'
         |    ELSE conv_id END AS key FROM t),
         |sizes AS (SELECT key, count(*) AS n_rows FROM k GROUP BY 1),
         |tot AS (SELECT sum(n_rows) AS total, count(*) AS n_keys
         |  FROM sizes)
         |SELECT key, n_rows,
         |  round(CAST(n_rows AS DOUBLE) /
         |    CAST((SELECT total FROM tot) AS DOUBLE), 6) AS share,
         |  (n_rows * (SELECT n_keys FROM tot) >
         |    2 * (SELECT total FROM tot)) AS would_salt
         |FROM sizes ORDER BY n_rows DESC, key LIMIT 20""".stripMargin,
    // q101: the same (conv, turn) walk as q81/q92; the context digest
    // hashes the ordered prior-history concatenation (both engines
    // traverse the ROWS frame in ORDER BY order; the Spark side
    // additionally array_sorts inside the collected array, so equality
    // here proves the digest is frame-order independent). coalesce('')
    // pins the empty-context md5 (DuckDB string_agg over an empty
    // frame is NULL; Spark concat_ws of an empty array is '')
    "q101_sft_pairs" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id, role, text,
         |    CAST(row_number() OVER w - 1 AS INTEGER) AS turn_idx,
         |    lead(role) OVER w AS next_role,
         |    lead(text) OVER w AS next_text,
         |    count(*) OVER wctx AS n_context_turns,
         |    md5(coalesce(
         |      string_agg(role || ': ' || text, chr(10)) OVER wctx,
         |      '')) AS context_md5
         |  FROM t
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id),
         |    wctx AS (PARTITION BY conv_id ORDER BY ts, event_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
         |SELECT conv_id, turn_idx, text AS prompt,
         |  next_text AS response, n_context_turns, context_md5
         |FROM o WHERE role = 'user' AND next_role = 'assistant'
         |ORDER BY conv_id, turn_idx""".stripMargin,
    // q102: lead() transition walk + bounded (roles²) rollup; p is an
    // exact small-integer double division on both engines
    "q102_role_transitions" ->
      s"""WITH t AS ($T),
         |o AS (SELECT role, lead(role) OVER
         |    (PARTITION BY conv_id ORDER BY ts, event_id) AS to_role
         |  FROM t),
         |c AS (SELECT role AS from_role, to_role,
         |    count(*) AS n_transitions
         |  FROM o WHERE to_role IS NOT NULL GROUP BY 1, 2),
         |tot AS (SELECT from_role,
         |    CAST(sum(n_transitions) AS BIGINT) AS n_from
         |  FROM c GROUP BY 1)
         |SELECT c.from_role, c.to_role, c.n_transitions,
         |  round(CAST(c.n_transitions AS DOUBLE) /
         |    CAST(tot.n_from AS DOUBLE), 6) AS p
         |FROM c JOIN tot USING (from_role)
         |ORDER BY from_role, to_role""".stripMargin,
    // q103: reverse running token sum (q20's whitespace-token
    // contract), keep = suffix-within-budget OR last turn; the kept
    // digest is string_agg with an explicit ORDER BY inside the
    // aggregate — order-pinned on both engines
    "q103_context_fit" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id, text,
         |    CAST(row_number() OVER
         |      (PARTITION BY conv_id ORDER BY ts, event_id) - 1
         |      AS INTEGER) AS turn_idx,
         |    CAST(len(string_split_regex(trim(text), '\\s+'))
         |      AS BIGINT) AS n_tok
         |  FROM t),
         |c AS (SELECT *,
         |    sum(n_tok) OVER (PARTITION BY conv_id
         |      ORDER BY turn_idx DESC
         |      ROWS UNBOUNDED PRECEDING) AS cum_from_end,
         |    row_number() OVER (PARTITION BY conv_id
         |      ORDER BY turn_idx DESC) AS pos_from_end
         |  FROM o),
         |k AS (SELECT *,
         |    (cum_from_end <= 64 OR pos_from_end = 1) AS keep FROM c)
         |SELECT conv_id, count(*) AS n_turns,
         |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(sum(CASE WHEN keep THEN n_tok ELSE 0 END) AS BIGINT)
         |    AS kept_tokens,
         |  md5(string_agg(CASE WHEN keep THEN text END, chr(10)
         |    ORDER BY turn_idx)) AS kept_md5
         |FROM k GROUP BY conv_id ORDER BY conv_id""".stripMargin,
    // q104: lead() over the tool-turn subsequence only; bounded
    // (tools²) rollup with the (n DESC, a, b) total order
    "q104_tool_chains" ->
      s"""WITH t AS ($T),
         |o AS (SELECT tool, lead(tool) OVER
         |    (PARTITION BY conv_id ORDER BY ts, event_id) AS next_tool
         |  FROM t WHERE tool IS NOT NULL)
         |SELECT tool AS tool_a, next_tool AS tool_b,
         |  count(*) AS n_chains
         |FROM o WHERE next_tool IS NOT NULL GROUP BY 1, 2
         |ORDER BY n_chains DESC, tool_a, tool_b""".stripMargin,
    // q105: assistant texts reduce to md5 before grouping; share's
    // denominator is the assistant-turn total (the q19 scalar-literal
    // pattern on the Spark side, a subquery here)
    "q105_canned_responses" ->
      s"""WITH t AS ($T),
         |a AS (SELECT conv_id, md5(text) AS text_md5 FROM t
         |  WHERE role = 'assistant'),
         |c AS (SELECT text_md5, count(*) AS n_uses,
         |    count(DISTINCT conv_id) AS n_convs
         |  FROM a GROUP BY 1 HAVING count(*) >= 2)
         |SELECT text_md5, n_uses, n_convs,
         |  round(CAST(n_uses AS DOUBLE) /
         |    CAST((SELECT count(*) FROM a) AS DOUBLE), 6) AS share
         |FROM c ORDER BY n_uses DESC, text_md5 LIMIT 20""".stripMargin,
    // q106: lag() repeat walk + per-conv rollup; NULL prev_role on the
    // first turn falls to the CASE ELSE 0 on both engines (Spark's
    // when(null) → otherwise). uniqueness is an exact small-integer
    // division
    "q106_repeat_report" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id, role, text,
         |    lag(role) OVER w AS prev_role,
         |    lag(text) OVER w AS prev_text
         |  FROM t
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id))
         |SELECT conv_id, count(*) AS n_turns,
         |  CAST(sum(CASE WHEN role = prev_role AND text = prev_text
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_adjacent_repeats,
         |  count(DISTINCT text) AS n_distinct_texts,
         |  round(CAST(count(DISTINCT text) AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE), 6) AS uniqueness
         |FROM o GROUP BY conv_id ORDER BY conv_id""".stripMargin,
    // q107: epoch-day via integer division (timezone-free); the
    // running total is a window over the bounded day rollup here, a
    // driver-side literal on the Spark side (q102 eager pattern)
    "q107_daily_volume" ->
      s"""WITH t AS ($T),
         |d AS (SELECT epoch_ms(ts) // 86400000 AS day_idx,
         |    count(*) AS n_turns,
         |    count(DISTINCT conv_id) AS n_convs
         |  FROM t GROUP BY 1)
         |SELECT day_idx, n_turns, n_convs,
         |  CAST(sum(n_turns) OVER (ORDER BY day_idx
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_turns,
         |  round(CAST(sum(n_turns) OVER (ORDER BY day_idx
         |      ROWS UNBOUNDED PRECEDING) AS DOUBLE) /
         |    CAST((SELECT sum(n_turns) FROM d) AS DOUBLE), 6)
         |    AS cum_share
         |FROM d ORDER BY day_idx""".stripMargin,
    // q108: relative-position decile via exact integer div; token sums
    // are integers (< 2^53) so avg is bit-identical across engines;
    // p50 is the q81 quantile_cont↔percentile contract
    "q108_position_curve" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id, role, text,
         |    CAST(row_number() OVER w - 1 AS BIGINT) AS turn_idx,
         |    count(*) OVER (PARTITION BY conv_id) AS n_turns
         |  FROM t
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)),
         |b AS (SELECT (turn_idx * 10) // n_turns AS pos_decile, role,
         |    CAST(len(string_split_regex(trim(text), '\\s+'))
         |      AS BIGINT) AS n_tok
         |  FROM o)
         |SELECT pos_decile, role, count(*) AS n_rows,
         |  round(avg(n_tok), 6) AS mean_tok,
         |  round(quantile_cont(CAST(n_tok AS DOUBLE), 0.5), 4)
         |    AS p50_tok
         |FROM b GROUP BY 1, 2 ORDER BY pos_decile, role""".stripMargin,
    // q110: tokens reduce to per-token role flags (the only shuffle),
    // then one bounded rollup row; jaccard is an exact small-integer
    // division
    "q110_role_vocab" ->
      s"""WITH t AS ($T),
         |tk AS (SELECT role,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS tok
         |  FROM t WHERE role IN ('user', 'assistant')),
         |f AS (SELECT tok,
         |    max(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END)
         |      AS in_b
         |  FROM tk WHERE tok <> '' GROUP BY 1)
         |SELECT CAST(sum(in_a) AS BIGINT) AS n_vocab_a,
         |  CAST(sum(in_b) AS BIGINT) AS n_vocab_b,
         |  CAST(sum(in_a * in_b) AS BIGINT) AS n_shared,
         |  count(*) AS n_union,
         |  round(CAST(sum(in_a * in_b) AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE), 6) AS jaccard
         |FROM f""".stripMargin,
    // q111: the conversation digest is string_agg with an explicit
    // in-aggregate ORDER BY here, an array_sort inside the collected
    // array on the Spark side — order-pinned on both engines (the
    // q101/q103 contract)
    "q111_conv_dedup" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id, role || ': ' || text AS line,
         |    row_number() OVER
         |      (PARTITION BY conv_id ORDER BY ts, event_id) AS rn
         |  FROM t),
         |c AS (SELECT conv_id, count(*) AS n_turns,
         |    md5(string_agg(line, chr(10) ORDER BY rn)) AS conv_md5
         |  FROM o GROUP BY conv_id)
         |SELECT conv_id, n_turns, conv_md5,
         |  CAST(count(*) OVER (PARTITION BY conv_md5) AS BIGINT)
         |    AS dup_group_n
         |FROM c ORDER BY conv_id""".stripMargin,
    // q112: fence count is the exact occurrence fold (length-diff ÷ 3,
    // the stop-hit contract — an exact-integer double on both
    // engines); the last character via right(rtrim(·), 1), identical
    // single-char semantics
    "q112_truncation" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id,
         |    CAST(row_number() OVER (PARTITION BY conv_id
         |      ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         |    role, text FROM t),
         |a AS (SELECT conv_id, turn_idx,
         |    CAST((length(text) - length(replace(text, '```', ''))) / 3
         |      AS BIGINT) AS n_fences,
         |    right(rtrim(text), 1) AS lc
         |  FROM o WHERE role = 'assistant'),
         |f AS (SELECT conv_id, turn_idx, n_fences,
         |    n_fences % 2 = 1 AS unclosed_fence,
         |    NOT (lc IN ('.', '!', '?', '"', '''', ')', ']', '`',
         |      '。', '！', '？')) AS no_terminal
         |  FROM a)
         |SELECT conv_id, turn_idx, n_fences, unclosed_fence, no_terminal
         |FROM f WHERE unclosed_fence OR no_terminal
         |ORDER BY conv_id, turn_idx""".stripMargin,
    // q113: per-turn language is the q21 langGuess CASE verbatim;
    // dominant lang via (count desc, lang asc) row_number tie-break
    "q113_conv_lang" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id, text,
         |    ' ' || lower(text) || ' ' AS p,
         |    greatest(len(string_split_regex(trim(text), '\\s+')), 1)
         |      AS nt
         |  FROM t),
         |l AS (SELECT conv_id,
         |  CASE
         |    WHEN regexp_matches(text,
         |      '[\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}]') THEN 'cjk'
         |    WHEN ((length(p) - length(replace(p, ' the ', ''))) / 5 +
         |          (length(p) - length(replace(p, ' a ', ''))) / 3 +
         |          (length(p) - length(replace(p, ' and ', ''))) / 5 +
         |          (length(p) - length(replace(p, ' of ', ''))) / 4 +
         |          (length(p) - length(replace(p, ' to ', ''))) / 4 +
         |          (length(p) - length(replace(p, ' is ', ''))) / 4)
         |         / nt >= 0.03 THEN 'en'
         |    WHEN length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')) /
         |         CAST(greatest(length(text), 1) AS DOUBLE) >= 0.9
         |      THEN 'latin_other'
         |    ELSE 'other' END AS lang
         |  FROM o),
         |c AS (SELECT conv_id, lang, count(*) AS n FROM l GROUP BY 1, 2),
         |r AS (SELECT conv_id, lang, n,
         |    row_number() OVER (PARTITION BY conv_id
         |      ORDER BY n DESC, lang) AS rk
         |  FROM c)
         |SELECT conv_id, CAST(sum(n) AS BIGINT) AS n_turns,
         |  count(*) AS n_langs,
         |  max(CASE WHEN rk = 1 THEN lang END) AS dominant_lang,
         |  count(*) > 1 AS is_mixed
         |FROM r GROUP BY conv_id ORDER BY conv_id""".stripMargin,
    // q114: distinct-token sets via list_distinct ∘ list_filter (the
    // q110 empty-token drop); only intersection SIZES are compared, so
    // list order never matters
    "q114_echo_score" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id,
         |    CAST(row_number() OVER w - 1 AS INTEGER) AS turn_idx,
         |    role, text,
         |    lead(role) OVER w AS next_role,
         |    lead(text) OVER w AS next_text
         |  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)),
         |p AS (SELECT conv_id, turn_idx,
         |    list_distinct(list_filter(
         |      string_split_regex(trim(text), '\\s+'),
         |      x -> x <> '')) AS utok,
         |    list_distinct(list_filter(
         |      string_split_regex(trim(next_text), '\\s+'),
         |      x -> x <> '')) AS atok
         |  FROM o WHERE role = 'user' AND next_role = 'assistant')
         |SELECT conv_id, turn_idx,
         |  CAST(len(atok) AS BIGINT) AS n_resp_tokens,
         |  CAST(len(list_intersect(atok, utok)) AS BIGINT) AS n_shared,
         |  round(CAST(len(list_intersect(atok, utok)) AS DOUBLE) /
         |    greatest(len(atok), 1), 6) AS echo_ratio
         |FROM p ORDER BY conv_id, turn_idx""".stripMargin,
    // q115: skeleton classes are explicit char classes (identical in
    // Java regex and RE2); the md5 group key makes min(template) a
    // constant per group, so no collation is in play
    "q115_prompt_templates" ->
      s"""WITH t AS ($T),
         |u AS (SELECT conv_id,
         |    trim(regexp_replace(regexp_replace(lower(text),
         |      '[0-9]+', '#', 'g'), '[ \\t\\n\\r]+', ' ', 'g'))
         |      AS template
         |  FROM t WHERE role = 'user'),
         |w AS (SELECT md5(template) AS template_md5,
         |    count(*) AS n_uses,
         |    count(DISTINCT conv_id) AS n_convs,
         |    min(template) AS template
         |  FROM u GROUP BY 1 HAVING count(*) >= 2
         |  ORDER BY n_uses DESC, template_md5 LIMIT 20)
         |SELECT template_md5, template, n_uses, n_convs FROM w
         |ORDER BY n_uses DESC, template_md5""".stripMargin,
    // q116: marker matching is plain substring `contains` on the
    // lowercased text — no regex dialect in play; the language key is
    // the q21/q113 langGuess CASE verbatim
    "q116_refusal_report" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id, text,
         |    ' ' || lower(text) || ' ' AS p,
         |    greatest(len(string_split_regex(trim(text), '\\s+')), 1)
         |      AS nt
         |  FROM t WHERE role = 'assistant'),
         |a AS (SELECT conv_id,
         |  CASE
         |    WHEN regexp_matches(text,
         |      '[\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}]') THEN 'cjk'
         |    WHEN ((length(p) - length(replace(p, ' the ', ''))) / 5 +
         |          (length(p) - length(replace(p, ' a ', ''))) / 3 +
         |          (length(p) - length(replace(p, ' and ', ''))) / 5 +
         |          (length(p) - length(replace(p, ' of ', ''))) / 4 +
         |          (length(p) - length(replace(p, ' to ', ''))) / 4 +
         |          (length(p) - length(replace(p, ' is ', ''))) / 4)
         |         / nt >= 0.03 THEN 'en'
         |    WHEN length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g')) /
         |         CAST(greatest(length(text), 1) AS DOUBLE) >= 0.9
         |      THEN 'latin_other'
         |    ELSE 'other' END AS lang,
         |    CASE WHEN contains(lower(text), 'i cannot')
         |      OR contains(lower(text), 'i can''t')
         |      OR contains(lower(text), 'i''m sorry')
         |      OR contains(lower(text), 'i am unable')
         |      OR contains(lower(text), 'as an ai')
         |      OR contains(lower(text), 'refuse')
         |      OR contains(lower(text), 'error')
         |      OR contains(lower(text), 'failed')
         |      OR contains(lower(text), '申し訳')
         |      OR contains(lower(text), 'できません')
         |      THEN 1 ELSE 0 END AS r
         |  FROM o)
         |SELECT lang, count(*) AS n_turns,
         |  CAST(sum(r) AS BIGINT) AS n_refusals,
         |  count(DISTINCT CASE WHEN r = 1 THEN conv_id END)
         |    AS n_convs_refusing,
         |  round(CAST(sum(r) AS DOUBLE) / count(*), 6) AS refusal_rate
         |FROM a GROUP BY lang ORDER BY lang""".stripMargin,
    // q117: the q20 whitespace-token contract feeds an exact-integer
    // CASE ladder (no float log2 — its power-of-two boundary rounding
    // is engine-dependent); every integer is CAST to BIGINT to match
    // the Spark longs
    "q117_padding_report" ->
      s"""WITH t AS ($T),
         |c AS (SELECT conv_id,
         |    CAST(sum(len(string_split_regex(trim(text), '\\s+')))
         |      AS BIGINT) AS len
         |  FROM t GROUP BY 1),
         |b AS (SELECT len,
         |    CASE WHEN len <= 16 THEN 16 WHEN len <= 32 THEN 32
         |         WHEN len <= 64 THEN 64 WHEN len <= 128 THEN 128
         |         WHEN len <= 256 THEN 256 WHEN len <= 512 THEN 512
         |         WHEN len <= 1024 THEN 1024 WHEN len <= 2048 THEN 2048
         |         WHEN len <= 4096 THEN 4096 ELSE 8192 END AS bucket_cap
         |  FROM c)
         |SELECT CAST(bucket_cap AS BIGINT) AS bucket_cap,
         |  count(*) AS n_seqs,
         |  CAST(sum(len) AS BIGINT) AS n_tokens,
         |  CAST(bucket_cap * count(*) - sum(len) AS BIGINT) AS n_padding,
         |  round(CAST(bucket_cap * count(*) - sum(len) AS DOUBLE) /
         |    CAST(bucket_cap * count(*) AS DOUBLE), 6) AS waste_share
         |FROM b GROUP BY bucket_cap ORDER BY bucket_cap""".stripMargin,
    // q118: the oracle spells chosen/rejected as explicit ORDER BY
    // row_number windows — pinning that the Spark side's semilattice
    // struct max/min (len, -turn_idx, md5) equals the sort-based
    // definition; turn_idx is unique so no comparison ever reaches the
    // md5 element
    "q118_preference_pairs" -> preferencePairsOracle,
    // q119: token counts are the q20/q117 whitespace contract; the
    // reverse cumulative sum and both per-conversation counts are
    // spelled as the same windows the Spark side plans on one conv_id
    // partitioning
    "q119_context_trim" ->
      s"""WITH t AS ($T),
         |tr AS (SELECT conv_id,
         |    CAST(row_number() OVER (PARTITION BY conv_id
         |      ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         |    role, text FROM t),
         |x AS (SELECT conv_id, turn_idx, role, text,
         |    CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
         |      AS n_tok
         |  FROM tr),
         |c AS (SELECT *,
         |    sum(n_tok) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
         |      ROWS UNBOUNDED PRECEDING) AS cum_from_end,
         |    count(*) OVER (PARTITION BY conv_id) AS n_total
         |  FROM x),
         |k AS (SELECT *, count(*) OVER (PARTITION BY conv_id) AS n_kept
         |  FROM c WHERE cum_from_end <= 96)
         |SELECT conv_id, turn_idx, role, n_tok,
         |  CAST(cum_from_end AS BIGINT) AS cum_from_end,
         |  md5(text) AS text_md5,
         |  CAST(n_total - n_kept AS BIGINT) AS n_dropped
         |FROM k ORDER BY conv_id, turn_idx""".stripMargin,
    // q120: failure matching is lowercase `contains` (no regex); the
    // gap mean is an exact BIGINT sum divided once, so no float
    // accumulation order is in play on either engine
    "q120_tool_reliability" ->
      s"""WITH t AS ($T),
         |tr AS (SELECT conv_id,
         |    CAST(row_number() OVER (PARTITION BY conv_id
         |      ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         |    role, tool, text, epoch_ms(ts) AS ts_ms FROM t),
         |x AS (SELECT conv_id, turn_idx, role, tool, ts_ms,
         |    lead(text) OVER w AS next_text,
         |    lead(ts_ms) OVER w AS next_ts
         |  FROM tr WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
         |c AS (SELECT * FROM x WHERE role = 'tool' AND tool IS NOT NULL)
         |SELECT tool, count(*) AS n_calls,
         |  CAST(sum(CASE WHEN next_text IS NOT NULL AND
         |      (contains(lower(next_text), 'error') OR
         |       contains(lower(next_text), 'failed'))
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_error_follow,
         |  round(CAST(sum(CASE WHEN next_text IS NOT NULL AND
         |      (contains(lower(next_text), 'error') OR
         |       contains(lower(next_text), 'failed'))
         |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6)
         |    AS error_follow_rate,
         |  CAST(count(next_ts) AS BIGINT) AS n_with_next,
         |  round(CAST(sum(CASE WHEN next_ts IS NOT NULL
         |      THEN next_ts - ts_ms ELSE 0 END) AS DOUBLE) /
         |    CAST(nullif(count(next_ts), 0) AS DOUBLE), 3) AS mean_gap_ms
         |FROM c GROUP BY tool ORDER BY tool""".stripMargin,
    // q121: the dup test is the q106 lag() predicate; CASE WHEN
    // reproduces Spark's null-lag → kept semantics at turn 0, and the
    // re-packed index is a row_number over the SAME kept stream
    "q121_loop_collapse" ->
      s"""WITH t AS ($T),
         |tr AS (SELECT conv_id,
         |    CAST(row_number() OVER w - 1 AS INTEGER) AS turn_idx,
         |    role, text,
         |    lag(role) OVER w AS prev_role,
         |    lag(text) OVER w AS prev_text,
         |    count(*) OVER (PARTITION BY conv_id) AS n_total
         |  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)),
         |k AS (SELECT conv_id, turn_idx, role, text, n_total,
         |    CAST(row_number() OVER (PARTITION BY conv_id
         |      ORDER BY turn_idx) - 1 AS INTEGER) AS new_turn_idx,
         |    count(*) OVER (PARTITION BY conv_id) AS n_kept
         |  FROM tr
         |  WHERE CASE WHEN role = prev_role AND text = prev_text
         |    THEN 1 ELSE 0 END = 0)
         |SELECT conv_id, turn_idx, new_turn_idx, role,
         |  md5(text) AS text_md5,
         |  CAST(n_total - n_kept AS BIGINT) AS n_collapsed
         |FROM k ORDER BY conv_id, turn_idx""".stripMargin,
    // q123: string_agg with an explicit ORDER BY reproduces the
    // Spark side's array_sort-inside-the-aggregate render; token
    // count is the q20 whitespace contract over the RENDERED string
    // (template tokens included)
    "q123_sft_render" ->
      s"""WITH t AS ($T),
         |tr AS (SELECT conv_id,
         |    CAST(row_number() OVER w - 1 AS INTEGER) AS turn_idx,
         |    role, text FROM t
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)),
         |r AS (SELECT conv_id, count(*) AS n_turns,
         |    string_agg('<|' || role || '|>' || chr(10) || text,
         |      chr(10) ORDER BY turn_idx) AS rendered
         |  FROM tr GROUP BY conv_id)
         |SELECT conv_id, n_turns,
         |  CAST(len(string_split_regex(trim(rendered), '\\s+'))
         |    AS BIGINT) AS n_tok,
         |  md5(rendered) AS render_md5
         |FROM r ORDER BY conv_id""".stripMargin,
    // q124: per-turn contribution = 1 header token + the q20 token
    // count; offsets are a ROWS-frame running sum over the unique
    // turn_idx order — integer-exact on both engines
    "q124_loss_mask" ->
      s"""WITH t AS ($T),
         |tr AS (SELECT conv_id,
         |    CAST(row_number() OVER w - 1 AS INTEGER) AS turn_idx,
         |    role, text FROM t
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)),
         |x AS (SELECT conv_id, turn_idx, role,
         |    1 + CAST(len(string_split_regex(trim(text), '\\s+'))
         |      AS BIGINT) AS n_tok_turn
         |  FROM tr),
         |c AS (SELECT *,
         |    CAST(sum(n_tok_turn) OVER (PARTITION BY conv_id
         |      ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |      AS end_tok
         |  FROM x)
         |SELECT conv_id, turn_idx, role, n_tok_turn,
         |  CAST(end_tok - n_tok_turn AS BIGINT) AS start_tok, end_tok,
         |  CAST(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END
         |    AS BIGINT) AS mask
         |FROM c ORDER BY conv_id, turn_idx""".stripMargin,
    // q125: window count is exact ceil-division (1 + (max(n-8,0)+3)//4)
    // and the window table is a generate_series lateral — membership
    // can never flip on a float boundary
    "q125_dialogue_windows" ->
      s"""WITH t AS ($T),
         |c AS (SELECT conv_id, count(*) AS n_turns FROM t GROUP BY 1),
         |w AS (SELECT conv_id, n_turns,
         |    CAST(1 + (greatest(n_turns - 8, 0) + 3) // 4 AS BIGINT)
         |      AS n_windows
         |  FROM c)
         |SELECT conv_id, CAST(gs AS BIGINT) AS window_idx,
         |  CAST(gs * 4 AS BIGINT) AS start_turn,
         |  CAST(least(gs * 4 + 8, n_turns) AS BIGINT) AS end_turn,
         |  n_windows
         |FROM w, UNNEST(generate_series(0, n_windows - 1)) AS g(gs)
         |ORDER BY conv_id, window_idx""".stripMargin,
    // q127: the q114 list-intersect machinery on the tool→assistant
    // edge; arrays built after the pair filter on both engines
    "q127_tool_grounding" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id,
         |    CAST(row_number() OVER w - 1 AS INTEGER) AS turn_idx,
         |    role, tool, text,
         |    lead(role) OVER w AS next_role,
         |    lead(text) OVER w AS next_text
         |  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)),
         |p AS (SELECT conv_id, turn_idx, tool,
         |    list_distinct(list_filter(
         |      string_split_regex(trim(text), '\\s+'),
         |      x -> x <> '')) AS ttok,
         |    list_distinct(list_filter(
         |      string_split_regex(trim(next_text), '\\s+'),
         |      x -> x <> '')) AS atok
         |  FROM o WHERE role = 'tool' AND next_role = 'assistant')
         |SELECT conv_id, turn_idx, tool,
         |  CAST(len(ttok) AS BIGINT) AS n_tool_tokens,
         |  CAST(len(atok) AS BIGINT) AS n_resp_tokens,
         |  CAST(len(list_intersect(atok, ttok)) AS BIGINT) AS n_grounded,
         |  round(CAST(len(list_intersect(atok, ttok)) AS DOUBLE) /
         |    greatest(len(atok), 1), 6) AS grounding_ratio
         |FROM p ORDER BY conv_id, turn_idx""".stripMargin,
    // q128: exact substring occurrences via the (len - len(replace))
    // / len(marker) identity — literal match, integer-exact on both
    // engines; the healthy corpus scans to all-zero counts
    "q128_special_tokens" ->
      s"""WITH t AS ($T),
         |m(marker) AS (VALUES ('<<SYS>>'), ('</s>'), ('<' || '|'),
         |    ('[INST]'), ('|' || '>')),
         |x AS (SELECT role, marker,
         |    (length(text) - length(replace(text, marker, ''))) //
         |      length(marker) AS n_occ
         |  FROM t CROSS JOIN m)
         |SELECT role, marker, count(*) AS n_turns,
         |  CAST(sum(CASE WHEN n_occ > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_turns_with,
         |  CAST(sum(n_occ) AS BIGINT) AS n_occurrences,
         |  round(CAST(sum(CASE WHEN n_occ > 0 THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 6) AS rate
         |FROM x GROUP BY 1, 2 ORDER BY role, marker""".stripMargin,
    // q129: the RAW events table in event_id (arrival) order — NOT
    // the ts-sorted transcript CTE; backsteps quantify how much
    // reordering the pipeline's stable sort performs
    "q129_ts_anomalies" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id, epoch_ms(ts) AS ts_ms,
         |    lag(epoch_ms(ts)) OVER (PARTITION BY conv_id
         |      ORDER BY event_id) AS prev_ts
         |  FROM t)
         |SELECT conv_id, count(*) AS n_events,
         |  CAST(sum(CASE WHEN ts_ms < prev_ts THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_backsteps,
         |  CAST(sum(CASE WHEN ts_ms = prev_ts THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_ts_collisions,
         |  CAST(max(CASE WHEN ts_ms < prev_ts THEN prev_ts - ts_ms
         |    ELSE 0 END) AS BIGINT) AS max_backstep_ms,
         |  (sum(CASE WHEN ts_ms < prev_ts THEN 1 ELSE 0 END) > 0 OR
         |   sum(CASE WHEN ts_ms = prev_ts THEN 1 ELSE 0 END) > 0)
         |    AS anomalous
         |FROM o GROUP BY conv_id ORDER BY conv_id""".stripMargin,
    // q130: opener prefix = substr(first turn's text, 1, 24) on both
    // engines (ASCII corpus, char semantics agree); savings are pure
    // integer arithmetic over the group sizes
    "q130_prefix_cache" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id,
         |    CAST(row_number() OVER (PARTITION BY conv_id
         |      ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         |    text FROM t),
         |p AS (SELECT substr(text, 1, 24) AS prefix
         |  FROM o WHERE turn_idx = 0),
         |g AS (SELECT md5(prefix) AS prefix_md5,
         |    CAST(len(string_split_regex(trim(prefix), '\\s+'))
         |      AS BIGINT) AS prefix_n_tok,
         |    count(*) AS n_convs
         |  FROM p GROUP BY 1, 2)
         |SELECT prefix_md5, n_convs, prefix_n_tok,
         |  (n_convs - 1) * prefix_n_tok AS saved_tok
         |FROM g ORDER BY saved_tok DESC, prefix_md5""".stripMargin,
    // q131: the first-user-turn pick is arg_min(text, turn_idx) with a
    // role filter — the explicit-sort spelling of the Spark side's
    // semilattice struct-min, pinning the two selections equal;
    // avgs are exact integer sums / counts on both engines
    "q131_intent_mix" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id,
         |    CAST(row_number() OVER (PARTITION BY conv_id
         |      ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         |    role, text FROM t),
         |c AS (SELECT conv_id, count(*) AS n_turns,
         |    sum(len(string_split_regex(trim(text), '\\s+'))) AS n_tok,
         |    arg_min(text, turn_idx) FILTER (WHERE role = 'user')
         |      AS fu
         |  FROM o GROUP BY conv_id),
         |i AS (SELECT CASE
         |    WHEN fu IS NULL THEN 'no_user'
         |    WHEN starts_with(fu, 'error') THEN 'troubleshooting'
         |    WHEN starts_with(fu, 'purchase')
         |      OR starts_with(fu, 'signup') THEN 'transactional'
         |    WHEN starts_with(fu, 'click')
         |      OR starts_with(fu, 'view') THEN 'navigational'
         |    ELSE 'other' END AS intent,
         |    n_turns, n_tok FROM c)
         |SELECT intent, count(*) AS n_convs,
         |  round(avg(n_turns), 6) AS avg_turns,
         |  round(avg(n_tok), 6) AS avg_tokens
         |FROM i GROUP BY intent ORDER BY intent""".stripMargin,
    // q133: composed from q118's full oracle — the margin bands cannot
    // drift from the pair miner they gate; margins are integer char
    // arithmetic, avgs exact integer sums / counts
    "q133_margin_report" ->
      s"""WITH pp AS ($preferencePairsOracle),
         |b AS (SELECT CASE
         |    WHEN chosen_len - rejected_len = 0 THEN 'b0_zero'
         |    WHEN chosen_len - rejected_len <= 8 THEN 'b1_1_8'
         |    WHEN chosen_len - rejected_len <= 32 THEN 'b2_9_32'
         |    WHEN chosen_len - rejected_len <= 128 THEN 'b3_33_128'
         |    ELSE 'b4_gt128' END AS margin_band,
         |    chosen_len - rejected_len AS m, n_candidates
         |  FROM pp)
         |SELECT margin_band, count(*) AS n_pairs,
         |  round(avg(m), 6) AS avg_margin,
         |  min(m) AS min_margin, max(m) AS max_margin,
         |  round(avg(n_candidates), 6) AS avg_candidates,
         |  CAST(sum(CASE WHEN m >= 9 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_gate_kept
         |FROM b GROUP BY 1 ORDER BY margin_band""".stripMargin,
    // q135: digit-run extraction + set difference on the
    // tool→assistant edge — list built AFTER the pair filter on both
    // engines; a number is grounded iff the exact digit run appears
    // in the tool output
    "q135_ungrounded_numbers" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id,
         |    CAST(row_number() OVER w - 1 AS INTEGER) AS turn_idx,
         |    role, tool, text,
         |    lead(role) OVER w AS next_role,
         |    lead(text) OVER w AS next_text
         |  FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)),
         |p AS (SELECT conv_id, turn_idx, tool,
         |    list_distinct(regexp_extract_all(text, '[0-9]+')) AS tnum,
         |    list_distinct(regexp_extract_all(next_text, '[0-9]+'))
         |      AS anum
         |  FROM o WHERE role = 'tool' AND next_role = 'assistant'),
         |u AS (SELECT conv_id, turn_idx, tool,
         |    CAST(len(anum) AS BIGINT) AS n_nums,
         |    CAST(len(list_filter(anum,
         |      x -> NOT list_contains(tnum, x))) AS BIGINT)
         |      AS n_ungrounded
         |  FROM p)
         |SELECT conv_id, turn_idx, tool, n_nums, n_ungrounded,
         |  round(CAST(n_ungrounded AS DOUBLE) / greatest(n_nums, 1), 6)
         |    AS ungrounded_share,
         |  n_ungrounded > 0 AS has_ungrounded
         |FROM u ORDER BY conv_id, turn_idx""".stripMargin,
    // q145: arg_max by the unique turn_idx ≡ the Spark semilattice
    // struct-max; outcome CASE identical
    "q145_conv_outcome" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id,
         |    CAST(row_number() OVER (PARTITION BY conv_id
         |      ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         |    role, text FROM t),
         |g AS (SELECT conv_id, count(*) AS n_turns,
         |    max(turn_idx) AS last_turn_idx,
         |    arg_max(role, turn_idx) AS last_role,
         |    CAST(arg_max(length(text), turn_idx) AS BIGINT)
         |      AS last_text_len
         |  FROM o GROUP BY conv_id)
         |SELECT conv_id, n_turns, last_turn_idx, last_role,
         |  last_text_len,
         |  CASE WHEN last_role = 'assistant' THEN 'answered'
         |    WHEN last_role = 'user' THEN 'abandoned'
         |    WHEN last_role = 'tool' THEN 'tool_dangling'
         |    ELSE 'other' END AS outcome
         |FROM g ORDER BY conv_id""".stripMargin,
    // q146: arg_min/arg_max user turns by turn_idx, distinct token
    // sets, intersect / distinct-concat union, rounded 1e-6 before
    // the drift threshold
    "q146_topic_drift" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id,
         |    CAST(row_number() OVER (PARTITION BY conv_id
         |      ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         |    role, text FROM t),
         |u AS (SELECT conv_id, count(*) AS n_user_turns,
         |    min(turn_idx) AS first_turn_idx,
         |    max(turn_idx) AS last_turn_idx,
         |    arg_min(text, turn_idx) AS ftext,
         |    arg_max(text, turn_idx) AS ltext
         |  FROM o WHERE role = 'user' GROUP BY conv_id
         |  HAVING count(*) >= 2),
         |j AS (SELECT conv_id, n_user_turns, first_turn_idx,
         |    last_turn_idx,
         |    list_distinct(string_split_regex(trim(ftext), '\\s+'))
         |      AS f,
         |    list_distinct(string_split_regex(trim(ltext), '\\s+'))
         |      AS l
         |  FROM u),
         |k AS (SELECT conv_id, n_user_turns, first_turn_idx,
         |    last_turn_idx,
         |    round(CAST(len(list_intersect(f, l)) AS DOUBLE) /
         |      greatest(len(list_distinct(list_concat(f, l))), 1), 6)
         |      AS jaccard
         |  FROM j)
         |SELECT conv_id, n_user_turns, first_turn_idx, last_turn_idx,
         |  jaccard, jaccard < 0.2 AS drifted
         |FROM k ORDER BY conv_id""".stripMargin,
    // q147: integer x/y make every moment sum an exact double — the
    // slope needs no pre-round discipline; same textbook algebra
    "q147_verbosity_slope" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id,
         |    CAST(row_number() OVER (PARTITION BY conv_id
         |      ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         |    role, text FROM t),
         |a AS (SELECT conv_id, CAST(turn_idx AS DOUBLE) AS x,
         |    CAST(length(text) AS DOUBLE) AS y
         |  FROM o WHERE role = 'assistant'),
         |g AS (SELECT conv_id, count(*) AS n_assistant_turns,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    sum(x) AS sx, sum(y) AS sy,
         |    sum(x * x) AS sxx, sum(x * y) AS sxy
         |  FROM a GROUP BY conv_id HAVING count(*) >= 2),
         |f AS (SELECT conv_id, n_assistant_turns,
         |    round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
         |      AS len_slope,
         |    round(sy / n, 6) AS mean_resp_len
         |  FROM g)
         |SELECT conv_id, n_assistant_turns, len_slope, mean_resp_len,
         |  len_slope > 0.0 AS lengthening
         |FROM f ORDER BY conv_id""".stripMargin,
    // q148: the same lead() pair walk; both texts md5'd before the
    // question-keyed agg; two COUNT(DISTINCT) in one GROUP BY
    "q148_answer_consistency" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id,
         |    CAST(row_number() OVER (PARTITION BY conv_id
         |      ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         |    role, text FROM t),
         |p AS (SELECT conv_id, role, text,
         |    lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
         |      AS next_role,
         |    lead(text) OVER (PARTITION BY conv_id ORDER BY turn_idx)
         |      AS next_text
         |  FROM o),
         |h AS (SELECT md5(text) AS q_md5, md5(next_text) AS a_md5,
         |    conv_id
         |  FROM p WHERE role = 'user' AND next_role = 'assistant'),
         |g AS (SELECT q_md5, count(*) AS n_asks,
         |    count(DISTINCT conv_id) AS n_convs,
         |    count(DISTINCT a_md5) AS n_distinct_answers
         |  FROM h GROUP BY q_md5 HAVING count(*) >= 2)
         |SELECT q_md5, n_asks, n_convs, n_distinct_answers,
         |  round(CAST(n_distinct_answers AS DOUBLE) / n_asks, 6)
         |    AS answer_diversity,
         |  n_distinct_answers = 1 AS consistent
         |FROM g ORDER BY q_md5""".stripMargin,
    // q154: q131's arg_min intent router × q116's marker gate, both
    // verbatim; ONE conv agg then the bounded intent rollup
    "q154_refusal_by_intent" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id,
         |    CAST(row_number() OVER (PARTITION BY conv_id
         |      ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         |    role, text FROM t),
         |c AS (SELECT conv_id,
         |    arg_min(text, turn_idx) FILTER (WHERE role = 'user')
         |      AS fu,
         |    max(CASE WHEN role = 'assistant' AND (
         |      contains(lower(text), 'i cannot')
         |      OR contains(lower(text), 'i can''t')
         |      OR contains(lower(text), 'i''m sorry')
         |      OR contains(lower(text), 'i am unable')
         |      OR contains(lower(text), 'as an ai')
         |      OR contains(lower(text), 'refuse')
         |      OR contains(lower(text), 'error')
         |      OR contains(lower(text), 'failed')
         |      OR contains(lower(text), '申し訳')
         |      OR contains(lower(text), 'できません'))
         |      THEN 1 ELSE 0 END) AS refused
         |  FROM o GROUP BY conv_id),
         |i AS (SELECT CASE
         |    WHEN fu IS NULL THEN 'no_user'
         |    WHEN starts_with(fu, 'error') THEN 'troubleshooting'
         |    WHEN starts_with(fu, 'purchase')
         |      OR starts_with(fu, 'signup') THEN 'transactional'
         |    WHEN starts_with(fu, 'click')
         |      OR starts_with(fu, 'view') THEN 'navigational'
         |    ELSE 'other' END AS intent,
         |    refused FROM c)
         |SELECT intent, count(*) AS n_convs,
         |  CAST(sum(refused) AS BIGINT) AS n_refusing,
         |  round(CAST(sum(refused) AS DOUBLE) / count(*), 6)
         |    AS refusal_conv_rate
         |FROM i GROUP BY intent ORDER BY intent""".stripMargin,
    // q175: q154's conv skeleton + the follows-assistant lag; the
    // correction gate is startsWith (opening speech act), mirrored
    // marker for marker
    "q175_correction_by_intent" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id,
         |    CAST(row_number() OVER (PARTITION BY conv_id
         |      ORDER BY ts, event_id) - 1 AS INTEGER) AS turn_idx,
         |    role, text FROM t),
         |m AS (SELECT *, lag(role) OVER (PARTITION BY conv_id
         |    ORDER BY turn_idx) AS prev_role FROM o),
         |c AS (SELECT conv_id,
         |    arg_min(text, turn_idx) FILTER (WHERE role = 'user')
         |      AS fu,
         |    max(CASE WHEN role = 'user' AND prev_role = 'assistant'
         |      AND (starts_with(lower(text), 'error')
         |        OR starts_with(lower(text), 'retry')
         |        OR starts_with(lower(text), 'wrong')
         |        OR starts_with(lower(text), 'incorrect')
         |        OR starts_with(lower(text), 'try again')
         |        OR starts_with(lower(text), 'actually')
         |        OR starts_with(lower(text), 'no, '))
         |      THEN 1 ELSE 0 END) AS corrected
         |  FROM m GROUP BY conv_id),
         |i AS (SELECT CASE
         |    WHEN fu IS NULL THEN 'no_user'
         |    WHEN starts_with(fu, 'error') THEN 'troubleshooting'
         |    WHEN starts_with(fu, 'purchase')
         |      OR starts_with(fu, 'signup') THEN 'transactional'
         |    WHEN starts_with(fu, 'click')
         |      OR starts_with(fu, 'view') THEN 'navigational'
         |    ELSE 'other' END AS intent,
         |    corrected FROM c)
         |SELECT intent, count(*) AS n_convs,
         |  CAST(sum(corrected) AS BIGINT) AS n_correcting,
         |  round(CAST(sum(corrected) AS DOUBLE) / count(*), 6)
         |    AS correction_conv_rate
         |FROM i GROUP BY intent ORDER BY intent""".stripMargin,
    // q178: q81's gap derivation + q154's arg_min intent key, joined
    // on conv_id; quantile_cont is the established exact-percentile
    // parity (q13/q81)
    "q178_latency_by_intent" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id, role, text, epoch_ms(ts) AS ts_ms,
         |    CAST(row_number() OVER w - 1 AS INTEGER) AS turn_idx,
         |    lag(role) OVER w AS prev_role,
         |    lag(epoch_ms(ts)) OVER w AS prev_ts
         |  FROM t
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)),
         |f AS (SELECT conv_id,
         |    arg_min(text, turn_idx) FILTER (WHERE role = 'user')
         |      AS fu
         |  FROM o GROUP BY conv_id),
         |g AS (SELECT ts_ms - prev_ts AS gap_ms, fu
         |  FROM o JOIN f USING (conv_id)
         |  WHERE role = 'assistant' AND prev_role = 'user'),
         |i AS (SELECT CASE
         |    WHEN fu IS NULL THEN 'no_user'
         |    WHEN starts_with(fu, 'error') THEN 'troubleshooting'
         |    WHEN starts_with(fu, 'purchase')
         |      OR starts_with(fu, 'signup') THEN 'transactional'
         |    WHEN starts_with(fu, 'click')
         |      OR starts_with(fu, 'view') THEN 'navigational'
         |    ELSE 'other' END AS intent,
         |    gap_ms FROM g)
         |SELECT intent, CAST(count(*) AS BIGINT) AS n_gaps,
         |  round(quantile_cont(CAST(gap_ms AS DOUBLE), 0.5), 4)
         |    AS p50_ms,
         |  round(quantile_cont(CAST(gap_ms AS DOUBLE), 0.9), 4)
         |    AS p90_ms,
         |  round(quantile_cont(CAST(gap_ms AS DOUBLE), 0.99), 4)
         |    AS p99_ms,
         |  round(avg(gap_ms), 4) AS mean_ms
         |FROM i GROUP BY intent ORDER BY intent""".stripMargin,
    // q184: length histogram (bounded by max conv depth); at-risk =
    // descending cumulative, survival against the grand total
    "q184_conv_hazard" ->
      s"""WITH t AS ($T),
         |l AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS len
         |  FROM t GROUP BY 1),
         |h AS (SELECT len AS depth, CAST(count(*) AS BIGINT)
         |    AS n_ending
         |  FROM l GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_ending) AS BIGINT) AS n FROM h),
         |a AS (SELECT depth, n_ending,
         |    CAST(sum(n_ending) OVER (ORDER BY depth DESC)
         |      AS BIGINT) AS n_at_risk
         |  FROM h)
         |SELECT depth, n_ending, n_at_risk,
         |  round(CAST(n_ending AS DOUBLE) / n_at_risk, 6) AS hazard,
         |  round(CAST(n_at_risk - n_ending AS DOUBLE) /
         |    (SELECT n FROM tot), 6) AS survival
         |FROM a ORDER BY depth""".stripMargin,
    // q185: q81's gap derivation filtered to tool turns, keyed by the
    // bounded tool vocabulary
    "q185_tool_latency" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id, role, tool, epoch_ms(ts) AS ts_ms,
         |    lag(epoch_ms(ts)) OVER w AS prev_ts
         |  FROM t
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)),
         |g AS (SELECT tool, ts_ms - prev_ts AS gap_ms FROM o
         |  WHERE role = 'tool' AND prev_ts IS NOT NULL)
         |SELECT tool, CAST(count(*) AS BIGINT) AS n_calls,
         |  round(quantile_cont(CAST(gap_ms AS DOUBLE), 0.5), 4)
         |    AS p50_ms,
         |  round(quantile_cont(CAST(gap_ms AS DOUBLE), 0.9), 4)
         |    AS p90_ms,
         |  round(quantile_cont(CAST(gap_ms AS DOUBLE), 0.99), 4)
         |    AS p99_ms,
         |  round(avg(gap_ms), 4) AS mean_ms
         |FROM g GROUP BY tool ORDER BY tool""".stripMargin,
    // q188: epoch-ms integer dow/hour (epoch day 0 = Thursday → +4
    // mod 7 = Sunday-based), floor-mod so pre-1970 ts stay in range
    // (md = ms of day); conv start = rn 1 under the turn_idx window;
    // share against the grand turn total
    "q188_hour_of_week" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id, role, epoch_ms(ts) AS ts_ms,
         |    ((epoch_ms(ts) % 86400000) + 86400000) % 86400000 AS md,
         |    row_number() OVER (PARTITION BY conv_id
         |      ORDER BY ts, event_id) AS rn
         |  FROM t),
         |c AS (SELECT (((ts_ms - md) // 86400000 + 4) % 7 + 7) % 7 AS dow,
         |    md // 3600000 AS hour,
         |    CAST(count(*) AS BIGINT) AS n_turns,
         |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_conv_starts,
         |    CAST(sum(CASE WHEN role = 'tool' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_tool_turns
         |  FROM o GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(n_turns) AS BIGINT) AS n FROM c)
         |SELECT dow, hour, n_turns, n_conv_starts, n_tool_turns,
         |  round(CAST(n_turns AS DOUBLE) / (SELECT n FROM tot), 6)
         |    AS turn_share
         |FROM c ORDER BY dow, hour""".stripMargin,
    // q193: Gini from exact integer rank sums (ascending row_number ×
    // length), top-k shares from the descending ranks with integer
    // ceil; final divisions are the only doubles
    "q193_conv_concentration" ->
      s"""WITH t AS ($T),
         |l AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS len
         |  FROM t GROUP BY 1),
         |r AS (SELECT len,
         |    row_number() OVER (ORDER BY len ASC) AS i,
         |    row_number() OVER (ORDER BY len DESC) AS j
         |  FROM l),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(len) AS BIGINT) AS total,
         |    CAST(sum(i * len) AS BIGINT) AS s1 FROM r)
         |SELECT n AS n_convs, total AS n_turns,
         |  round(2.0 * s1 / (n * total) - (n + 1.0) / n, 6) AS gini,
         |  round(CAST((SELECT sum(len) FROM r
         |      WHERE j <= (SELECT (n + 99) // 100 FROM s)) AS DOUBLE)
         |    / total, 6) AS top1pct_share,
         |  round(CAST((SELECT sum(len) FROM r
         |      WHERE j <= (SELECT (n + 9) // 10 FROM s)) AS DOUBLE)
         |    / total, 6) AS top10pct_share
         |FROM s""".stripMargin,
    // q194: ordered-turn digest per conv (chr(1)-joined, the Spark
    //  separator), replay stripe, hash-keyed clusters >1;
    // 'conv-…' < 'dup-…' keeps the original as canonical
    "q194_dup_conversations" ->
      s"""WITH t AS ($T),
         |c AS (SELECT conv_id,
         |    string_agg(text, chr(1) ORDER BY ts, event_id) AS body
         |  FROM t GROUP BY 1),
         |u AS (SELECT conv_id, body FROM c
         |  UNION ALL
         |  SELECT 'dup-' || conv_id, body FROM c
         |  WHERE CAST(substr(conv_id, 6) AS BIGINT) % 9 = 0)
         |SELECT md5(body) AS conv_hash,
         |  CAST(count(*) AS BIGINT) AS n_convs,
         |  min(conv_id) AS canonical
         |FROM u GROUP BY 1 HAVING count(*) > 1
         |ORDER BY conv_hash""".stripMargin,
    // q195: the q21 language CASE per turn, (conv, lang) counts,
    // majority = ORDER BY cnt DESC, lang DESC first row (the Spark
    // max-struct semilattice), mixed = ≥2 distinct turn languages
    "q195_conv_lang_mix" ->
      s"""WITH t AS ($T),
         |f AS (SELECT conv_id, text,
         |    ' ' || lower(text) || ' ' AS p,
         |    greatest(len(string_split_regex(trim(text), '\\s+')), 1)
         |      AS nt
         |  FROM t),
         |l AS (SELECT conv_id, CASE
         |    WHEN regexp_matches(text,
         |      '[\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}]') THEN 'cjk'
         |    WHEN (${TrainingDataQueries.stopHitsSql("p")}) / nt >= 0.03
         |      THEN 'en'
         |    WHEN length(regexp_replace(text, '[^\\x00-\\x7F]', '', 'g'))
         |        / CAST(greatest(length(text), 1) AS DOUBLE) >= 0.9
         |      THEN 'latin_other'
         |    ELSE 'other' END AS lang
         |  FROM f),
         |g AS (SELECT conv_id, lang, count(*) AS cnt
         |  FROM l GROUP BY 1, 2),
         |m AS (SELECT conv_id, lang,
         |    row_number() OVER (PARTITION BY conv_id
         |      ORDER BY cnt DESC, lang DESC) AS rn,
         |    count(*) OVER (PARTITION BY conv_id) AS nl
         |  FROM g)
         |SELECT lang AS majority_lang, (nl > 1) AS is_mixed,
         |  CAST(count(*) AS BIGINT) AS n_convs
         |FROM m WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q196: integer-exact decile bucket (10·u div (u+a)) over per-conv
    // user/assistant token sums; shares against the conv total
    "q196_role_balance" ->
      s"""WITH t AS ($T),
         |p AS (SELECT conv_id,
         |    CAST(sum(CASE WHEN role = 'user' THEN
         |      len(string_split_regex(trim(text), '\\s+'))
         |      ELSE 0 END) AS BIGINT) AS u,
         |    CAST(sum(CASE WHEN role = 'assistant' THEN
         |      len(string_split_regex(trim(text), '\\s+'))
         |      ELSE 0 END) AS BIGINT) AS a
         |  FROM t WHERE role IN ('user', 'assistant') GROUP BY 1),
         |b AS (SELECT (10 * u) // (u + a) AS bucket FROM p
         |  WHERE u + a > 0),
         |h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_convs
         |  FROM b GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_convs) AS BIGINT) AS n FROM h)
         |SELECT bucket, n_convs,
         |  round(CAST(n_convs AS DOUBLE) / (SELECT n FROM tot), 6)
         |    AS share
         |FROM h ORDER BY bucket""".stripMargin,
    // q197: the q26 regexes over the stripe-injected text, attributed
    // to role; turn_idx mirrors the transcripts row_number derivation
    "q197_pii_by_role" ->
      s"""WITH t AS ($T),
         |o AS (SELECT role, text,
         |    row_number() OVER (PARTITION BY conv_id
         |      ORDER BY ts, event_id) - 1 AS turn_idx
         |  FROM t),
         |i AS (SELECT role, text ||
         |    CASE WHEN turn_idx % 11 = 3
         |      THEN ' contact support@example.com' ELSE '' END ||
         |    CASE WHEN turn_idx % 13 = 5
         |      THEN ' call 555-0199' ELSE '' END AS text
         |  FROM o),
         |c AS (SELECT role,
         |    CAST(len(regexp_extract_all(text,
         |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         |      AS BIGINT) AS ne,
         |    CAST(len(regexp_extract_all(text,
         |      '\\b[0-9]{3}-[0-9]{4}\\b')) AS BIGINT) AS np
         |  FROM i),
         |g AS (SELECT role, CAST(count(*) AS BIGINT) AS n_turns,
         |    CAST(sum(ne) AS BIGINT) AS n_emails,
         |    CAST(sum(np) AS BIGINT) AS n_phones,
         |    CAST(sum(CASE WHEN ne + np > 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_turns_with_pii
         |  FROM c GROUP BY 1)
         |SELECT role, n_turns, n_emails, n_phones, n_turns_with_pii,
         |  round(CAST(n_turns_with_pii AS DOUBLE) /
         |    CAST(n_turns AS DOUBLE), 6) AS pii_turn_share
         |FROM g ORDER BY role""".stripMargin,
    // q199: q81's gap walk keyed by q188's epoch-ms (dow, hour)
    // arithmetic; quantile_cont parity on the bounded cell set
    "q199_latency_by_hour" ->
      s"""WITH t AS ($T),
         |o AS (SELECT conv_id, role, epoch_ms(ts) AS ts_ms,
         |    ((epoch_ms(ts) % 86400000) + 86400000) % 86400000 AS md,
         |    lag(role) OVER w AS prev_role,
         |    lag(epoch_ms(ts)) OVER w AS prev_ts
         |  FROM t
         |  WINDOW w AS (PARTITION BY conv_id ORDER BY ts, event_id)),
         |g AS (SELECT (((ts_ms - md) // 86400000 + 4) % 7 + 7) % 7 AS dow,
         |    md // 3600000 AS hour,
         |    ts_ms - prev_ts AS gap_ms
         |  FROM o WHERE role = 'assistant' AND prev_role = 'user')
         |SELECT dow, hour, CAST(count(*) AS BIGINT) AS n_gaps,
         |  round(quantile_cont(CAST(gap_ms AS DOUBLE), 0.5), 4)
         |    AS p50_ms,
         |  round(quantile_cont(CAST(gap_ms AS DOUBLE), 0.9), 4)
         |    AS p90_ms,
         |  round(avg(gap_ms), 4) AS mean_ms
         |FROM g GROUP BY 1, 2 ORDER BY dow, hour""".stripMargin)
}
