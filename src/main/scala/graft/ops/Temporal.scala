package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators for log/telemetry pipelines — principally
  * the AS-OF join ("attach the latest dimension state at-or-before
  * each fact row's timestamp"), which Spark has no native operator for
  * (a `r.ts <= e.ts` theta join explodes into a nested loop). Two
  * implementations with opposite scale profiles:
  *
  *  - [[asofJoinBroadcast]] — right side is a DIMENSION (config/rate
  *    change history, bounded size): per-key history collapses into
  *    one ts-sorted array row, broadcast; the fact side is NEVER
  *    shuffled and each row does one compiled O(log n) binary search
  *    (graft.functions.AsofLookup). Immune to key skew.
  *  - [[asofJoinMerge]] — right side is LARGE but the key is
  *    high-cardinality (per-user / per-conversation state): union both
  *    sides tagged, ONE shuffle on the key, and a single window pass
  *    carries the last change value forward onto fact rows. Classic
  *    sorted-merge as-of; key cardinality provides the parallelism, so
  *    do NOT use it for low-cardinality keys (one window partition per
  *    key = one task per key).
  *
  * Both give identical `<=` semantics (a change at exactly the fact's
  * timestamp IS visible) and an identical null contract — change rows
  * with a null key, null ts, or null VALUE are IGNORED (a null-key
  * fact never matches anything; note a plain DuckDB ASOF JOIN would
  * match a null-valued change, so a mirroring oracle must drop
  * all-null change groups explicitly — q07's does via HAVING);
  * equality is asserted in OpsSpec. Callers must dedup the change
  * side to one row per (key, ts) first — with duplicates the merge
  * variant's pick among equal timestamps is unspecified.
  */
object Temporal {

  private def cleanChanges(changes: DataFrame, key: String,
      tsCol: String, valCol: String): DataFrame =
    changes
      .filter(col(key).isNotNull && col(tsCol).isNotNull &&
        col(valCol).isNotNull)
      // pin the kernel's expected physical layout (AsofLookup reads
      // long/double slots; the merge window compares the same types)
      .select(col(key), col(tsCol).cast("long").as(tsCol),
        col(valCol).cast("double").as(valCol))

  private def requireFree(facts: DataFrame, cols: String*): Unit =
    // case-insensitive: Spark's default resolver is, so withColumn
    // would replace a case-differing column the exact match misses
    cols.foreach(c =>
      require(!facts.columns.exists(_.equalsIgnoreCase(c)),
        s"facts must not already have a $c column"))

  /** Broadcast-dimension as-of join. Adds `valCol` (nullable — null
    * when the key has no change at-or-before the row's ts, or no
    * changes at all) to `facts`. `changes` needs (key, tsCol, valCol)
    * with valCol castable to double. */
  def asofJoinBroadcast(
      facts: DataFrame, changes: DataFrame, key: String,
      tsCol: String, valCol: String): DataFrame = {
    // valCol too: a pre-existing facts column of that name would be
    // silently overwritten by the withColumn below
    requireFree(facts, "_changes", valCol)
    val dim = cleanChanges(changes, key, tsCol, valCol)
      .groupBy(key)
      // struct sorts by field order → ts-ascending history
      .agg(array_sort(collect_list(struct(col(tsCol).as("ts"),
        col(valCol).as("v")))).as("_changes"))
    facts.join(broadcast(dim), Seq(key), "left")
      .withColumn(valCol,
        graft.functions.asof_lookup(col("_changes"),
          col(tsCol).cast("long")))
      .drop("_changes")
  }

  /** Sorted-merge as-of join for high-cardinality keys: one shuffle on
    * `key`, change rows sort before fact rows at equal ts (side 0 < 1)
    * so `<=` semantics fall out of last(ignoreNulls) over the ordered
    * window. */
  def asofJoinMerge(
      facts: DataFrame, changes: DataFrame, key: String,
      tsCol: String, valCol: String): DataFrame = {
    requireFree(facts, "_side", "_chg", valCol)
    // cleanChanges truncates change timestamps to long; re-cast them to
    // the FACT side's ts type so the union resolves for any fact ts
    // type (timestamp/double/long) instead of relying on implicit
    // coercion that can fail or widen the fact column
    val factTsType = facts.schema(facts.columns.indexWhere(
      _.equalsIgnoreCase(tsCol))).dataType
    val tagged = facts
      .withColumn("_side", lit(1))
      .unionByName(
        cleanChanges(changes, key, tsCol, valCol)
          .withColumn(tsCol, col(tsCol).cast(factTsType))
          .withColumnRenamed(valCol, "_chg")
          .withColumn("_side", lit(0)),
        allowMissingColumns = true)
    // order by the LONG-truncated ts, matching asofJoinBroadcast's
    // cast("long") at lookup time — without this, a fractional fact ts
    // (100.3) compared against a truncated change ts (100.7 → 100)
    // makes the two variants disagree at sub-unit boundaries; with it
    // both variants compare identical truncated values, so the
    // documented equivalence holds for every input ts type
    val w = Window.partitionBy(key)
      .orderBy(col(tsCol).cast("long"), col("_side"))
    tagged
      .withColumn(valCol,
        // Window.partitionBy groups null keys together (unlike the
        // broadcast join) — mask their facts back to null explicitly
        when(col(key).isNull, lit(null).cast("double"))
          .otherwise(last(col("_chg"), ignoreNulls = true).over(w)))
      .filter(col("_side") === 1)
      .drop("_side", "_chg")
  }

  /** Batch gap-based sessionization: group each key's events into
    * sessions separated by idle gaps > gapMs (a gap of EXACTLY gapMs
    * continues the session; pinned by OpsSpec "gap sessions").
    *
    * Shape: the classic lag → session-start flag → running sum →
    * aggregate, ONE shuffle on the key and two window passes over it
    * (Spark plans both windows and the final aggregate on the same
    * hash partitioning — no re-exchange). Key cardinality provides the
    * parallelism (one window partition per key), so like
    * [[asofJoinMerge]] this is a HIGH-cardinality-key operator:
    * per-user/per-conversation sessions scale; a single global
    * event stream does not (one task).
    *
    * Output: (key, session_seq [1-based per key], n_events,
    * first_ts_ms, last_ts_ms).
    */
  def gapSessions(
      events: DataFrame, key: String, tsCol: String,
      gapMs: Long): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(tsCol))
    events
      .select(col(key), col(tsCol).cast("long").as(tsCol))
      .filter(col(key).isNotNull && col(tsCol).isNotNull)
      .withColumn("_prev", lag(col(tsCol), 1).over(w))
      .withColumn("_new_s",
        when(col("_prev").isNull ||
          col(tsCol) - col("_prev") > gapMs, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("_new_s")).over(w))
      .groupBy(col(key), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("first_ts_ms"),
        max(col(tsCol)).as("last_ts_ms"))
  }

  /** Ordered-sequence funnel: for each step i of `steps`, the number
    * of keys (users) that performed step i STRICTLY AFTER their
    * earliest qualifying occurrence of step i−1 (the classic
    * view→click→purchase conversion funnel; strict `>` means a
    * same-millisecond pair does not count as progression — ties are
    * order-ambiguous in an event log).
    *
    * Shape: the relational min-timestamp cascade — stage i is
    * `events[type=step_i] ⋈_key stage_{i−1}` filtered to
    * `ts > reach_ts`, reduced by groupBy(key).min(ts). Every join is
    * key-equi (co-partitioned on the same key hash, so AQE reuses one
    * exchange per side and skew-splits hot users), and each stage's
    * output is ≤ one row per key that reached it — monotonically
    * shrinking. The step-typed event slices come from one persisted
    * pre-filter of the raw stream (events not matching any step never
    * enter the cascade). Counts are eager single-row aggregates of
    * the per-key stage tables (k bounded driver actions, k = number
    * of steps); conversion rates are exact small-integer divisions in
    * the literal k-row report.
    *
    * Output: (step_idx [1-based], step, n_keys, conv_from_prev,
    * conv_from_first), ordered by step_idx.
    */
  def funnel(events: DataFrame, key: String, tsCol: String,
      typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val relevant = graft.ops.Dedup.persistOnce(
      events
        .select(col(key), col(tsCol).cast("long").as(tsCol),
          col(typeCol))
        .filter(col(key).isNotNull && col(tsCol).isNotNull &&
          col(typeCol).isin(steps.map(x => x: Any): _*)))
    def slice(step: String): DataFrame =
      relevant.filter(col(typeCol) === step).select(col(key), col(tsCol))
    val first = slice(steps.head)
      .groupBy(col(key)).agg(min(col(tsCol)).as("reach_ts"))
    val stages = steps.tail.scanLeft(first) { (prev, step) =>
      slice(step).as("e")
        .join(prev.as("p"), col(s"e.$key") === col(s"p.$key"))
        .filter(col(s"e.$tsCol") > col("p.reach_ts"))
        .groupBy(col(s"e.$key").as(key))
        .agg(min(col(s"e.$tsCol")).as("reach_ts"))
    }
    // per-stage counts: one single-row aggregate per step (bounded by
    // the literal step list — the q19 scalar-agg pattern, never a
    // partition-less window). Each stage table is read twice (its own
    // count + the next stage's join side), so persist once. The k-row
    // report with its exact small-integer rate divisions is then a
    // literal local relation — zero further cluster work.
    val cached = stages.map(graft.ops.Dedup.persistOnce)
    val ns = cached.map(_.agg(count(lit(1))).head().getLong(0))
    def r6(x: Double): Double =
      if (x.isNaN) x
      else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val spark = events.sparkSession
    import spark.implicits._
    val rows = steps.zipWithIndex.map { case (step, i) =>
      val prev = if (i == 0) ns(0) else ns(i - 1)
      val convPrev =
        if (i == 0) 1.0
        else if (prev == 0L) Double.NaN
        else ns(i).toDouble / prev.toDouble
      val convFirst =
        if (ns(0) == 0L) Double.NaN
        else ns(i).toDouble / ns(0).toDouble
      (i + 1, step, ns(i), r6(convPrev), r6(convFirst))
    }
    rows.toDF("step_idx", "step", "n_keys", "conv_from_prev",
      "conv_from_first")
  }
}
