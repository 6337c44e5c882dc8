package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative graph analytics over corpus-derived edge tables (the
  * [[Similarity.knnGraph]] output): PageRank-style link analysis is
  * how a curation pipeline scores document centrality/influence for
  * sampling and dedup-representative choices (cf. web-graph quality
  * signals in C4/CCNet-descendant pipelines).
  */
object GraphOps {

  /** Total rank mass in fixed-point units: 1e12 picos = 1.0. */
  private val S = 1000000000000L

  /** Fixed-iteration PageRank with damping `alpha` (a percentage, so
    * damping stays rational) and uniform dangling-mass redistribution,
    * computed in FIXED-POINT: all rank mass lives in integer picos
    * (1e12 = 1.0), shares are integer divisions, and per-node
    * contributions are exact integer sums.
    *
    * Why fixed-point: float PageRank puts `pr/outdeg` values on
    * decimal-grid midpoints (rank values are round()-quantized, out
    * degrees are small integers), so cross-engine double rounding
    * flips the last digit per engine — the q65 half-boundary trap,
    * measured live on this operator's first float cut. Integer
    * arithmetic is summation-order-immune and engine-exact by
    * construction; each floor division leaks <1 pico per edge per
    * round, deterministically, which for centrality RANKING is noise
    * ~1e-9 of total mass. The one double in the result —
    * `pagerank = pr_pico / 1e12` — is a single exact-input division,
    * identical in any IEEE engine.
    *
    * Spark shape — ONE action and TWO exchanges per round, with every
    * reusable partitioning paid once up front:
    *
    *  - the edge table is repartitioned on `src` ONCE before the loop
    *    and persisted, so every round's contribution join reuses that
    *    exchange (the 100-TB deployment buckets the edge table on src
    *    for exactly this reason); only the fresh rank vector shuffles
    *    to meet it;
    *  - `outdeg` rides IN the rank vector (null = dangling), so the
    *    round needs no separate degree join and the dangling-mass
    *    scalar is a filter-sum over the vector itself;
    *  - the node/degree frame is pre-partitioned on `vec_id` and
    *    persisted, so rebuilding the rank vector from the
    *    groupBy(dst) output (already hash(vec_id)) adds no exchange;
    *  - each round's single driver action is the dangling-mass agg
    *    over the NEW vector — it materializes the round's persist and
    *    hands back the one bounded long the NEXT round's base term
    *    needs (the final round's call is the materialization step);
    *  - the superseded rank vector is unpersisted as soon as its
    *    successor is materialized, and every 8th round the vector is
    *    eagerly localCheckpoint'ed instead of persisted so the logical
    *    plan cannot double per round at production iteration counts
    *    (10–50) — the [[Dedup.connectedComponents]] loop discipline.
    *
    * The returned frame is an eager localCheckpoint snapshot, so the
    * loop leaves NOTHING in the session cache (the OpsSpec
    * cache-hygiene test pins this); checkpoint blocks are released by
    * the ContextCleaner when the result is GC'd.
    *
    * Returns (vec_id, pagerank_pico, pagerank) for every node. */
  def pageRank(nodes: DataFrame, edges: DataFrame,
      alphaPct: Long = 85L, iters: Int = 3): DataFrame = {
    require(alphaPct > 0 && alphaPct < 100, s"alphaPct $alphaPct")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // SCALE-ADAPTIVE partition count for the loop's cached tables
    // (guide §2: derive from input size, never a constant): a cached
    // table's partitioning is frozen at materialization — AQE cannot
    // re-coalesce it per round — so sizing it off spark.sql.shuffle
    // .partitions makes every one of the ~6 stages per round carry
    // that many tasks regardless of graph size. Target ~500k edges
    // per partition, capped at the default parallelism.
    val eRaw = edges.select(col("src"), col("dst")).persist(lvl)
    val nEdges = eRaw.count()
    val spark = nodes.sparkSession
    val nParts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      (nEdges + 499999L) / 500000L)).toInt
    val e = eRaw.repartition(nParts, col("src")).persist(lvl)
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val nd = nodes.select(col("vec_id"))
      .join(deg, col("vec_id") === col("src"), "left")
      .select(col("vec_id"), col("outdeg"))
      .repartition(nParts, col("vec_id")).persist(lvl)
    val nN = nd.count() // one setup action; materializes nd AND e
    eRaw.unpersist() // e holds the edges from here on
    // rank parked on nodes with no out-edges; the ONE driver action
    // per round (materializes df as a side effect of scanning it)
    def danglingMass(df: DataFrame): Long =
      df.agg(coalesce(sum(when(col("outdeg").isNull, col("pr"))),
        lit(0L)).as("dang")).head.getLong(0)
    var r = nd.select(col("vec_id"), col("outdeg"),
      lit(S / nN).as("pr")).persist(lvl)
    var dang = danglingMass(r)
    for (i <- 1 to iters) {
      val base = S * (100L - alphaPct) / 100L / nN +
        dang * alphaPct / 100L / nN
      val contrib = e
        .join(r.withColumnRenamed("vec_id", "src"), Seq("src"))
        .groupBy(col("dst").as("vec_id"))
        .agg(sum(expr("pr div outdeg")).as("c"))
      val nextRaw = nd
        .join(contrib, Seq("vec_id"), "left")
        .select(col("vec_id"), col("outdeg"),
          (lit(base) +
            expr(s"coalesce(c, 0L) * $alphaPct div 100"))
            .as("pr"))
      val next =
        if (i % 8 == 0) nextRaw.localCheckpoint(true)
        else nextRaw.persist(lvl)
      dang = danglingMass(next)
      Dedup.freeRound(r)
      r = next
    }
    val out = r.select(col("vec_id"), col("pr").as("pagerank_pico"),
      (col("pr") / lit(1.0e12)).as("pagerank"))
      .localCheckpoint(true)
    Dedup.freeRound(r); nd.unpersist(); e.unpersist()
    out
  }
}
