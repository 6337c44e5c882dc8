package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - [[bruteForceTopK]]: exact cosine top-k — the correctness
  *    baseline. Query side is broadcast (queries ≪ corpus), so the
  *    corpus streams through one codegen'd stage; cost O(|Q|·N·d).
  *  - [[ivfTopK]]: IVF-style scale path — the corpus is partitioned by
  *    a coarse quantizer cell (here the `label` column; in production
  *    a k-means assignment), and each query probes only its cell(s):
  *    cost drops by the cell fan-out; the cell column doubles as the
  *    partition key so a real deployment prunes parquet partitions.
  *  - [[lshTopK]]: random-hyperplane LSH — signatures from sign(v·h_i)
  *    with deterministic hyperplanes derived from FNV hashes; bucket
  *    join then exact re-rank inside buckets.
  *
  * Ranks are computed on round(cos, 6) with id tie-break so ordering
  * is reproducible across engines (bit-identical doubles + stable
  * ties).
  */
object Similarity {

  private def ranked(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("cos_sim"))
  }

  private def withNorm(df: DataFrame, vecCol: String, out: String) =
    df.withColumn(out, sqrt(graft.functions.vec_norm2(col(vecCol))))

  private def cosPrecomputed(qe: String, ce: String, na: String,
      nb: String) =
    round(graft.functions.vec_dot(col(qe), col(ce)) /
      (col(na) * col(nb)), 6).as("cos_sim")

  /** Exact top-k neighbors for each query vector (default: queries are
    * the vectors with vec_id < nQueries). Norms precomputed per side;
    * per-pair work is one codegen'd dot product. */
  def bruteForceTopK(
      embeddings: DataFrame, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val q = withNorm(embeddings.filter(col("vec_id") < nQueries),
      "embedding", "nq")
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nq"))
    val c = withNorm(embeddings, "embedding", "nc")
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
        col("nc"))
    val pairs = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosPrecomputed("qe", "ce", "nq", "nc"))
    ranked(pairs, k).orderBy(col("query_id"), col("rank"))
  }

  /** IVF-style: probe only the query's own coarse cell. */
  def ivfTopK(
      embeddings: DataFrame, cellCol: String = "label", k: Int = 5,
      nQueries: Int = 10): DataFrame = {
    val q = withNorm(embeddings.filter(col("vec_id") < nQueries),
      "embedding", "nq")
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nq"), col(cellCol).as("cell"))
    val c = withNorm(embeddings, "embedding", "nc")
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
        col("nc"), col(cellCol).as("cell"))
    val pairs = c.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosPrecomputed("qe", "ce", "nq", "nc"))
    ranked(pairs, k).orderBy(col("query_id"), col("rank"))
  }

  /** Random-hyperplane LSH: nPlanes sign bits → bucket; candidates
    * share a bucket; exact cosine re-rank within buckets. May return
    * fewer than k neighbors for sparse buckets (standard ANN recall
    * trade-off). Hyperplanes are the driver-inlined ±1 literal matrix
    * of [[Hyperplanes]] (md5-derived), so the DuckDB oracle reproduces
    * the buckets bit-for-bit — and the per-row cost is one codegen'd
    * dot product per plane instead of the interpreted HOF chain. */
  def lshTopK(
      embeddings: DataFrame, nPlanes: Int = 8, k: Int = 5,
      nQueries: Int = 10, dim: Int = 64): DataFrame = {
    val sigBits = Hyperplanes.bucket(col("embedding"), nPlanes, dim)
    val withSig = withNorm(embeddings.withColumn("bucket", sigBits),
      "embedding", "nrm")
    val q = withSig.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("nq"), col("bucket"))
    val c = withSig.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), col("nrm").as("nc"), col("bucket"))
    val pairs = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosPrecomputed("qe", "ce", "nq", "nc"))
    ranked(pairs, k).orderBy(col("query_id"), col("rank"))
  }

  /** Hard-negative mining for contrastive training: for each anchor
    * (vec_id < nQueries), the k most-similar vectors whose LABEL
    * differs — the near-miss negatives that make InfoNCE batches
    * informative. Candidate generation is the [[lshTopK]] sign-LSH
    * bucket join (anchors broadcast, corpus never shuffles) with the
    * label-mismatch predicate fused into the join filter, so same-label
    * rows drop before the dot product is evaluated. nPlanes defaults
    * coarser than lshTopK's (16 buckets, not 256): hard negatives live
    * near the anchor's decision boundary, and a coarser partition keeps
    * cross-label candidates in-bucket at realistic label-cluster
    * geometry. Scale: one broadcast of nQueries rows, one narrow scan,
    * one (query-bounded) top-k window — same 100-TB shape as q42. */
  def hardNegatives(
      embeddings: DataFrame, nPlanes: Int = 4, k: Int = 5,
      nQueries: Int = 10, dim: Int = 64): DataFrame = {
    val sigBits = Hyperplanes.bucket(col("embedding"), nPlanes, dim)
    val withSig = withNorm(embeddings.withColumn("bucket", sigBits),
      "embedding", "nrm")
    val q = withSig.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("nq"), col("label").as("query_label"),
        col("bucket"))
    val c = withSig.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), col("nrm").as("nc"),
      col("label").as("neighbor_label"), col("bucket"))
    val pairs = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id") &&
        col("query_label") =!= col("neighbor_label"))
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), cosPrecomputed("qe", "ce", "nq", "nc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("query_label"), col("neighbor_id"),
        col("neighbor_label"), col("rank"), col("cos_sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Approximate kNN graph over the WHOLE corpus — the clustering /
    * SemDeDup / graph-based-curation building block (every vector gets
    * its k nearest in-bucket neighbors, not just a broadcast query
    * set). Within-bucket all-pairs via a bucket-keyed self equi-join.
    *
    * Scale: the join is a plain shuffle equi-join on the bucket key —
    * the corpus moves once per side, and within-bucket cost is
    * Σ|bucket|², so nPlanes is THE knob: buckets (2^nPlanes of them)
    * must be sized so |bucket|² work and memory fit a task (at
    * web scale that means 16–24 planes, not this demo's 4; hot buckets
    * beyond that are AQE-skew-split). The signature table is persisted
    * — both self-join sides read it (the q33 lesson). Top-k is a
    * window partitioned by the source vector: billions of small
    * partitions, never a global sort.
    */
  def knnGraph(embeddings: DataFrame, nPlanes: Int = 4, k: Int = 3,
      dim: Int = 64): DataFrame = {
    val withSig = Dedup.persistOnce(
      withNorm(embeddings.withColumn("bucket",
        Hyperplanes.bucket(col("embedding"), nPlanes, dim)),
        "embedding", "nrm"))
    val a = withSig.select(col("vec_id").as("src"),
      col("embedding").as("ea"), col("nrm").as("na"), col("bucket"))
    val b = withSig.select(col("vec_id").as("dst"),
      col("embedding").as("eb"), col("nrm").as("nb"), col("bucket"))
    val pairs = a.join(b, Seq("bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        round(graft.functions.vec_dot(col("ea"), col("eb")) /
          (col("na") * col("nb")), 6).as("cos_sim"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos_sim").desc, col("dst").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src"), col("dst"), col("rank"), col("cos_sim"))
  }

  /** Per-group embedding centroids + cosine-to-centroid outlier
    * detection — the domain-drift / mislabeled-sample curation stage:
    * vectors far from their own `label` group's mean direction are
    * flagged (`cos_centroid < mean − 2σ` within the group).
    *
    * Scale: the centroid "training" explodes the vector stream once
    * into (group, dim) partial sums — map-side combine bounds the
    * shuffle at groups×dims rows per task, and the reduced table is
    * bounded, NOT corpus-sized (the AQE-stats shape). Centroids
    * rebuild into ordered arrays on that bounded table and broadcast
    * back, so scoring is one narrow zip-fold pass over the corpus; the
    * per-group 2σ thresholds are a second bounded agg over the
    * (persisted) scores, also broadcast. The corpus itself never
    * shuffles. Centroid components and cosines round to 1e-6 so both
    * stages are engine-reproducible (same rationale as the ANN
    * cosines); thresholds likewise.
    */
  def centroidOutliers(embs: DataFrame): DataFrame = {
    val cent = embs
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("v").cast("double")), 6).as("cv"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("cv")))),
        s => s.getField("cv")).as("centroid"))
    val dot = aggregate(
      zip_with(col("embedding"), col("centroid"),
        (a, b) => a.cast("double") * b),
      lit(0.0), (acc, x) => acc + x)
    val normC = sqrt(aggregate(col("centroid"), lit(0.0),
      (acc, x) => acc + x * x))
    val normE = sqrt(graft.functions.vec_norm2(col("embedding")))
    val scored = Dedup.persistOnce(
      embs.join(broadcast(cent), Seq("label"))
        .select(col("vec_id"), col("label"),
          round(dot / (normE * normC), 6).as("cos_centroid")))
    val thr = scored.groupBy(col("label"))
      .agg(round(avg(col("cos_centroid")) -
        lit(2.0) * stddev_samp(col("cos_centroid")), 6).as("thr"))
    scored.join(broadcast(thr), Seq("label"))
      .select(col("vec_id"), col("label"),
        col("cos_centroid"),
        (col("cos_centroid") < col("thr")).as("is_outlier"))
  }

  /** Deterministic Lloyd's k-means over the embedding column — the
    * clustering primitive under SemDeDup buckets, cluster-balanced
    * sampling, and a production IVF coarse quantizer. It pins every
    * source of nondeterminism (unlike a random k-means|| init) so a
    * DuckDB oracle reproduces it bit-for-bit:
    * init = the k lowest vec_ids' vectors, components cast
    * float→double (exact), distance = strict left fold of squared
    * diffs in index order, argmin tie-breaks on the lowest centroid
    * index, centroid means round to 1e-6 (absorbs summation-order
    * nondeterminism — the q67 rule), empty clusters retain their
    * previous centroid, and the iteration count is fixed.
    *
    * Spark shape (the Spark ML KMeans contract, re-derived
    * declaratively): centroids live on the driver (k×d doubles —
    * trivially bounded) and enter each assignment pass as inline
    * array literals, so assignment is a narrow zero-shuffle
    * whole-stage-codegen'd zip/fold map over the corpus — nothing
    * corpus-sized ever converges on one task. The update step
    * posexplodes to (cluster, dim) and partial-aggregates map-side,
    * so its shuffle is k×d rows per task regardless of corpus size;
    * the driver collects k×d doubles per round. At 100 TB each round
    * is one scan of the (persisted-once) projection plus one bounded
    * agg. Catalyst's project collapse may re-evaluate the k-fold
    * distance array for the argmin fields (≤3× k·d flops/row, still
    * one narrow pass); a squeezed production build would fuse argmin
    * into a single struct-min fold. */
  /** (vec_id, e: array<double>) projection, persisted once — shared by
    * all Lloyd passes of one operator invocation. */
  private def lloydBase(embeddings: DataFrame): DataFrame =
    Dedup.persistOnce(embeddings.select(col("vec_id"),
      col("embedding").cast("array<double>").as("e")))

  /** Squared-L2 distances of column `e` to each driver-held centroid,
    * as an array column of inline literals (strict left fold in index
    * order — the oracle-parity contract). */
  private def lloydDists(cs: IndexedSeq[Seq[Double]]): Column =
    array(cs.map(c => aggregate(
      zip_with(col("e"), typedLit(c), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)): _*)

  private def lloydAssign(base: DataFrame,
      cs: IndexedSeq[Seq[Double]]): DataFrame =
    base.withColumn("ds", lloydDists(cs))
      .withColumn("cluster",
        (array_position(col("ds"), array_min(col("ds"))) - 1)
          .cast("int"))

  /** Run the Lloyd rounds; returns the final centroids (k×d doubles on
    * the driver). Init = the k lowest vec_ids' vectors; means round to
    * 1e-6; empty clusters retain their previous centroid. Implemented
    * as the one-slice case of [[lloydFitMulti]]. */
  private def lloydFit(base: DataFrame, k: Int, iters: Int)
      : IndexedSeq[Seq[Double]] =
    lloydFitMulti(base, None, k, iters).headOption
      .getOrElse(IndexedSeq.empty)

  /** Train SEVERAL Lloyd codebooks — one per `(start, len)` sub-slice
    * of the `e` column — sharing ONE corpus pass per iteration (guide
    * §1.2: remove passes). The per-book math is bit-identical to the
    * former per-book lloydFit: init = the k lowest vec_ids' vectors
    * (sliced on the driver — same doubles Spark's `slice` would
    * produce), every update mean is keyed (slice, cluster, dim) so no
    * cross-book mixing exists, means round 1e-6 (absorbing partial-agg
    * order, the established contract), empty clusters retain their
    * previous codeword. What changes is purely the plan: the
    * per-iteration corpus scans drop from |slices| to 1 and the two
    * chained aggs per book become ONE bounded (slice, cluster, dim)
    * agg whose output is Σ_s k·len_s rows, assembled on the driver.
    * At 100 TB this is m× fewer corpus scans per PQ training round;
    * at bench scale it removes m×iters scheduler round-trips.
    * `slices = None` trains one book over the full vector. */
  private def lloydFitMulti(base: DataFrame,
      slicesOpt: Option[Seq[(Int, Int)]], k: Int, iters: Int)
      : IndexedSeq[IndexedSeq[Seq[Double]]] = {
    val init = base.orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Double](1)).toIndexedSeq
    val slices = slicesOpt.getOrElse(
      Seq((0, init.headOption.map(_.size).getOrElse(0))))
    var books: IndexedSeq[IndexedSeq[Seq[Double]]] =
      slices.toIndexedSeq.map { case (st, len) =>
        init.map(v => v.slice(st, st + len)) }
    if (init.isEmpty) return books
    def subCol(st: Int, len: Int): Column =
      if (slicesOpt.isEmpty) col("e") else slice(col("e"), st + 1, len)
    for (_ <- 1 to iters) {
      // pass 1 projection: per-slice cluster assignments (computed ONCE
      // per row, below the Generate — co-projecting them WITH the
      // explode would re-evaluate every fold per exploded element)
      val assigned = base.select(col("e") +:
        slices.zipWithIndex.map { case ((st, len), s) =>
          val ds = array(books(s).map(cw =>
            sqDistFold(subCol(st, len), cw)): _*)
          (array_position(ds, array_min(ds)) - 1).cast("int").as(s"c$s")
        }: _*)
      // one-slice fast path: posexplode walks the array directly —
      // the fused struct-array build only pays for itself when it is
      // amortizing several books into the one pass
      val rows =
        if (slices.size == 1)
          assigned.select(lit(0).as("s"), col("c0").as("cl"),
              posexplode(col("e")).as(Seq("dim", "v")))
            .groupBy("s", "cl", "dim")
            .agg(round(avg("v"), 6).as("cv"))
            .collect()
        else {
          val flat = flatten(array(slices.zipWithIndex.map {
            case ((st, len), s) =>
              zip_with(subCol(st, len), sequence(lit(0), lit(len - 1)),
                (v, i) => struct(lit(s).as("s"), col(s"c$s").as("cl"),
                  i.as("dim"), v.as("v")))
          }: _*))
          assigned.select(explode(flat).as("x"))
            .select(col("x.s").as("s"), col("x.cl").as("cl"),
              col("x.dim").as("dim"), col("x.v").as("v"))
            .groupBy("s", "cl", "dim")
            .agg(round(avg("v"), 6).as("cv"))
            .collect()
        }
      val bySlice = rows.groupBy(_.getInt(0))
      books = slices.indices.toIndexedSeq.map { s =>
        val byCl = bySlice.getOrElse(s,
            Array.empty[org.apache.spark.sql.Row])
          .groupBy(_.getInt(1))
          .map { case (cl, rs) =>
            cl -> rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq }
        (0 until k).map(j => byCl.getOrElse(j, books(s)(j)))
      }
    }
    books
  }

  def kmeansLloyd(embeddings: DataFrame, k: Int = 4, iters: Int = 3)
      : DataFrame = {
    val base = lloydBase(embeddings)
    val cents = lloydFit(base, k, iters)
    lloydAssign(base, cents).select(col("vec_id"), col("cluster"),
      round(array_min(col("ds")), 6).as("dist_sq"))
  }

  /** q158: top principal component of the (mean-centered) embedding
    * cloud by power iteration — the anisotropy diagnostic: embedding
    * spaces collapse toward a dominant direction ("all vectors look
    * alike"), and var_share = λ₁ / trace(C) says how collapsed. A
    * share near 1 means cosine similarity is mostly measuring the
    * common direction, so ANN/dedup thresholds (q34/q35/q51) are
    * operating on noise; healthy isotropic spaces sit near 1/d.
    *
    * Scale: the classic "big data once, small state iterated" shape —
    * per-dim means are ONE bounded agg (inlined as a literal, the
    * lloydFit posture); each power round is one narrow pass computing
    * s = c·v against the driver-held v literal plus one (dim)-keyed
    * bounded agg of c·s; v re-rounds to the 1e-6 grid every round
    * (the q71 centroid discipline) so both engines iterate identical
    * vectors. d ≪ n always; nothing materializes beyond d doubles. */
  def topPrincipalComponent(embeddings: DataFrame, iters: Int = 3)
      : DataFrame = {
    val spark = embeddings.sparkSession
    val base = lloydBase(embeddings)
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val m = base.select(posexplode(col("e")).as(Seq("dim", "v")))
      .groupBy("dim").agg(round(avg(col("v")), 6).as("mv"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy(_._1).map(_._2).toSeq
    val d = m.size
    val cent = Dedup.persistOnce(base.select(col("vec_id"),
      zip_with(col("e"), typedLit(m), (a, b) => a - b).as("c")))
    var v: Seq[Double] = Seq.fill(d)(1.0 / math.sqrt(d.toDouble))
    for (_ <- 1 to iters) {
      val s = aggregate(zip_with(col("c"), typedLit(v), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x)
      // s is pre-projected BELOW the posexplode: co-projecting the
      // d-element dot-product fold with the Generate would re-evaluate
      // it once per exploded dimension (d× the work per row)
      val w = cent.select(s.as("s"), col("c"))
        .select(col("s"), posexplode(col("c")).as(Seq("dim", "cv")))
        .groupBy("dim").agg(round(sum(col("cv") * col("s")), 6)
          .as("wv"))
        .collect().map(r => (r.getInt(0), r.getDouble(1)))
        .sortBy(_._1).map(_._2)
      val norm = math.sqrt(w.foldLeft(0.0)((acc, x) => acc + x * x))
      v = w.map(x => r6(x / norm)).toSeq
    }
    val sFinal = aggregate(
      zip_with(col("c"), typedLit(v), (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)
    val cc = aggregate(zip_with(col("c"), col("c"), (a, b) => a * b),
      lit(0.0), (acc, x) => acc + x)
    val agg = cent.agg(count(lit(1)).as("n"),
      sum(sFinal * sFinal).as("ss"), sum(cc).as("tr")).head()
    val n = agg.getLong(0)
    val lambda1 = r6(agg.getDouble(1) / n)
    val trace = r6(agg.getDouble(2) / n)
    val domDim = v.zipWithIndex.maxBy { case (x, i) =>
      (math.abs(x), -i) }._2
    import spark.implicits._
    Seq((n, lambda1, trace, r6(lambda1 / trace), domDim))
      .toDF("n_vecs", "lambda1", "trace_var", "var_share",
        "dominant_dim")
  }

  /** q152: k-center greedy coreset selection (Gonzalez farthest-first
    * traversal) — pick k vectors that maximize coverage of the
    * embedding space: seed with the lowest vec_id, then repeatedly
    * take the vector FARTHEST (squared L2) from everything selected
    * so far. The classic 2-approximation to the k-center objective;
    * data-selection pipelines use it as the diversity-maximizing
    * counterpart of [[clusterBalancedSample]] (which balances MASS —
    * this maximizes SPREAD, e.g. seeding labeling/eval sets).
    *
    * Scale shape: the k selected vectors live on the DRIVER as inline
    * literals (k×d doubles — the lloydFit posture), so every round is
    * ONE narrow zero-shuffle pass computing min-distance-to-selected
    * plus a TakeOrdered(1) argmax (ties → lowest vec_id); k bounded,
    * documented driver actions. min_dist is the strict left fold in
    * index order (oracle-parity contract), reported at selection time
    * (the classic coverage-radius sequence, non-increasing). */
  def coresetSelect(embeddings: DataFrame, k: Int = 6): DataFrame = {
    val spark = embeddings.sparkSession
    val base = lloydBase(embeddings)
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val seed = base.orderBy("vec_id").limit(1).collect().head
    var picks = Vector((0, seed.getLong(0), 0.0))
    var selVecs = Vector(seed.getSeq[Double](1))
    for (r <- 1 until k) {
      val md =
        if (selVecs.size == 1) sqDistFold(col("e"), selVecs.head)
        else least(selVecs.map(c => sqDistFold(col("e"), c)): _*)
      val win = base.select(col("vec_id"), md.as("md"), col("e"))
        .orderBy(col("md").desc, col("vec_id").asc)
        .limit(1).collect().head
      picks :+= ((r, win.getLong(0), r6(win.getDouble(1))))
      selVecs :+= win.getSeq[Double](2)
    }
    import spark.implicits._
    picks.toDF("round", "vec_id", "min_dist").orderBy("round")
  }

  /** Cluster-balanced corpus downsampling: run [[kmeansLloyd]], then
    * keep each cluster at rate min(1, perCluster / |cluster|) so hot
    * clusters shed mass and small ones survive whole — the
    * diversity-preserving sampler (DataComp-style cluster balancing)
    * that a raw uniform sample cannot express.
    *
    * Scale-safe by construction: NO per-cluster top-m window (k
    * partitions of n/k rows each is the skew trap) — cluster sizes
    * come from one bounded agg, rates (rounded 1e-6 before the
    * threshold, the q39 rule) broadcast back, and membership is the
    * deterministic md5-bucket of vec_id ([[CorpusStats.hashSample]]'s
    * contract: reproducible across engines AND task retries). Emits
    * every row with its verdict so downstream audits see what was
    * dropped and why. */
  def clusterBalancedSample(embeddings: DataFrame, k: Int = 4,
      iters: Int = 3, perCluster: Int = 100): DataFrame = {
    val asg = kmeansLloyd(embeddings, k, iters)
      .select("vec_id", "cluster")
    val rates = asg.groupBy("cluster")
      .agg(round(least(lit(1.0),
        lit(perCluster.toDouble) / count(lit(1))), 6).as("keep_rate"))
    asg.join(broadcast(rates), Seq("cluster"))
      .select(col("vec_id"), col("cluster"), col("keep_rate"),
        (CorpusStats.hashBucket(col("vec_id")) <
          floor(col("keep_rate") * 4096).cast("int")).as("kept"))
  }

  /** IVF ANN with the deterministic Lloyd coarse quantizer — the
    * production IVF lifecycle made fully oracle-checkable: train
    * ([[kmeansLloyd]] rounds), assign every
    * corpus vector to its cell, probe each query's nProbe nearest
    * cells by centroid distance, exact cosine re-rank inside the
    * probed cells. nProbe = nCells degrades to exact search
    * (asserted equal to [[bruteForceTopK]] in OpsSpec — valid because
    * the float-kernel dot there and the double zip-fold here both
    * accumulate double in index order over exactly-cast floats).
    *
    * Scale: centroids are driver literals, so BOTH the corpus cell
    * assignment and the query probe ranking are narrow zero-shuffle
    * maps (the probe top-nProbe is an in-row array sort over nCells
    * struct elements — never a window); queries broadcast; the only
    * corpus-wide work is one scan per side of the cell equi-join,
    * and candidate evaluation touches ~nProbe/nCells of the corpus.
    * Cosine folds are order-pinned and rounded 1e-6 with
    * neighbor-id tie-break — reproducible across engines. Norms are
    * evaluated inline per pair (d flops against the fold's 3d —
    * acceptable; a squeezed build precomputes per-side norm columns
    * as [[bruteForceTopK]] does). */
  def ivfKmeansTopK(embeddings: DataFrame, nCells: Int = 8,
      kmIters: Int = 2, nProbe: Int = 2, k: Int = 5,
      nQueries: Int = 10): DataFrame = {
    val base = lloydBase(embeddings)
    val cents = lloydFit(base, nCells, kmIters)
    val cand = lloydAssign(base, cents)
      .select(col("vec_id").as("neighbor_id"), col("e").as("ce"),
        col("cluster").as("cell"))
    val probeCells = slice(transform(array_sort(
      zip_with(col("ds"), sequence(lit(0), lit(nCells - 1)),
        (d, i) => struct(d.as("d"), i.as("c")))),
      s => s.getField("c")), 1, nProbe)
    val probes = lloydAssign(base.filter(col("vec_id") < nQueries),
        cents)
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        explode(probeCells).as("cell"))
    def norm2(c: Column) =
      aggregate(c, lit(0.0), (acc, x) => acc + x * x)
    val cos = round(
      aggregate(zip_with(col("qe"), col("ce"), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x) /
        (sqrt(norm2(col("qe"))) * sqrt(norm2(col("ce")))), 6)
    val pairs = cand.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), cos.as("cos_sim"))
    ranked(pairs, k).orderBy(col("query_id"), col("rank"))
  }

  /** q163: ANN recall-vs-nProbe curve — the tuning sweep for the IVF
    * family (the q140/q160/q161 counterpart for ANN): train the q71
    * Lloyd coarse quantizer ONCE, then measure recall@k against the
    * exact brute-force top-k at every nProbe from 1 to nCells. The
    * curve's knee is the nProbe a deployment should ship; the
    * nProbe = nCells row must hit recall 1.0 by construction (probing
    * everything IS brute force), which doubles as an in-query
    * self-check.
    *
    * Scale: training is lloydFit (bounded driver state); each probe
    * level reuses the SAME persisted assignment — only the
    * ≤nQueries·k top-k tables are collected per level (bounded,
    * documented). Cosines are the strict-fold form so ties and ranks
    * reproduce in the oracle bit-for-bit. */
  def annRecallCurve(embeddings: DataFrame, nCells: Int = 4,
      kmIters: Int = 2, k: Int = 5, nQueries: Int = 10): DataFrame = {
    val spark = embeddings.sparkSession
    val base = lloydBase(embeddings)
    val cents = lloydFit(base, nCells, kmIters)
    val assigned = Dedup.persistOnce(lloydAssign(base, cents))
    val cand = assigned.select(col("vec_id").as("neighbor_id"),
      col("e").as("ce"), col("cluster").as("cell"))
    def norm2(c: Column) =
      aggregate(c, lit(0.0), (acc, x) => acc + x * x)
    val cos = round(
      aggregate(zip_with(col("qe"), col("ce"), (a, b) => a * b),
        lit(0.0), (acc, x) => acc + x) /
        (sqrt(norm2(col("qe"))) * sqrt(norm2(col("ce")))), 6)
    val q = assigned.filter(col("vec_id") < nQueries)
    def topkSet(pairs: DataFrame): Set[(Long, Long)] =
      ranked(pairs.select(col("query_id"), col("neighbor_id"),
          cos.as("cos_sim")), k)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = topkSet(cand.join(
      broadcast(q.select(col("vec_id").as("query_id"),
        col("e").as("qe"))),
      col("query_id") =!= col("neighbor_id")))
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // ALL nProbe levels in ONE job: a candidate reached via the
    // query's rank-pr cell (0-based) participates in every level
    // np ≥ pr+1, so exploding np = pr+1..nCells and ranking the window
    // partitioned by (np, query) reproduces each level's former
    // separate top-k bit-for-bit (same cosine expr, same ties) while
    // collapsing nCells probe joins + collects into one (§1.2: don't
    // re-run the candidate join per sweep point).
    val rankedCells = transform(array_sort(
      zip_with(col("ds"), sequence(lit(0), lit(nCells - 1)),
        (d, i) => struct(d.as("d"), i.as("c")))),
      s => s.getField("c"))
    val probes = q.select(col("vec_id").as("query_id"),
      col("e").as("qe"), posexplode(rankedCells).as(Seq("pr", "cell")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("np"), col("query_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
    val top = cand.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("pr"), col("neighbor_id"),
        cos.as("cos_sim"))
      .withColumn("np", explode(sequence(col("pr") + 1, lit(nCells))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("np"), col("query_id"), col("neighbor_id"))
      .collect()
    val byNp = top.groupBy(_.getInt(0))
    val rows = (1 to nCells).map { np =>
      val got = byNp.getOrElse(np, Array.empty[org.apache.spark.sql.Row])
        .map(r => (r.getLong(1), r.getLong(2))).toSet
      val hits = got.count(truth.contains)
      (np, hits.toLong, r6(hits.toDouble / truth.size))
    }
    import spark.implicits._
    rows.toDF("n_probe", "n_hits", "recall_at_k").orderBy("n_probe")
  }

  /** Strict left-fold squared-L2 distance of an array column to a
    * driver-held codeword (index order — the oracle-parity fold). */
  private def sqDistFold(v: Column, cw: Seq[Double]): Column =
    aggregate(zip_with(v, typedLit(cw), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)

  /** IVF-PQ ANN — the memory-compression scale path (FAISS
    * `IndexIVFPQ` shape, `by_residual=false`): the corpus is coarsely
    * partitioned by the deterministic Lloyd quantizer ([[kmeansLloyd]],
    * the q71/q74 machinery), and inside each cell every vector is
    * stored as `m` sub-space code indices (d/m dims per sub-space,
    * `codeK` codewords per book) instead of d floats — at production
    * sizes (m=16, codeK=256 over d=768 floats) that is a 192× memory
    * reduction, which is what lets a 100 TB embedding corpus serve
    * from executor RAM at all. Querying is classic ADC (asymmetric
    * distance computation): each query precomputes a m×codeK lookup
    * table of exact sub-space distances to every codeword, probes its
    * nProbe nearest coarse cells, and scores each candidate with m
    * table lookups + adds — never d floating-point ops per pair.
    *
    * Spark shape: coarse centroids and all m codebooks are driver
    * literals (nCells×d + m×codeK×(d/m) doubles — bounded), so corpus
    * encoding is ONE narrow zero-shuffle codegen'd pass (cell argmin +
    * m sub-space argmins per row); the query side (nQueries rows)
    * computes its LUT inline and broadcasts; the only corpus-wide work
    * is the cell equi-join, touching ~nProbe/nCells of the corpus. No
    * window, groupBy, or join sees corpus-sized data beyond that one
    * probe join. Determinism for the DuckDB oracle: every distance is
    * a strict left fold in index order over exactly-cast floats, the
    * ADC sum folds the code array in sub-space order from 0.0, results
    * round to 1e-6 before ranking, and rank ties break on neighbor_id
    * — bit-reproducible across engines.
    *
    * Residual encoding (`byResidual = true`, the FAISS production
    * default): PQ codebooks are trained on, and codes index,
    * `e − coarseCentroid(cell(e))` rather than absolute coordinates.
    * Absolute-coordinate codebooks must spread their codeK codewords
    * across the FULL inter-cell spread of the corpus, wasting
    * precision on structure the coarse quantizer already captured;
    * residuals concentrate near zero, so the same m/codeK budget
    * resolves the fine within-cell offsets that actually rank
    * neighbors (OpsSpec pins residual recall ≥ absolute on a
    * clustered corpus). Cost shape is IDENTICAL — the residual
    * subtraction is a zip_with against the same driver-literal
    * centroids already in the row's plan, and the query LUT moves
    * after the probe explode (nProbe × m × codeK bounded folds per
    * query, still narrow) because the residual depends on which cell
    * is probed.
    *
    * Returns (query_id, neighbor_id, rank, adc_dist) — rank 1 =
    * nearest by approximate squared-L2. */
  def ivfPqTopK(embeddings: DataFrame, nCells: Int = 8,
      coarseIters: Int = 2, m: Int = 4, codeK: Int = 4,
      pqIters: Int = 2, nProbe: Int = 2, k: Int = 5,
      nQueries: Int = 10, byResidual: Boolean = false): DataFrame = {
    val base = lloydBase(embeddings)
    val d = base.select(size(col("e"))).head.getInt(0)
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val subDim = d / m
    def subOf(v: Column, s: Int): Column =
      slice(v, s * subDim + 1, subDim)
    def sub(s: Int): Column = subOf(col("e"), s)

    val coarse = lloydFit(base, nCells, coarseIters)
    val centsLit = typedLit(coarse.map(_.toSeq).toSeq)
    // e − assigned-cell centroid, all driver literals — narrow
    def residOf(e: Column, cell: Column): Column =
      zip_with(e, element_at(centsLit, cell + 1), (a, b) => a - b)

    val assigned = lloydAssign(base, coarse)
      .select(col("vec_id"), col("e"), col("cluster").as("cell"))
    // the vector the PQ stage sees (training + encode): residual or
    // absolute; persisted when residual so the m × pqIters training
    // scans don't re-derive the subtraction chain
    val encBase =
      if (byResidual) Dedup.persistOnce(
        assigned.withColumn("e", residOf(col("e"), col("cell"))))
      else assigned
    // per-sub-space codebooks, all m trained by the same pinned Lloyd
    // in ONE fused pass per iteration (m× fewer corpus scans)
    val books: IndexedSeq[IndexedSeq[Seq[Double]]] =
      lloydFitMulti(encBase.select(col("vec_id"), col("e")),
        Some((0 until m).map(s => (s * subDim, subDim))), codeK, pqIters)

    // corpus encode: coarse cell + m PQ codes, one narrow pass
    val enc = (0 until m).foldLeft(encBase) { (df, s) =>
        val ds = array(books(s).map(cw => sqDistFold(sub(s), cw)): _*)
        df.withColumn(s"code$s",
          (array_position(ds, array_min(ds)) - 1).cast("int"))
      }
      .select(col("vec_id").as("neighbor_id"), col("cell"),
        array((0 until m).map(s => col(s"code$s")): _*).as("codes"))

    // query side: probe cells by coarse-centroid distance + ADC LUT.
    // The LUT is built AFTER the probe explode: under residual
    // encoding it depends on the probed cell (q − that cell's
    // centroid); absolute mode computes the same values it always did,
    // just once per (query, cell) row — bounded either way.
    val probeCells = slice(transform(array_sort(
      zip_with(col("ds"), sequence(lit(0), lit(nCells - 1)),
        (dd, i) => struct(dd.as("d"), i.as("c")))),
      st => st.getField("c")), 1, nProbe)
    val qVec =
      if (byResidual) residOf(col("e"), col("cell")) else col("e")
    val lut = array((for (s <- 0 until m; j <- 0 until codeK)
      yield sqDistFold(subOf(qVec, s), books(s)(j))): _*)
    val probes = lloydAssign(base.filter(col("vec_id") < nQueries),
        coarse)
      .select(col("vec_id").as("query_id"), col("e"),
        explode(probeCells).as("cell"))
      .select(col("query_id"), lut.as("lut"), col("cell"))

    // ADC: m table lookups + adds per candidate, folded in s order
    val adc = round(aggregate(
      zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
        (c, s) => element_at(col("lut"), s * codeK + c + 1)),
      lit(0.0), (acc, x) => acc + x), 6)
    val pairs = enc.join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), adc.as("adc_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("adc_dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q109: embedding-hygiene audit — the data-quality gate every
    * embedding pipeline runs before indexing: per-label vector counts,
    * wrong-dimension / zero-norm / non-finite counts, and the norm
    * range. A single bad batch (zeroed vectors from a failed encoder,
    * NaNs from an fp16 overflow) silently poisons ANN recall; this
    * report catches it in one scan.
    *
    * Cross-engine parity: norm² is the pinned-order sequential fold
    * ([[graft.functions.vec_norm2]] ↔ DuckDB list_sum/list_transform —
    * the established cosine contract), so zero/threshold compares and
    * min/max are on bit-identical doubles; only display values are
    * rounded. One partial+final agg keyed by label (bounded), no
    * shuffle of the vectors themselves. */
  def embeddingHygiene(e: DataFrame, expectedDim: Int): DataFrame =
    e.select(col("label"),
        size(col("embedding")).as("dim"),
        graft.functions.vec_norm2(col("embedding")).as("norm2"))
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("dim") =!= expectedDim, 1L).otherwise(0L))
          .as("n_bad_dim"),
        sum(when(col("norm2") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        sum(when(isnan(col("norm2")) ||
          col("norm2") === lit(Double.PositiveInfinity), 1L)
          .otherwise(0L)).as("n_nonfinite"),
        round(sqrt(min(col("norm2"))), 6).as("min_norm"),
        round(sqrt(max(col("norm2"))), 6).as("max_norm"))

  /** Embedding-distribution drift monitor: vectors are grouped into
    * deterministic ingestion batches (vec_id div batchSize — the
    * arrival-order surrogate this corpus carries), each batch reduced
    * to its per-dimension centroid, and consecutive centroids compared
    * by cosine. A drift_cos well below 1 between adjacent batches is
    * the earliest signal that an upstream embedder / corpus mix
    * changed mid-ingest and downstream ANN / dedup thresholds are
    * stale.
    *
    * Scale: the corpus contributes ONE shuffle of (batch, dim,
    * partial sum/count) pairs — partial aggregation combines map-side,
    * so reducers see rows ∝ batches×d, never vectors. Everything after
    * is on the BOUNDED centroid table (batches × d rows): the array
    * re-assembly groupBy and the lag window are driver-scale (the
    * window is over the bounded table, not corpus input). Centroid
    * means round 1e-6 (the Lloyd contract) and the cosine is the
    * order-pinned [[Dedup.cosine]] kernel, so DuckDB reproduces every
    * double bit-for-bit. */
  def batchCentroidDrift(embeddings: DataFrame,
      batchSize: Int = 100): DataFrame = {
    val perDim = embeddings
      .select(floor(col("vec_id") / batchSize).cast("long").as("batch"),
        posexplode(col("embedding").cast("array<double>"))
          .as(Seq("dim", "v")))
      .groupBy("batch", "dim")
      .agg(round(avg("v"), 6).as("cv"), count(lit(1)).as("cnt"))
    val cents = perDim.groupBy("batch")
      .agg(
        transform(
          array_sort(collect_list(struct(col("dim"), col("cv")))),
          s => s.getField("cv")).as("cent"),
        max("cnt").cast("long").as("n_vecs"))
    // HOF folds, not the codegen'd float kernel: centroids are DOUBLE
    // arrays (VecDot reads array<float> storage) and this table is
    // bounded, so interpreted lambdas cost nothing. Left fold from 0.0
    // ≡ the oracle's list_reduce. Adjacent batches pair via a bounded
    // batch−1 self-join (broadcastable), NOT a partition-less lag
    // window — the registry-wide single-task-funnel guard admits no
    // exemptions.
    def dot(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0),
        (acc, v) => acc + v)
    def n2(a: Column): Column =
      aggregate(transform(a, v => v * v), lit(0.0), (acc, v) => acc + v)
    val prev = cents.select(col("batch").as("pbatch"),
      col("cent").as("prev"))
    cents
      .join(prev, col("batch") - 1 === col("pbatch"))
      .select(col("batch"), col("n_vecs"),
        round(dot(col("prev"), col("cent")) /
          (sqrt(n2(col("prev"))) * sqrt(n2(col("cent")))), 6)
          .as("drift_cos"))
      .orderBy("batch")
  }

  /** q181: PQ distortion sweep — mean squared reconstruction error at
    * each sub-space count m (fixed per-space codebook size), the
    * memory-vs-accuracy tuning table read BEFORE committing to a q75
    * index layout: distortion falls as m grows (finer sub-spaces),
    * memory grows as m·log₂(codeK) bits/vector, and the knee of this
    * curve is the production setting. The same measured-not-assumed
    * posture as q140/q163's sweeps, for the PQ family.
    *
    * Scale: each m trains its sub-space codebooks via the pinned
    * eager [[lloydFit]] (bounded k×d aggs, centroids become driver
    * literals), so the per-m distortion pass is ONE narrow scan —
    * min-over-codewords of codegen'd fold distances, summed across
    * sub-spaces row-locally. Per-vector distortion rounds to 1e-6
    * and sums as exact integer micro-units (the q77/q173 fixed-point
    * discipline), so the corpus mean is summation-order-immune.
    * Returned ≤|ms|-row local table sorts only. */
  def pqDistortionSweep(embeddings: DataFrame,
      ms: Seq[Int] = Seq(1, 2, 4), codeK: Int = 8,
      pqIters: Int = 2): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = lloydBase(embeddings)
    // empty-corpus guard: head on an empty table would throw; the
    // empty-schema result matches the other eager driver sweeps
    val dRow = base.select(size(col("e"))).head(1)
    if (dRow.isEmpty)
      return Seq.empty[(Int, Int, Long, Double)]
        .toDF("m", "code_k", "n_vectors", "mean_sq_dist")
    val d = dRow.head.getInt(0)
    ms.foreach(m => require(d % m == 0, s"dim $d not divisible by m=$m"))
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // ALL sub-space codebooks of ALL m values train in ONE fused Lloyd
    // chain (Σms books share each iteration's corpus pass), and the
    // per-m distortion means reduce in ONE corpus agg: per-book math
    // and the 1e-6→micro-unit rounding ladder are unchanged.
    val slices = ms.flatMap(m =>
      (0 until m).map(s => (s * (d / m), d / m)))
    val books = lloydFitMulti(base.select(col("vec_id"), col("e")),
      Some(slices), codeK, pqIters)
    val offsets = ms.scanLeft(0)(_ + _)
    val ppmCols = ms.zipWithIndex.map { case (m, i) =>
      val subDim = d / m
      val dist = (0 until m).map { s =>
        val cws = books(offsets(i) + s)
        array_min(array(cws.map(cw =>
          sqDistFold(slice(col("e"), s * subDim + 1, subDim), cw)): _*))
      }.reduce(_ + _)
      round(round(dist, 6) * 1e6, 0).cast("long").as(s"ppm$i")
    }
    val agg = base.select(ppmCols: _*)
      .agg(count(lit(1)).as("n"),
        ms.indices.map(i =>
          coalesce(sum(col(s"ppm$i")), lit(0L)).as(s"s$i")): _*)
      .head()
    val n = agg.getLong(0)
    val rows = ms.zipWithIndex.map { case (m, i) =>
      (m, codeK, n, r6(agg.getLong(i + 1).toDouble / 1e6 / n))
    }
    rows.toDF("m", "code_k", "n_vectors", "mean_sq_dist").orderBy("m")
  }

  /** q173: TwoNN intrinsic-dimension estimate (Facco et al. 2017) over
    * cosine distance — the MLE d = n / Σ ln(d₂/d₁) from each point's
    * two nearest neighbors. Embedding spaces with low intrinsic
    * dimension collapse to a thin manifold: near-dup detection gets
    * easier but coverage-diversity claims get weaker, and anisotropy
    * fixes (q158's top-PC removal) become mandatory. This is the
    * one-number diagnostic behind those calls.
    *
    * Scale: the 2-NN derivation IS [[knnGraph]] at k=2 (in-bucket LSH
    * pairs — the corpus never goes all-pairs; nPlanes is the knob);
    * points whose nearest neighbor ties them exactly (d₁ = 0 after
    * the 1e-6 cosine rounding) or that lack two in-bucket neighbors
    * are excluded, per the paper's discard rule. Each surviving
    * point's ln μ rounds to 1e-6 and sums as exact integer
    * micro-units — summation-order-immune (the q77 fixed-point
    * discipline), so the estimate is engine-exact. Returned single
    * literal row plans zero exchanges. */
  def twoNnDimension(embeddings: DataFrame, nPlanes: Int = 4,
      dim: Int = 64): DataFrame = {
    val spark = embeddings.sparkSession
    val nVectors = embeddings.count()
    val two = knnGraph(embeddings, nPlanes, k = 2, dim)
      .groupBy("src")
      .agg(
        max(when(col("rank") === 1, col("cos_sim"))).as("cos1"),
        max(when(col("rank") === 2, col("cos_sim"))).as("cos2"))
      .filter(col("cos2").isNotNull && col("cos1") < 1.0)
    val row = two
      .select(
        round(round(log((lit(1.0) - col("cos2")) /
          (lit(1.0) - col("cos1"))), 6) * 1e6, 0)
          .cast("long").as("ln_ppm"))
      .agg(count(lit(1)).as("n_used"),
        coalesce(sum(col("ln_ppm")), lit(0L)).as("s"))
      .head()
    val nUsed = row.getLong(0)
    val sPpm = row.getLong(1)
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import spark.implicits._
    Seq((nVectors, nUsed, r6(sPpm.toDouble / 1e6),
      if (sPpm > 0) r6(nUsed.toDouble * 1e6 / sPpm) else 0.0))
      .toDF("n_vectors", "n_used", "sum_ln_mu", "intrinsic_dim")
  }

  /** q198: per-dimension mean/variance profile — the dead-dimension
    * audit q158's top-PC view can't give: a dimension whose variance
    * is ~0 contributes nothing to any cosine (wasted index memory,
    * wasted ANN distance work), and a handful of huge-variance dims
    * is the anisotropy q158 measures, now named dim by dim. The table
    * that decides dimension pruning before IVF-PQ (q75) sub-space
    * splits.
    *
    * Exact arithmetic: components quantize to micro-units (exact
    * longs, the q77/q190 fixed-point discipline), so the per-dim
    * sums are summation-order-immune integers; mean and variance are
    * then a FIXED sequence of double ops on exact inputs (mirrored
    * token-for-token in the oracle), engine-identical by
    * construction. u² ≤ 1e12 per row keeps the squared sum within
    * long range to ~10⁶ vectors per dim; beyond that the same plan
    * swaps the sums to DECIMAL(38,0).
    *
    * Scale: one posexplode pass, ONE d-cell bounded agg. */
  def dimVariance(embs: DataFrame): DataFrame =
    embs.select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim"),
        round(col("v").cast("double") * 1e6, 0).cast("long").as("u"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("u")).as("su"),
        sum(col("u") * col("u")).as("ss"))
      .select(col("dim"), col("n"),
        round(col("su").cast("double") /
          (col("n").cast("double") * lit(1e6)), 6).as("mean"),
        round(
          col("ss").cast("double") / col("n").cast("double") / lit(1e12) -
            (col("su").cast("double") /
              (col("n").cast("double") * lit(1e6))) *
            (col("su").cast("double") /
              (col("n").cast("double") * lit(1e6))), 6).as("variance"))
      .orderBy("dim")

  /** Bounded per-label centroids (label → d-vector of 1e-6-rounded
    * means), collected to the driver in label order — the shared input
    * of [[labelCentroidMatrix]] and [[labelSilhouette]]. ONE
    * (label, dim)-keyed agg whose output is labels×d rows (hundreds),
    * the q67/q71 centroid discipline. */
  private def labelCentroids(embs: DataFrame)
      : IndexedSeq[(Int, IndexedSeq[Double])] =
    embs
      .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("label"), col("dim"))
      .agg(round(avg(col("v").cast("double")), 6).as("cv"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      .groupBy(_._1).toIndexedSeq
      .map { case (lab, rows) =>
        lab -> rows.sortBy(_._2).map(_._3).toIndexedSeq }
      .sortBy(_._1)

  /** q189: label-centroid cosine-similarity matrix — the semantic
    * counterpart of q166 (content MinHash overlap) and q180 (function-
    * word stylometry): per-label mean embedding, then pairwise cosine
    * between centroids. A pair near 1 says two labels occupy the same
    * region (merge candidates, or a labeling fault); the matrix floor
    * calibrates how separable the space is before IVF cells (q41) or
    * cluster-balanced sampling (q72) lean on the label key.
    *
    * Scale: centroids are ONE bounded (label, dim) agg — labels×d rows
    * collected; the k² cosine matrix is driver arithmetic over k·d
    * doubles (the q180 posture). The corpus never joins and never
    * shuffles beyond the bounded agg; the returned ≤k² local table
    * only sorts. */
  def labelCentroidMatrix(embs: DataFrame): DataFrame = {
    val spark = embs.sparkSession
    val cents = labelCentroids(embs)
    def r6(x: Double): Double = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def norm(c: IndexedSeq[Double]): Double =
      math.sqrt(c.foldLeft(0.0)((acc, x) => acc + x * x))
    import spark.implicits._
    (for {
      (la, ca) <- cents; (lb, cb) <- cents if la < lb
    } yield {
      val dot = ca.zip(cb).foldLeft(0.0)((acc, p) => acc + p._1 * p._2)
      (la, lb, r6(dot / (norm(ca) * norm(cb))))
    }).toDF("label_a", "label_b", "cosine")
      .orderBy("label_a", "label_b")
  }

  /** q190: label-separability audit (silhouette-lite) — every vector's
    * cosine to its OWN label centroid vs its best OTHER centroid,
    * rolled up per label: mean own-cosine, mean best-other-cosine and
    * the mean margin. A label whose margin ≈ 0 is not a real cluster
    * in embedding space — its q41 IVF cell leaks neighbors, its q72
    * strata are arbitrary, and a classifier trained on it inherits
    * noise. The per-vector twin of q189's centroid-level view.
    *
    * Scale: the lloydFit posture — centroids enter as k×d inline
    * literals, so scoring is a narrow zero-shuffle codegen'd pass over
    * the corpus (k fold-cosines per row, nulling the own cell for the
    * best-other max); the rollup keys on the bounded label set. No
    * join anywhere. */
  def labelSilhouette(embs: DataFrame): DataFrame = {
    val cents = labelCentroids(embs)
    val labels = cents.map(_._1)
    def cnorm(c: IndexedSeq[Double]): Double =
      math.sqrt(c.foldLeft(0.0)((acc, x) => acc + x * x))
    val normE = sqrt(graft.functions.vec_norm2(col("embedding")))
    def cosTo(c: IndexedSeq[Double]): Column =
      round(
        aggregate(
          zip_with(col("embedding"), typedLit(c),
            (a, b) => a.cast("double") * b),
          lit(0.0), (acc, x) => acc + x) / (normE * lit(cnorm(c))), 6)
    val scored = embs
      .withColumn("cos", array(cents.map { case (_, c) => cosTo(c) }: _*))
      .withColumn("own", element_at(col("cos"),
        array_position(typedLit(labels), col("label")).cast("int")))
      .withColumn("other", array_max(
        zip_with(typedLit(labels), col("cos"),
          (l, cv) => when(l === col("label"),
            lit(null).cast("double")).otherwise(cv))))
    // micro-unit integer sums (the q77 fixed-point discipline): the
    // 1e-6-rounded cosines become exact longs, so the per-label means
    // are single divisions of exact integers — summation-order-immune
    scored
      .select(col("label"),
        round(col("own") * 1e6, 0).cast("long").as("own_u"),
        round(col("other") * 1e6, 0).cast("long").as("other_u"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("own_u")).as("so"), sum(col("other_u")).as("st"))
      .select(col("label"), col("n_vecs"),
        round(col("so").cast("double") /
          (col("n_vecs") * lit(1e6)), 6).as("mean_cos_own"),
        round(col("st").cast("double") /
          (col("n_vecs") * lit(1e6)), 6).as("mean_cos_other"),
        round((col("so") - col("st")).cast("double") /
          (col("n_vecs") * lit(1e6)), 6).as("mean_margin"))
      .orderBy("label")
  }
}
