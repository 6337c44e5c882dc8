package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.gen.TranscriptGen
import graft.parse.{ChatGptParser, FastTranscriptParser}
import graft.route.Router

/** Benchmark main. Prints ONE JSON line:
  * {"metric":"total","value":SEC,"unit":"sec","queries":{...},
  *  "pipeline":{...},"pipeline_generic":{...},"sf":...}
  *
  *  - queries: per-query {"min":s,"max":s,"runs":n} over
  *    SPARK_GRAFT_SF_DIR (forced with .count()): SPARK_GRAFT_QUERY_REPEAT
  *    (default 2) interleaved cold rounds, min reported as the
  *    estimate, max exposing the spread; min = -1 marks a failed run.
  *  - pipeline: the north-rule end-to-end parse→route→aggregate job
  *    over a synthesized raw-transcript JSONL corpus (generation is
  *    untimed): fast-path single-pass parse (zero-shuffle parse+order)
  *    → routed (role, tool) snapshot write → routed counts + thread
  *    stats + text checksum. Reports turns/sec.
  *  - pipeline_generic: same job through the generic Catalyst JSON
  *    parse into conversation rows (one repeat — it exists so a
  *    regression in EITHER parse path is visible round-over-round).
  *
  * Corpus size via SPARK_GRAFT_CONVS (default 480k convs ≈ 5.5M
  * turns — large enough that fixed job overhead is noise).
  * SPARK_GRAFT_REPEAT (default 2) runs the timed job N times and
  * reports the minimum (shared-VM noise swings single shots ~2×).
  *
  * Scaling-efficiency evidence (north rule: ≥0.8 from N to 4N): run
  * this main twice with SPARK_GRAFT_CPUS=8 and =32 on the same input —
  * see BASELINE.md "Measured" section and scripts/scaling_bench.sh.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default = all cores, matching what scripts/ and the driver run —
    // a fixed small default made casual repro numbers incomparable
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    // ~5.5M turns: large enough that fixed job overhead (<6 s) is noise
    val nConvs = sys.env.getOrElse("SPARK_GRAFT_CONVS", "480000").toInt
    val spark = session(cpus)

    // Per-query repeat-min, INTERLEAVED (full sorted sweep per round,
    // not per-query back-to-back repeats): single shots on this
    // shared VM swing ±30%, which made round-over-round per-query
    // deltas unjudgeable; interleaving decorrelates a noisy window
    // from any one query, and min-of-rounds is the standard
    // noise-robust estimator. Every invocation is COLD: the cache
    // manager is cleared first, because queries that persist
    // intermediates (q31/q32/q36) would otherwise hit run-1's cache
    // through canonical-plan matching and round 2 would measure a
    // cache read, not the query.
    val skipQueries = sys.env.contains("SPARK_GRAFT_SKIP_QUERIES")
    val qRepeats = sys.env.getOrElse("SPARK_GRAFT_QUERY_REPEAT", "2").toInt
    // noisy-query stabilization: after the base rounds, queries whose
    // max/min spread exceeds 2× get further INTERLEAVED rounds (up to
    // SPARK_GRAFT_QUERY_MAX_REPEAT total) — at runs=2 the heavy
    // queries' round-over-round deltas were unjudgeable on this
    // shared VM (r3: q17 1.4–8.7, q32 4.7–13.8), while padding every
    // light query to 4+ rounds would double bench wall-time for
    // nothing. Adaptive targeting pays only where the noise is.
    val qMaxRepeats =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_MAX_REPEAT", "6").toInt
    val names = SparkEntry.queries.toSeq.sortBy(_._1).map(_._1)
    val times = scala.collection.mutable.Map[String, Vector[Double]]()
      .withDefaultValue(Vector.empty)
    def runOnce(name: String): Unit = {
      spark.catalog.clearCache()
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      times(name) = times(name) :+ (if (ok) dt else -1.0)
    }
    def unstable(name: String): Boolean = {
      val ts = times(name).filter(_ >= 0)
      ts.isEmpty || ts.max / ts.min > 2.0
    }
    if (!skipQueries) {
      // one UNTIMED warmup sweep: run-1 of a fresh JVM measures JIT
      // compilation, not the engine — r4's first timed sweep showed
      // q01–q08 at 1–6 s cold vs 0.2 s warm, a spread that no repeat
      // count can wash out of max/min. Caches are still cleared per
      // invocation, so timed runs stay DATA-cold; only code is warm.
      names.foreach(runOnce)
      names.foreach(n => times(n) = Vector.empty)
      for (_ <- 1 to qRepeats; name <- names) runOnce(name)
      var extra = qRepeats
      while (extra < qMaxRepeats && names.exists(unstable)) {
        names.filter(unstable).foreach(runOnce)
        extra += 1
      }
    }
    val qs = (if (skipQueries) Seq.empty else names).map { name =>
      val ts = times(name)
      val ok = ts.filter(_ >= 0).sorted
      val mn = if (ts.contains(-1.0) || ok.isEmpty) -1.0 else ok.head
      val med = if (ok.isEmpty) -1.0 else ok(ok.size / 2)
      "\"" + name +
        f"""":{"min":$mn%.3f,"median":$med%.3f,""" +
        f""""max":${ts.max}%.3f,"runs":${ts.size}}"""
    }.mkString("{", ",", "}")
    val total = (if (skipQueries) Seq.empty else names)
      .map(n => times(n).min).sum

    // ---- end-to-end pipeline throughput (untimed corpus generation) --
    // tmpfs when available: the sandbox disk tops out at ~380 MB/s,
    // which would measure the disk, not the engine
    val workBase = if (java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get("/dev/shm"))) "/dev/shm" else
      System.getProperty("java.io.tmpdir")
    val work = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(workBase), "graft-bench")
    val rawPath = s"$work/raw"
    TranscriptGen.renderRawJsonl(TranscriptGen.synthesize(spark, nConvs))
      .write.mode("overwrite").text(rawPath)

    // Repeat-and-take-min: the sandbox VM's co-tenant noise swings
    // single-shot wall times ~2×; min over repeats is the standard
    // noise-robust estimator.
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt
    val saltBuckets = sys.env.getOrElse("SPARK_GRAFT_SALT", "8").toInt

    // ONE pass over the raw input: parse (+ turn ordering) → routed
    // write; aggregates read the routed parquet back (caching the parse
    // costs more than it saves — measured 44 s materialize vs 15 s
    // recompute — and production aggregates run on sink tables).
    // SPARK_GRAFT_STAGE_BREAKDOWN additionally times a parse-ONLY pass
    // (scan+parse+count, no write) per repeat, so scaling runs can
    // attribute an efficiency gap to parse vs route(write) vs agg.
    // The extra pass is timed separately BEFORE the pipeline timer
    // starts — sec/turns_per_sec stay comparable with non-breakdown
    // runs; route_sec ≈ parse_route_sec - parse_only_sec.
    val stageBreakdown = sys.env.contains("SPARK_GRAFT_STAGE_BREAKDOWN")
    def runPipeline(generic: Boolean, nRepeats: Int): String = {
      var turns = 0L
      var nThreads = 0L
      var bestElapsed = Double.MaxValue
      var bestWrite = Double.MaxValue
      var bestParseOnly = Double.MaxValue
      for (_ <- 1 to nRepeats) {
        def parsed =
          if (generic)
            FastTranscriptParser.turns(ChatGptParser.conversations(
              ChatGptParser.readRawJsonl(spark, rawPath)))
          else
            FastTranscriptParser.parse(spark, rawPath)
        var repeatParseOnly = 0.0
        if (stageBreakdown) {
          val tp0 = System.nanoTime()
          parsed.select(count(lit(1))).collect()
          repeatParseOnly = (System.nanoTime() - tp0) / 1e9
        }
        val t0 = System.nanoTime()
        val sinkData = Router.writeRoutedSinks(parsed, work.toString,
          saltBuckets = saltBuckets)
        val tWrite = (System.nanoTime() - t0) / 1e9
        val routedTable = spark.read.parquet(sinkData)
        // ONE grouped agg carries the per-sink counts, the corpus
        // checksum AND the thread count: global count = Σ group
        // counts, global checksum = min over group mins (min is a
        // semilattice), thread count = Σ first-turn counts (turn_idx
        // == 0 occurs exactly once per surviving conversation) — all
        // derived from the ~10 collected rows. The former SEPARATE
        // jobs for the global agg (merged in r3) and for
        // threadStats().count() (merged in r4) were pure fixed
        // per-job overhead that capped agg-stage scaling (r3
        // breakdown: agg 4.4 s @8 → 2.6 s @32 best-case with TWO
        // jobs; the threadStats operator itself stays benchmarked as
        // q03 and exercised by the Main pipeline's thread index).
        val routed = routedTable
          .groupBy(col("role"), col("tool_sink"))
          .agg(count(lit(1)).as("n"),
            count(when(col("turn_idx") === 0, 1)).as("n_first"),
            min(md5(col("text").cast("binary"))).as("min_md5"))
          .collect()
        require(routed.nonEmpty &&
          routed.flatMap(r => Option(r.getString(4))).nonEmpty,
          "empty routed sinks or null checksum")
        nThreads = routed.map(_.getLong(3)).sum
        val elapsed = (System.nanoTime() - t0) / 1e9
        turns = routed.map(_.getLong(2)).sum
        // stage numbers all come from the WINNING repeat — mixing the
        // min parse-only of one repeat with the min pipeline of
        // another produced a negative route_sec under VM noise
        if (elapsed < bestElapsed) {
          bestElapsed = elapsed; bestWrite = tWrite
          bestParseOnly = repeatParseOnly
        }
      }
      val parseOnly =
        if (stageBreakdown)
          f""""parse_only_sec":$bestParseOnly%.3f,"route_sec":${
            bestWrite - bestParseOnly}%.3f,"""
        else ""
      f"""{"turns":$turns,"threads":$nThreads,"sec":$bestElapsed%.3f,""" +
        f""""parse_route_sec":$bestWrite%.3f,""" + parseOnly +
        f""""agg_sec":${bestElapsed - bestWrite}%.3f,""" +
        f""""turns_per_sec":${turns / bestElapsed}%.1f,""" +
        f""""repeats":$nRepeats,"cpus":$cpus}"""
    }

    val pipeline = runPipeline(generic = false, repeats)
    // generic path: one repeat (≈5× the fast path's cost; the point is
    // round-over-round regression visibility, not a tight estimate)
    val pipelineGeneric =
      if (sys.env.contains("SPARK_GRAFT_SKIP_GENERIC")) """{}"""
      else runPipeline(generic = true, 1)

    val json =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"pipeline":$pipeline,"pipeline_generic":$pipelineGeneric,"sf":"$sfDir"}"""
    // The PRINTED line is a compact summary that fits the driver's
    // 2000-char log-tail capture whole (the full per-query
    // min/median/max/runs line is ~7 kB at 84 queries — rounds 3/4
    // shipped a truncated, unparseable BENCH_rN artifact): per-query
    // MINS under qNN short keys, plus the same pipeline objects. The
    // complete JSON still goes to the outFile.
    val qMin = (if (skipQueries) Seq.empty else names).map { name =>
      val ok = times(name).filter(_ >= 0)
      val mn = if (times(name).contains(-1.0) || ok.isEmpty) -1.0
        else ok.min
      f""""${name.takeWhile(_ != '_')}":$mn%.3f"""
    }.mkString("{", ",", "}")
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qMin,"pipeline":$pipeline,"pipeline_generic":$pipelineGeneric,"sf":"$sfDir"}"""
    println(compact)
    // ALSO write the full JSON to a file: the driver's log-tail capture
    // truncates at 2000 chars, which silently dropped q01–q13 and the
    // total from the committed round-3 artifact — a file survives whole
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "bench_last.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    // clean the (possibly tmpfs) working set
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(work).iterator().asScala.toSeq.reverse
      .foreach(p => java.nio.file.Files.deleteIfExists(p))
    spark.stop()
  }

  /** The benches' session, shared with [[BenchExtra]] so their numbers
    * compare. */
  def session(cpus: String): SparkSession = {
    val shm = java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get("/dev/shm"))
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // task-side commit: the v1 driver-side merge measured ~4 s serial
      // on the routed fan-out write
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
        "2")
      .config("spark.driver.memory",
        sys.env.getOrElse("SPARK_DRIVER_MEM", "8g"))
    // shuffle to tmpfs: the sandbox disk (~380 MB/s) would otherwise
    // serialize every exchange
    val spark = (if (shm) b.config("spark.local.dir", "/dev/shm/graft-shuffle")
                 else b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
