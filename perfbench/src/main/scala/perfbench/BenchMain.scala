package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark of `graft.app.Main`: one JVM, one operation at a
  * time, Spark local[4].
  *
  *   BenchMain --workload W --seed N --seconds S --trace 0|1 --work DIR
  *   BenchMain --selftest --work DIR
  *
  * Writes the result JSON to DIR/result.json (the runner prints it).
  */
object BenchMain {

  val Cores = 4

  /** A workload: how to build its inputs, and the timed operation. */
  sealed trait Workload {
    def name: String
    /** One set-up round: generates the corpus the operation reads. */
    def setup(spark: SparkSession, work: Path, seed: Long): Corpus
    /** One-time work after the set-up rounds, before the warm-up. */
    def base(work: Path): Unit = ()
    /** Puts `out` into the state the operation starts from (untimed). */
    def prepare(work: Path, out: Path): Unit = Io.delete(out)
    def args(c: Corpus, out: Path): Array[String]
    def resume: Boolean = false
  }

  /** Many ordinary conversations in a JSONL directory, `Main chain`. */
  object ChainThreads extends Workload {
    val name = "chain-threads"
    val Convs = 200
    def setup(spark: SparkSession, work: Path, seed: Long): Corpus = {
      Io.delete(work.resolve("input"))
      Corpus.threads(spark, work.resolve("input"), Convs, seed)
    }
    def args(c: Corpus, out: Path): Array[String] =
      Array("chain", "--input", c.input, "--outdir", out.toString)
  }

  /** The chain-threads corpus after a committed first parse; about 5% of
    * threads gain turns and about 1% are new. `Main parse --resume`. */
  object ResumeThreads extends Workload {
    val name = "resume-threads"
    def setup(spark: SparkSession, work: Path, seed: Long): Corpus = {
      Seq("base-input", "input").foreach(d => Io.delete(work.resolve(d)))
      val base = Corpus.threads(spark, work.resolve("base-input"),
        ChainThreads.Convs, seed)
      Corpus.resumeEdit(spark, work.resolve("input"), base, seed)
    }
    /** The committed first parse every operation resumes from. */
    override def base(work: Path): Unit = {
      val baseOut = work.resolve("base-out")
      Io.delete(baseOut)
      val (rc, _) = Bench.runMain(Array("parse", "--input",
        work.resolve("base-input").toString, "--outdir", baseOut.toString))
      if (rc != 0) sys.error(s"resume base parse exited $rc")
    }
    override def prepare(work: Path, out: Path): Unit = {
      Io.delete(out)
      Io.copyTree(work.resolve("base-out"), out)
    }
    def args(c: Corpus, out: Path): Array[String] =
      Array("parse", "--input", c.input, "--outdir", out.toString, "--resume")
    override def resume: Boolean = true
  }

  val Workloads: Seq[Workload] = Seq(ChainThreads, ResumeThreads)

  def main(args: Array[String]): Unit = {
    def opt(k: String): Option[String] =
      args.sliding(2).collectFirst { case Array(`k`, v) => v }
    val work = Paths.get(opt("--work").getOrElse(sys.error("--work required")))
    val spark = Bench.session(work)
    val code =
      try {
        val result =
          if (args.contains("--selftest")) SelfTest.run(spark, work)
          else {
            val w = Workloads.find(_.name == opt("--workload").getOrElse(""))
              .getOrElse(sys.error(s"unknown workload; one of " +
                Workloads.map(_.name).mkString(", ")))
            new Bench(spark, work, w, opt("--seed").getOrElse("1").toLong,
              opt("--seconds").getOrElse("10").toDouble,
              opt("--trace").contains("1")).run()
          }
        Files.write(work.resolve("result.json"), result.getBytes(UTF_8))
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      } finally spark.stop()
    System.exit(code)
  }
}

/** One benchmark run of one workload. */
final class Bench(spark: SparkSession, work: Path, w: BenchMain.Workload,
    seed: Long, seconds: Double, trace: Boolean) {
  import BenchMain.Cores

  private val out = work.resolve("out")
  private var attempted = 0
  private var failed = 0
  private var firstDigest: Option[String] = None

  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** Checks one operation's outputs; counts it as attempted and, on any
    * failed check, as failed. Checked outputs must match across every
    * operation of the run, traced or not. */
  private def check(c: Corpus, rc: Int, report: Option[ParseReport]): Unit = {
    attempted += 1
    val v = Check.run(spark, c, out, Check.sample(c, seed), rc, report,
      markdown = !w.resume)
    val mismatch = firstDigest.exists(_ != v.digest)
    if (firstDigest.isEmpty) firstDigest = Some(v.digest)
    if (!v.ok || mismatch) {
      failed += 1
      (v.failures ++ (if (mismatch) Seq("checked outputs differ from the " +
        "run's first operation") else Nil)).take(20).foreach(f => log(s"FAIL $f"))
    }
  }

  /** Untimed: the operation's starting state, and a collected heap so no
    * operation pays for the garbage of the one before. */
  private def prepare(): Unit = {
    w.prepare(work, out)
    System.gc()
  }

  /** The timed CLI call. */
  private def mainOp(c: Corpus): Io.Sample = {
    prepare()
    val (s, (rc, stdout)) = Io.timed {
      try Bench.runMain(w.args(c, out)) catch {
        case e: Exception => log(s"Main.run threw $e"); (-1, "")
      }
    }
    check(c, rc, Check.parseReport(stdout))
    s
  }

  /** The same operation through the traced layer calls. */
  private def tracedOp(c: Corpus, t: Tracer): Double = {
    prepare()
    t.reset()
    val t0 = System.nanoTime()
    val report = TracedPipeline.parse(t, spark, c.input, out.toString, w.resume)
    if (!w.resume)
      TracedPipeline.export(t, spark, out.toString, out.toString)
    val wall = (System.nanoTime() - t0) / 1e9
    check(c, 0, Some(report))
    wall
  }

  def run(): String = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    // set-up is repeated and its median reported; the last round's corpus
    // is the one measured
    val rounds = (1 to Bench.SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      val c = w.setup(spark, work, seed)
      ((System.nanoTime() - t0) / 1e9, c)
    }
    val corpus = rounds.last._2
    val t0 = System.nanoTime()
    w.base(work)
    val warm = (1 to Bench.WarmOps).map(_ => mainOp(corpus).wall)
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + Bench.median(rounds.map(_._1)) + warmS
    log(f"setup: session $sessionS%.2fs, rounds ${rounds.map(_._1).map(x => f"$x%.2f").mkString(",")}, warm-up $warmS%.2fs (ops ${warm.map(x => f"$x%.3f").mkString(",")})")

    val metrics =
      if (trace) traced(corpus)
      else untraced(corpus, setupS)
    log(f"run done at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1fs")
    val body = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s""""$k": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  private def untraced(c: Corpus, setupS: Double): Map[String, (Double, String)] = {
    val ops = Bench.timedLoop(seconds, Bench.MinOps)(mainOp(c))
    log("ops (wall s/cpu s/host steal share): " +
      ops.map(o => f"${o.wall}%.3f/${o.cpu}%.3f/${o.steal}%.3f").mkString(", "))
    val wall = Bench.median(ops.map(_.wall))
    Map(
      "turns_per_s" -> (c.turns.size / wall, "turns/s"),
      "wall_s" -> (wall, "s"),
      "setup_s" -> (setupS, "s"),
      "peak_rss_mb" -> (Io.peakRssMb(), "MB"),
      "out_bytes_per_turn" -> (Io.treeBytes(out).toDouble / c.turns.size, "B/turn"),
      "ok_rate" -> ((attempted - failed).toDouble / attempted, "ratio"))
  }

  private def traced(c: Corpus): Map[String, (Double, String)] = {
    val t = new Tracer(spark, Cores)
    val samples = Bench.timedLoop(seconds, 1) {
      val plain = mainOp(c).wall
      t.attach()
      val appWall = mainOp(c).wall
      val app = t.appMetrics(appWall)
      val tracedWall = tracedOp(c, t)
      val spans = t.spanMetrics(TracedPipeline.Spans)
      val derived = Map(
        "route.snapshot.self_s" ->
          (spans("route.snapshot.wall_s") - spans("parse.scan.wall_s")),
        "trace.overhead_ratio" -> ((tracedWall - t.extraS) / plain))
      t.detach()
      log(f"plain $plain%.3fs, listener-on $appWall%.3fs, traced $tracedWall%.3fs (extra ${t.extraS}%.3fs)")
      // data counters of layers the operation does not run read 0
      TracedPipeline.DataCounters.map(_ -> 0.0).toMap ++ app ++ spans ++
        t.data ++ derived
    }
    val keys = samples.head.keys
    keys.map { k =>
      k -> (Bench.median(samples.map(_.getOrElse(k, 0.0))), Bench.unit(k))
    }.toMap
  }
}

object Bench {
  val SetupRounds = 3
  /** Untimed operations before the timed loop, for the tiered JIT. On
    * chain-threads an operation falls from ~10.9 s (first) to ~4.1 s by
    * the fourth and a ~3.7 s plateau from the fifth; on resume-threads
    * from ~4.9 s to ~3.4 s by the fourth, then by 2–10% a step to ~2.9 s
    * and by under ~2% a step after that. More does not fit the run
    * budget. */
  val WarmOps = 4
  val MinOps = 3

  def session(work: Path): SparkSession = {
    val local = work.resolve("spark-local")
    Files.createDirectories(local)
    SparkSession.builder()
      .appName("perfbench")
      .master(s"local[${BenchMain.Cores}]")
      .config("spark.sql.shuffle.partitions", BenchMain.Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }

  /** `graft.app.Main.run` with its stdout captured; (exit code, stdout). */
  def runMain(args: Array[String]): (Int, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      graft.app.Main.run(args)
    }
    (rc, buf.toString("UTF-8"))
  }

  /** Runs `op` at least `minOps` times and until `seconds` have passed. */
  def timedLoop[T](seconds: Double, minOps: Int)(op: => T): Seq[T] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val b = Seq.newBuilder[T]
    var n = 0
    while (n < minOps || System.nanoTime() < end) { b += op; n += 1 }
    b.result()
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def unit(metric: String): String = metric.split('.').last match {
    case "wall_s" | "task_s" | "self_s" => "s"
    case "idle_core_s" => "core-s"
    case "shuffle_write_mb" | "spill_mb" => "MB"
    case "skew" | "overhead_ratio" => "ratio"
    case _ => "count"
  }
}

/** Local file helpers. */
object Io {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toVector.reverse.foreach(Files.delete)
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  /** One timed call: wall seconds, process CPU seconds, and the share of
    * the host's CPU ticks stolen by other guests meanwhile (from
    * /proc/stat; logged only, to tell a noisy neighbour from a slow
    * program). */
  final case class Sample(wall: Double, cpu: Double, steal: Double)

  def timed[T](body: => T): (Sample, T) = {
    val (k0, c0, t0) = (cpuTicks(), processCpuS(), System.nanoTime())
    val r = body
    val (k1, c1, t1) = (cpuTicks(), processCpuS(), System.nanoTime())
    val d = k1.zip(k0).map { case (a, b) => a - b }
    val stolen = if (d.sum > 0) d(7).toDouble / d.sum else 0.0
    (Sample((t1 - t0) / 1e9, c1 - c0, stolen), r)
  }

  /** user nice system idle iowait irq softirq steal, all CPUs, in ticks. */
  private def cpuTicks(): Array[Long] =
    Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .slice(1, 9).map(_.toLong)

  private def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** VmHWM of this JVM (local mode: driver and executors). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
}
