package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.agg.Aggregates
import graft.export.Exporter
import graft.lineage.Lineage
import graft.model.Schemas
import graft.parse.ChatGptParser
import graft.route.Router

/** Scheduler counters of the jobs one span ran. */
final class SpanCounters {
  var jobs = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]

  def skew: Double =
    if (taskRunMs.isEmpty) 0.0
    else {
      val s = taskRunMs.sorted
      val med = s(s.size / 2)
      s.last.toDouble / math.max(med, 1L)
    }
}

/** Attributes jobs, stages and tasks to the span named by the
  * `perfbench.span` local property of the thread that ran the action. */
final class SpanListener extends SparkListener {
  import SpanListener.Key

  private val stageSpan = mutable.Map.empty[Int, String]
  private val bySpan = mutable.Map.empty[String, SpanCounters]

  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Key))).getOrElse("app")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    bySpan.getOrElseUpdate(s, new SpanCounters).jobs += 1
    e.stageIds.foreach(stageSpan(_) = s)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val s = spanOf(e.properties)
      if (s != "app" || !stageSpan.contains(e.stageInfo.stageId))
        stageSpan(e.stageInfo.stageId) = s
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = bySpan.getOrElseUpdate(
        stageSpan.getOrElse(e.stageId, "app"), new SpanCounters)
      c.taskMs += m.executorRunTime
      c.taskRunMs += m.executorRunTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def reset(): Unit = synchronized { stageSpan.clear(); bySpan.clear() }

  def snapshot(): Map[String, SpanCounters] = synchronized { bySpan.toMap }
}

object SpanListener {
  val Key = "perfbench.span"
}

/** Spans of one traced operation: wall time per span, the listener's
  * scheduler counters, and data counters read at the span boundary. */
final class Tracer(spark: SparkSession, val cores: Int) {
  private val sc: SparkContext = spark.sparkContext
  val listener = new SpanListener
  val walls = mutable.LinkedHashMap.empty[String, Double]
  val data = mutable.LinkedHashMap.empty[String, Double]
  /** Wall time of actions the traced run adds only for attribution. */
  var extraS = 0.0

  def attach(): Unit = { sc.addSparkListener(listener); reset() }
  def detach(): Unit = { drain(); sc.removeSparkListener(listener) }
  def drain(): Unit = PerfbenchBus.drain(sc)
  def reset(): Unit = {
    drain(); listener.reset(); walls.clear(); data.clear(); extraS = 0.0
  }

  def span[T](name: String)(body: => T): T = {
    sc.setLocalProperty(SpanListener.Key, name)
    val t0 = System.nanoTime()
    try body
    finally {
      walls(name) = walls.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(SpanListener.Key, null)
    }
  }

  /** `<span>.<counter>` for every span in `names` (0 for spans the
    * operation did not run), after draining the bus. */
  def spanMetrics(names: Seq[String]): Map[String, Double] = {
    drain()
    val counters = listener.snapshot()
    names.flatMap { n =>
      val wall = walls.getOrElse(n, 0.0)
      val c = counters.getOrElse(n, new SpanCounters)
      counterMetrics(n, wall, c)
    }.toMap
  }

  /** Whole-run counters over every job since the last reset. */
  def appMetrics(wall: Double): Map[String, Double] = {
    drain()
    val all = listener.snapshot().values
    val c = new SpanCounters
    all.foreach { x =>
      c.jobs += x.jobs; c.taskMs += x.taskMs
      c.shuffleWriteBytes += x.shuffleWriteBytes; c.spillBytes += x.spillBytes
    }
    counterMetrics("app", wall, c)
      .filter { case (k, _) => !k.endsWith(".wall_s") && !k.endsWith(".skew") }.toMap
  }

  private def counterMetrics(n: String, wall: Double,
      c: SpanCounters): Seq[(String, Double)] = {
    val taskS = c.taskMs / 1000.0
    Seq(
      s"$n.wall_s" -> wall,
      s"$n.task_s" -> taskS,
      s"$n.idle_core_s" -> (cores * wall - taskS),
      s"$n.jobs" -> c.jobs.toDouble,
      s"$n.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
      s"$n.spill_mb" -> c.spillBytes / 1e6,
      s"$n.skew" -> c.skew)
  }
}

/** `graft.app.Main parse` / `chain`, decomposed into the layer calls Main
  * makes, in Main's order, each inside a span. Outputs are the same files
  * Main writes. */
object TracedPipeline {

  val Spans: Seq[String] = Seq("parse.scan", "route.snapshot", "route.jsonl",
    "agg.summary", "lineage.index", "lineage.partitions", "lineage.changed",
    "export.read", "export.render_write")

  val DataCounters: Seq[String] = Seq("parse.rows_out", "parse.corrupt_lines",
    "route.jsonl.files", "export.parts", "lineage.skipped_threads")

  private val HotThreshold = 10000L // Main's default --hot-threshold
  private val Provider = "openai"

  def parse(t: Tracer, spark: SparkSession, input: String, outdir: String,
      resume: Boolean): ParseReport = {
    import spark.implicits._
    val providerDir = s"$outdir/$Provider"
    val indexRoot = s"$providerDir/thread_index"

    // parsing is lazy in Main; this parse-only action gives it a span
    t.span("parse.scan") {
      val t0 = System.nanoTime()
      val rawObs = observation("raw")
      val rowObs = observation("rows")
      ChatGptParser.normalize(
        corruptObserved(ChatGptParser.readRawAuto(spark, input), rawObs),
        Provider)
        .observe(rowObs, count(lit(1)).as("rows"))
        .write.format("noop").mode("overwrite").save()
      t.data("parse.rows_out") = rowObs.get("rows").asInstanceOf[Long]
      t.data("parse.corrupt_lines") =
        rawObs.get("corrupt_lines").asInstanceOf[Long]
      t.extraS += (System.nanoTime() - t0) / 1e9
    }

    val obs = observation("parse")
    val msgs = ChatGptParser.normalize(
      corruptObserved(ChatGptParser.readRawAuto(spark, input), obs), Provider)
    val prevIndex =
      if (resume && Lineage.threadIndexExists(spark, indexRoot))
        Some(Lineage.readThreadIndex(spark, indexRoot))
      else None
    val hotSet = prevIndex.map(_.filter(col("count") >= HotThreshold)
      .select("conversation_id"))
    val routedData = t.span("route.snapshot") {
      Router.writeRoutedSinks(msgs, providerDir,
        hotThreshold = HotThreshold, hotSet = hotSet)
    }
    val routed = spark.read.parquet(routedData)
    val stats = Aggregates.threadStats(routed)
    val (toProcess, skipped) = prevIndex match {
      case Some(prev) => t.span("lineage.changed") {
        val changed = Lineage.changedThreads(stats, prev)
          .select("conversation_id")
        val n = stats.count() - changed.count()
        (routed.join(changed, Seq("conversation_id")), n)
      }
      case None => (routed, 0L)
    }
    t.data("lineage.skipped_threads") = skipped.toDouble

    val typed = toProcess.select(Schemas.messageColumns.map(col): _*)
      .as[Schemas.Message]
    val jsonlStart = System.currentTimeMillis()
    t.span("route.jsonl") { Router.writeThreadJsonl(typed, outdir, Provider) }
    t.data("route.jsonl.files") =
      countNewer(Check.path(providerDir), jsonlStart).toDouble

    t.span("lineage.index") { Lineage.writeThreadIndex(stats, indexRoot) }
    val partitions = t.span("lineage.partitions") {
      Lineage.capturePartitions(routed).collect().toSeq
    }
    val summary = t.span("agg.summary") { Aggregates.runSummary(routed).head() }
    t.span("lineage.partitions") {
      Lineage.writeManifest(s"$providerDir/manifest.json", Provider,
        summary.getLong(0), "thread_index", partitions,
        corruptLines = obs.get("corrupt_lines").asInstanceOf[Long],
        hadoopConf = spark.sessionState.newHadoopConf())
    }
    ParseReport(summary.getLong(0), summary.getLong(1), skipped)
  }

  /** Main's export mode over the parsed tree `root`: JSONL read, then
    * render + pack + write. Returns the part count. */
  def export(t: Tracer, spark: SparkSession, root: String,
      outdir: String): Long = {
    val rows = t.span("export.read") {
      val glob = s"$root/*/thread-*/parsed.jsonl"
      // Main lists the glob on the driver before it reads it
      val globPath = new org.apache.hadoop.fs.Path(glob)
      globPath.getFileSystem(spark.sessionState.newHadoopConf())
        .globStatus(globPath)
      val rows = spark.read.schema(ExportSchema)
        .option("encoding", "UTF-8").json(glob)
        .filter(col("record_type") === "message")
        .withColumn("model", col("meta.model"))
        .drop("meta", "record_type")
      // the read is lazy past the file listing; a scan-only action
      // gives the JSON parse a span of its own
      val t0 = System.nanoTime()
      rows.write.format("noop").mode("overwrite").save()
      t.extraS += (System.nanoTime() - t0) / 1e9
      rows
    }
    val n = t.span("export.render_write") {
      Exporter.writeParts(Exporter.exportThreads(rows, "UTC", "light",
        Exporter.SplitConf.none), s"$outdir/md")
    }
    t.data("export.parts") = n.toDouble
    n
  }

  /** Names must be unique: the session keeps earlier operations'
    * observations registered. */
  private def observation(name: String) =
    new Observation(s"perfbench_${name}_${java.util.UUID.randomUUID()}")

  private def corruptObserved(raw: org.apache.spark.sql.DataFrame,
      obs: Observation) =
    raw.observe(obs, count(when(col("_corrupt_record").isNotNull &&
      col("mapping").isNull, 1)).as("corrupt_lines"))

  /** Main's export-side JSONL schema. */
  private val ExportSchema = StructType(Seq(
    StructField("record_type", StringType),
    StructField("provider_id", StringType),
    StructField("conversation_id", StringType),
    StructField("message_id", StringType),
    StructField("parent_id", StringType),
    StructField("role", StringType),
    StructField("ts", LongType),
    StructField("text", StringType),
    StructField("meta", StructType(Seq(StructField("model", StringType))))))

  /** parsed.jsonl files under `dir` modified at or after `sinceMs`. */
  private def countNewer(dir: java.nio.file.Path, sinceMs: Long): Int =
    Check.listFiles(dir).count { d =>
      val f = d.resolve("parsed.jsonl")
      java.nio.file.Files.isRegularFile(f) &&
        java.nio.file.Files.getLastModifiedTime(f).toMillis >= sinceMs
    }
}
