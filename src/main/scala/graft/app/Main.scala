package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.agg.Aggregates
import graft.export.Exporter
import graft.lineage.Lineage
import graft.model.Schemas
import graft.parse.{ChatGptParser, FastTranscriptParser, GrokParser}
import graft.route.Router

/** spark-submit entry point: `parse | export | chain` job modes
  * (reference CLI: cli.py:87-190; exit-code contract cli.py:431-439 —
  * 2 = input path, 4 = parsed-root missing, 99 = unexpected).
  *
  * Usage:
  *   graft.app.Main parse  --input FILE --outdir DIR [--provider P]
  *                         [--input-format json|text] [--resume]
  *                         [--locale en|ja]
  *   graft.app.Main export --parsed-root DIR --outdir DIR [--tz TZ]
  *                         [--formatting light|none] [--split SPEC]
  *                         [--validate-schema]
  *   graft.app.Main chain  --input FILE --outdir DIR [export opts]
  */
object Main {

  private final class UsageError(msg: String) extends RuntimeException(msg)

  def main(args: Array[String]): Unit = {
    val code =
      try run(args)
      catch {
        case e: UsageError =>
          System.err.println(e.getMessage)
          2
        case e: java.nio.file.NoSuchFileException =>
          System.err.println(
            I18n.msg("cli.error.path", "detail" -> e.getMessage))
          2
        case e: SecurityException =>
          System.err.println(
            I18n.msg("cli.error.permission", "detail" -> e.getMessage))
          3
        case e: Throwable =>
          System.err.println(I18n.msg("cli.error.unexpected",
            "detail" -> s"${e.getClass.getName}: ${e.getMessage}"))
          99
      }
    if (code != 0) sys.exit(code)
  }

  private def opt(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst {
      case Array(k, v) if k == s"--$name" => v
    }

  private def req(args: Array[String], name: String): String =
    opt(args, name).getOrElse(throw new UsageError(
      I18n.msg("cli.opt.required", "name" -> name)))

  private def flag(args: Array[String], name: String): Boolean =
    args.contains(s"--$name")

  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  private def session(): SparkSession = {
    val b = SparkSession.builder().appName("graft")
    // under spark-submit the master comes from the launcher; standalone
    // (sbt runMain / tests) falls back to local
    val withMaster =
      if (sys.props.contains("spark.master")) b else b.master(s"local[$cpus]")
    withMaster.getOrCreate()
  }

  /** The SQL confs a run needs. `getOrCreate` may return a session an
    * embedding application already runs (a benchmark, a test suite), so
    * they are set for the run only and restored after it. */
  private def runConfs: Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.adaptive.enabled" -> "true",
    // observed metrics are read from the FINAL adaptive plan, and this
    // rule swaps a stage that produced no rows for an EmptyRelation,
    // dropping the CollectMetrics it executed (an all-corrupt input
    // then reported 0 corrupt lines)
    "spark.sql.adaptive.optimizer.excludedRules" ->
      "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation",
    "spark.sql.session.timeZone" -> "UTC")

  private def withRunConfs[T](spark: SparkSession)(body: => T): T = {
    val before = spark.conf.getAll
    runConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally runConfs.foreach { case (k, _) =>
      before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  def run(args: Array[String]): Int = {
    // locale before any message can fire (reference: cli.py set_locale
    // on entry; --locale > LLP_LOCALE > en)
    I18n.setLocale(opt(args, "locale"))
    if (args.isEmpty) {
      System.err.println(I18n.msg("cli.usage"))
      return 2
    }
    val spark = session()
    spark.sparkContext.setLogLevel("WARN")
    withRunConfs(spark)(args.head match {
      case "parse" => parseMode(spark, args).fold(identity, _ => 0)
      case "export" => exportMode(spark, args)
      case "chain" =>
        // one DAG: Markdown renders from the routed snapshot parse just
        // committed, not from a re-listing and re-parse of the JSONL tree
        // it also wrote (that tree is an output, and it is what
        // --validate-schema checks)
        parseMode(spark, args).fold(identity, routed =>
          writeMarkdown(spark, args, exportOutdir(args), Some(routed),
            jsonlFiles(spark, req(args, "outdir"))))
      case other =>
        System.err.println(I18n.msg("cli.unknown_mode", "mode" -> other))
        2
    })
  }

  /** Path existence through the Hadoop FS of the path's scheme (local
    * java.nio checks would wrongly 404 hdfs:/s3a: inputs). */
  private def fsExists(spark: SparkSession, p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path)
  }

  /** parse: raw export JSON → normalized messages → per-thread JSONL +
    * routed (role, tool) snapshot sinks + distributed thread index +
    * pointer manifest with per-partition lineage. Returns the committed
    * routed snapshot (every thread of this run, resumed ones included),
    * or the exit code when the input is missing.
    */
  def parseMode(spark: SparkSession, args: Array[String])
      : Either[Int, DataFrame] = {
    import spark.implicits._
    val input = req(args, "input")
    val outdir = req(args, "outdir")
    val provider = opt(args, "provider").getOrElse("openai")
    if (!fsExists(spark, input)) {
      System.err.println(
        I18n.msg("cli.parse.input_missing", "path" -> input))
      return Left(2)
    }

    val hotThreshold = opt(args, "hot-threshold").map(_.toLong)
      .getOrElse(10000L) // ~ the reference's own max-thread-size model

    // parse-failure counter rides the SAME scan via observe (an extra
    // counting pass would re-parse all the raw input); the metric
    // materializes with the routed write action below
    // unique name: repeated parse runs in one session (chain, tests)
    // must not collide on the listener registration
    val obs = new org.apache.spark.sql.Observation(
      "parse_metrics_" + java.util.UUID.randomUUID())
    // every container parses to the conversation row (provider_id,
    // conversation_id, messages), so its kept-turn count is on the row
    // and the hot flag is set before the explode
    val conv = opt(args, "input-format").getOrElse("json") match {
      case "json" if !ChatGptParser.sniffMultiline(spark, input) =>
        // JSONL: the codegen scanner, one conversation per line
        FastTranscriptParser.conversations(
          FastTranscriptParser.readLines(spark, input), provider, Some(obs))
      case "json" =>
        ChatGptParser.conversations(ChatGptParser.readRawMultiline(spark, input)
          .observe(obs, ChatGptParser.corruptLines), provider)
      case "text" =>
        // plain-text transcript logs (grok wire format): one document
        // per FILE, conv id = file stem; turns with malformed headers
        // (null role/ts) are the text path's corrupt lines, warn-skipped
        // like the JSON path
        GrokParser.conversations(
          spark.read.option("wholetext", "true").text(input)
            .select(ChatGptParser.fileStem(input_file_name()).as("conv_id"),
              col("value").as("raw")),
          provider, obs)
      case other => throw new UsageError(
        I18n.msg("cli.parse.bad_format", "format" -> other))
    }
    val msgs = FastTranscriptParser.turns(
      conv.withColumn("hot", size(col("messages")) >= hotThreshold))
      .drop("turn_idx")

    val providerDir = s"$outdir/$provider"
    val manifestPath = s"$providerDir/manifest.json"
    val indexRoot = s"$providerDir/thread_index"

    // ONE pass over the raw input for the parse → routed snapshot write
    // itself. Every downstream stage reads the COLUMNAR routed table
    // back, with its known schema (no inference job), instead of
    // re-parsing raw input or caching the whole corpus in executor
    // memory (a full-corpus .cache() at the 10^12-turn target is most
    // of the cluster's RAM; parquet re-reads are pruned and cheap). The
    // snapshot commit also means a crashed run leaves the previous
    // routed tree readable and a --resume can never truncate unchanged
    // threads (round-1 bug).
    //
    // Adaptive salting of hot conversations rides the same pass: the
    // flag comes with the rows (see above), so no detection scan or
    // join runs, first run or resume, whatever the container.
    //
    // Thread stats are aggregated ONCE, and that one pass is the
    // thread-index write: on resume each row carries the previous
    // index's count (left join), and `observe` on the write yields the
    // run summary (threads, messages) and the resume skip count. The
    // JSONL rewrite set is then derived from the small staged index,
    // not from a second aggregation of the routed table. The index is
    // STAGED (data written, pointer not swapped) and published only
    // after the JSONL write, so a crash in between leaves the previous
    // index current and the next --resume rewrites the same threads.
    val prevIndex =
      if (flag(args, "resume") && Lineage.threadIndexExists(spark, indexRoot))
        Some(Lineage.readThreadIndex(spark, indexRoot))
      else None
    val routedData =
      Router.writeRoutedSinks(msgs, providerDir, hotColumn = Some("hot"))
    // `tool` itself is a regular column in the routed files; only
    // (role, tool_sink) are partition directories. A run that kept no
    // rows wrote no files, and reads back as an empty frame.
    val routed = spark.read
      .schema(msgs.select(Schemas.messageColumns.map(col): _*).schema
        .add("tool_sink", StringType))
      .parquet(routedData)

    val stats = Aggregates.threadStats(routed)
    val withPrev = prevIndex match {
      case Some(prev) => stats.join(prev.select(col("conversation_id"),
        col("count").as("prev_count")), Seq("conversation_id"), "left")
      case None => stats.withColumn("prev_count", lit(null).cast(LongType))
    }
    // thread index: distributed snapshot table — ALL threads (fixes the
    // reference bug of not re-indexing skipped ones, parser.py:271-274);
    // the driver holds only the bounded per-partition lineage + pointer
    val indexObs = new org.apache.spark.sql.Observation(
      "index_metrics_" + java.util.UUID.randomUUID())
    val index = new graft.table.SnapshotParquetTable(indexRoot)
    val staged = index.stage(Lineage.threadEntries(withPrev.observe(indexObs,
      count(lit(1)).as("threads"),
      sum(col("count")).as("messages"),
      count(when(col("prev_count") === col("count"), 1)).as("skipped")))
      .toDF())

    // resume: conversations unchanged vs the previous thread index are
    // skipped for the per-thread JSONL rewrite only. No broadcast
    // hint — on a first resume after large drift `changed` is
    // corpus-sized; AQE picks broadcast when it is actually small.
    val toProcess = prevIndex match {
      case Some(prev) =>
        val current = spark.read.schema(Lineage.threadEntrySchema)
          .parquet(staged.dataPath)
        routed.join(Lineage.changedThreads(current, prev)
          .select("conversation_id"), Seq("conversation_id"))
      case None => routed
    }
    val typed = toProcess
      .select(Schemas.messageColumns.map(col): _*)
      .as[Schemas.Message]
    Router.writeThreadJsonl(typed, outdir, provider)
    index.publish(spark, staged)

    val partitions = Lineage.capturePartitions(routed).collect().toSeq
    val threads = observed(indexObs, "threads")
    val messages = observed(indexObs, "messages")
    val skipped = observed(indexObs, "skipped")
    val corrupt = observed(obs, "corrupt_lines")
    Lineage.writeManifest(manifestPath, provider, threads,
      "thread_index", partitions, corruptLines = corrupt,
      hadoopConf = spark.sessionState.newHadoopConf())

    println(s"""{"mode":"parse","threads":$threads,""" +
      s""""messages":$messages,"skipped_threads":$skipped,""" +
      s""""corrupt_lines":$corrupt}""")
    // human summary on stderr, localized; stdout JSON stays stable
    System.err.println(I18n.msg("cli.parse.done",
      "threads" -> threads, "messages" -> messages))
    Right(routed)
  }

  /** A Long metric of an observation whose action has run; 0 when it
    * is null (a sum over no rows). */
  private def observed(obs: org.apache.spark.sql.Observation,
      name: String): Long = obs.get.get(name) match {
    case Some(n: Long) => n
    case _ => 0L
  }

  /** export: parsed JSONL tree → Markdown files (split-aware). */
  def exportMode(spark: SparkSession, args: Array[String]): Int = {
    val root = req(args, "parsed-root")
    val outdir = exportOutdir(args)
    if (!fsExists(spark, root)) {
      System.err.println(
        I18n.msg("cli.export.root_missing", "path" -> root))
      return 4
    }
    // a parse run that produced zero threads leaves no JSONL, and a read
    // of zero paths throws path-not-found — that is a legitimate empty
    // export (parts:0, schema 0/0), not an exit-99 crash
    val files = jsonlFiles(spark, root)
    val rows = if (files.isEmpty) None else Some(
      spark.read.schema(jsonlSchema)
        .option("encoding", "UTF-8")
        .json(files: _*)
        .filter(col("record_type") === "message")
        .withColumn("model", col("meta.model"))
        .drop("meta", "record_type"))
    writeMarkdown(spark, args, outdir, rows, files)
  }

  private def exportOutdir(args: Array[String]): String =
    opt(args, "export-outdir").getOrElse(req(args, "outdir"))

  private val jsonlSchema = StructType(Seq(
    StructField("record_type", StringType),
    StructField("provider_id", StringType),
    StructField("conversation_id", StringType),
    StructField("message_id", StringType),
    StructField("parent_id", StringType),
    StructField("role", StringType),
    StructField("ts", LongType),
    StructField("text", StringType),
    StructField("meta", StructType(Seq(StructField("model", StringType))))))

  /** The per-thread JSONL files under a parsed root, listed once on the
    * driver. Readers get these paths, not the glob: the glob is then
    * expanded once, and Spark's metadata-dir probe no longer warns about
    * a literal glob path that does not exist. Glob metacharacters in the
    * listed names are escaped, because readers glob their paths again
    * and a thread dir is named after its conversation id, which may hold
    * `[` or `{` (the id falls back to the input file's stem). */
  private def jsonlFiles(spark: SparkSession, root: String): Seq[String] = {
    val glob = new org.apache.hadoop.fs.Path(s"$root/*/thread-*/parsed.jsonl")
    Option(glob.getFileSystem(spark.sessionState.newHadoopConf())
      .globStatus(glob)).toSeq.flatten
      .map(_.getPath.toString.replaceAll("""([\\*?\[\]{}])""", """\\$1"""))
  }

  /** The export tail shared by `export` and `chain`: render + pack the
    * message rows (None = no threads), write the parts, optionally
    * validate the JSONL files, report. Render only sorts and reads
    * values, so rows with the same values give the same bytes whether
    * they come from the JSONL tree or from the routed snapshot that
    * tree was written from. */
  private def writeMarkdown(spark: SparkSession, args: Array[String],
      outdir: String, rows: Option[DataFrame], jsonl: => Seq[String]): Int = {
    val tz = opt(args, "tz").getOrElse("UTC")
    val formatting = opt(args, "formatting").getOrElse("light")
    val split = opt(args, "split").map(Exporter.SplitConf.parse)
      .getOrElse(Exporter.SplitConf.none)

    // writeParts counts via an accumulator inside the single write pass
    // (a separate parts.count() re-executed the whole render+pack
    // pipeline — round-1 double render)
    val nParts = rows.fold(0L)(r => Exporter.writeParts(
      Exporter.exportThreads(r, tz, formatting, split), s"$outdir/md"))

    // opt-in runtime JSON-Schema validation of the JSONL records as
    // written (reference: schema_validation.py is likewise opt-in); one
    // extra narrow text scan, only when requested
    val validated = if (flag(args, "validate-schema")) {
      val files = jsonl
      val (records, invalid) = if (files.isEmpty) (0L, 0L) else {
        val lines = spark.read.text(files: _*)
          .filter(col("value").contains("\"record_type\": \"message\""))
        val r = graft.parse.SchemaContract.summarize(
          graft.parse.SchemaContract.validateJsonl(lines)).head()
        (r.getLong(0), r.getLong(1))
      }
      s""","schema_records":$records,"schema_invalid":$invalid"""
    } else ""
    println(s"""{"mode":"export","parts":$nParts$validated}""")
    System.err.println(I18n.msg("cli.export.done", "parts" -> nParts))
    0
  }
}
