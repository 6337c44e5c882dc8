package graft.app

import java.time.ZoneId

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.export.Exporter
import graft.lineage.Lineage
import graft.model.Schemas
import graft.parse.{ChatGptParser, FastTranscriptParser, GrokParser}
import graft.route.Router
import graft.util.AtomicFiles

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
    val code = try run(args) catch { case e: Throwable => failure(e) }
    if (code != 0) sys.exit(code)
  }

  /** The exit code of a run that threw `e`; its message goes to stderr. */
  private[graft] def failure(e: Throwable): Int = e match {
    case e: UsageError =>
      System.err.println(e.getMessage)
      2
    case e: java.nio.file.NoSuchFileException =>
      System.err.println(I18n.msg("cli.error.path", "detail" -> e.getMessage))
      2
    case e: SecurityException =>
      System.err.println(
        I18n.msg("cli.error.permission", "detail" -> e.getMessage))
      3
    case e =>
      System.err.println(I18n.msg("cli.error.unexpected",
        "detail" -> s"${e.getClass.getName}: ${e.getMessage}"))
      99
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
      case "parse" => parseMode(spark, args, None).fold(identity, _ => 0)
      case "export" => exportMode(spark, args, exportConf(args))
      case "chain" =>
        // one DAG: the thread pass renders each thread's Markdown from
        // the conversation row it writes the thread's JSONL from, not
        // from a re-listing and re-parse of the JSONL tree (that tree is
        // an output, and it is what --validate-schema checks)
        val conf = exportConf(args)
        parseMode(spark, args, Some(conf)).fold(identity, parts =>
          exportReport(spark, args, parts,
            jsonlFiles(spark, req(args, "outdir"))))
      case other =>
        System.err.println(I18n.msg("cli.unknown_mode", "mode" -> other))
        2
    })
  }

  /** The export options, parsed on the driver before anything is
    * written: a bad value exits 2, not after the parse has committed
    * (or, for the zone, inside a render task). */
  private final case class ExportConf(outdir: String, tz: ZoneId,
      formatting: String, split: Exporter.SplitConf)

  private def exportConf(args: Array[String]): ExportConf = {
    def parsed[T](name: String, default: T)(parse: String => T): T =
      opt(args, name).fold(default) { v =>
        try parse(v) catch {
          case scala.util.control.NonFatal(_) => throw new UsageError(
            I18n.msg("cli.opt.invalid", "name" -> name, "value" -> v))
        }
      }
    ExportConf(exportOutdir(args), parsed("tz", ZoneId.of("UTC"))(ZoneId.of),
      opt(args, "formatting").getOrElse("light"),
      parsed("split", Exporter.SplitConf.none)(Exporter.SplitConf.parse))
  }

  /** Path existence through the Hadoop FS of the path's scheme (local
    * java.nio checks would wrongly 404 hdfs:/s3a: inputs). */
  private def fsExists(spark: SparkSession, p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    path.getFileSystem(spark.sessionState.newHadoopConf()).exists(path)
  }

  /** parse: raw export JSON → conversation rows → routed (role, tool)
    * snapshot sinks, then per-thread JSONL + distributed thread index
    * (+ with `markdown`, chain's Markdown parts) + pointer manifest with
    * per-partition lineage. Returns the number of Markdown parts
    * written, or the exit code when the input is missing.
    */
  private def parseMode(spark: SparkSession, args: Array[String],
      markdown: Option[ExportConf]): Either[Int, Long] = {
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

    // every container parses to the conversation row (provider_id,
    // conversation_id, messages), so its kept-turn count is on the row
    // and the hot flag is set before the explode; with an observation,
    // the same scan counts its corrupt lines
    val conversations: Option[Observation] => DataFrame =
      opt(args, "input-format").getOrElse("json") match {
        case "json" if !ChatGptParser.sniffMultiline(spark, input) =>
          // JSONL: the codegen scanner, one conversation per line
          FastTranscriptParser.conversations(
            FastTranscriptParser.readLines(spark, input), provider, _)
        case "json" => obs =>
          val raw = ChatGptParser.readRawMultiline(spark, input)
          ChatGptParser.conversations(
            obs.fold(raw)(raw.observe(_, ChatGptParser.corruptLines)),
            provider)
        case "text" =>
          // plain-text transcript logs (grok wire format): one document
          // per FILE, conv id = file stem; turns with malformed headers
          // (null role/ts) are the text path's corrupt lines, warn-skipped
          // like the JSON path
          GrokParser.conversations(
            spark.read.option("wholetext", "true").text(input)
              .select(ChatGptParser.fileStem(input_file_name()).as("conv_id"),
                col("value").as("raw")),
            provider, _)
        case other => throw new UsageError(
          I18n.msg("cli.parse.bad_format", "format" -> other))
      }
    val msgs = FastTranscriptParser.turns(conversations(None)
      .withColumn("hot", size(col("messages")) >= hotThreshold))
      .drop("turn_idx")

    val providerDir = s"$outdir/$provider"
    val manifestPath = s"$providerDir/manifest.json"
    val indexRoot = s"$providerDir/thread_index"

    // Routed pass: ONE scan of the raw input for the parse → routed
    // snapshot write. Adaptive salting of hot conversations rides it
    // (the flag comes with the rows, see above), and no observation
    // splits its codegen stage between the two explodes. The snapshot
    // commit means a crashed run leaves the previous routed tree
    // readable and a --resume can never truncate unchanged threads
    // (round-1 bug).
    val routedData =
      Router.writeRoutedSinks(msgs, providerDir, hotColumn = Some("hot"))

    // Thread pass: a second scan of the raw input (the conversation
    // row is cheap to rebuild, a routed re-read would have to regroup
    // message rows by conversation), ONE exchange of conversation rows
    // keyed by conversation_id, sorted within each task so the rows of
    // an id that several inputs share arrive adjacent and merge into one
    // thread. The partition count is explicit: the stage's work is one
    // file per thread, not bytes, and AQE would coalesce it into one
    // serial task. On resume each row carries the previous index's count
    // (left join, a conversation-sized join), and an unchanged thread's
    // JSONL is skipped. Each task writes its threads' parsed.jsonl (and
    // on chain every thread's Markdown parts) and yields the index rows
    // that this same job writes, observing the run summary on the way.
    // The index is STAGED (data written, pointer not swapped) and
    // published only after that job, so a crash in between leaves the
    // previous index current and the next --resume rewrites the same
    // threads.
    val prevIndex =
      if (flag(args, "resume") && Lineage.threadIndexExists(spark, indexRoot))
        Some(Lineage.readThreadIndex(spark, indexRoot))
      else None
    // unique names: repeated parse runs in one session (chain, tests)
    // must not collide on the listener registration
    val obs = new Observation("parse_metrics_" + java.util.UUID.randomUUID())
    val keyed = conversations(Some(obs))
      .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
        col("conversation_id"))
    // sorted after the join: the optimizer drops a sort below a join,
    // and a broadcast join keeps the partitioning but not an order
    val withPrev = (prevIndex match {
      case Some(prev) => keyed.join(prev.select(col("conversation_id"),
        col("count").as("prev_count")), Seq("conversation_id"), "left")
      case None => keyed.withColumn("prev_count", lit(null).cast(LongType))
    }).sortWithinPartitions("conversation_id")
    val hadoopConf = spark.sessionState.newHadoopConf()
    val jsonlOut = AtomicFiles.writer(outdir, hadoopConf)
    val mdOut = markdown.map(m => (m, AtomicFiles.writer(s"${m.outdir}/md",
      hadoopConf)))
    val threads = withPrev.as[ThreadRow]
      .mapPartitions(rows => writeThreads(rows, jsonlOut, mdOut))
    // thread index: distributed snapshot table — ALL threads (fixes the
    // reference bug of not re-indexing skipped ones, parser.py:271-274);
    // the driver holds only the bounded per-partition lineage + pointer
    val indexObs = new Observation(
      "index_metrics_" + java.util.UUID.randomUUID())
    val index = new graft.table.SnapshotParquetTable(indexRoot)
    val staged = index.stage(threads.observe(indexObs,
      count(lit(1)).as("threads"),
      sum(col("count")).as("messages"),
      count(when(col("skipped"), 1)).as("skipped"),
      sum(col("parts")).as("parts"))
      .select(Lineage.threadEntrySchema.fieldNames.toIndexedSeq.map(col): _*))
    index.publish(spark, staged)

    // `tool` itself is a regular column in the routed files; only
    // (role, tool_sink) are partition directories. A run that kept no
    // rows wrote no files, and reads back as an empty frame.
    val routed = spark.read
      .schema(msgs.select(Schemas.messageColumns.map(col): _*).schema
        .add("tool_sink", StringType))
      .parquet(routedData)
    val partitions = Lineage.capturePartitions(routed).collect().toSeq
    val nThreads = observed(indexObs, "threads")
    val messages = observed(indexObs, "messages")
    val skipped = observed(indexObs, "skipped")
    val corrupt = observed(obs, "corrupt_lines")
    Lineage.writeManifest(manifestPath, provider, nThreads,
      "thread_index", partitions, corruptLines = corrupt,
      hadoopConf = hadoopConf)

    println(s"""{"mode":"parse","threads":$nThreads,""" +
      s""""messages":$messages,"skipped_threads":$skipped,""" +
      s""""corrupt_lines":$corrupt}""")
    // human summary on stderr, localized; stdout JSON stays stable
    System.err.println(I18n.msg("cli.parse.done",
      "threads" -> nThreads, "messages" -> messages))
    Right(observed(indexObs, "parts"))
  }

  /** A conversation row of the thread pass, with its previous index
    * count on resume. */
  final case class ThreadRow(
      provider_id: String,
      conversation_id: String,
      messages: Seq[Schemas.ThreadMessage],
      prev_count: Option[Long])

  /** What the thread pass did with one thread: its index entry, whether
    * its JSONL was skipped as unchanged, and its Markdown part count. */
  final case class ThreadDone(
      conversation_id: String,
      count: Long,
      ts_min: Long,
      ts_max: Long,
      skipped: Boolean,
      parts: Int)

  /** One thread pass task over rows sorted by conversation_id: merge
    * the adjacent rows of each id into one thread, write its
    * parsed.jsonl unless the previous index holds its count, render and
    * write its Markdown parts when asked. A thread is one conversation
    * row (or the few rows sharing its id), so a task holds one thread's
    * messages at a time, not a group buffer. An id whose rows kept no
    * message is no thread. */
  private def writeThreads(rows: Iterator[ThreadRow],
      jsonl: AtomicFiles.Writer,
      markdown: Option[(ExportConf, AtomicFiles.Writer)])
      : Iterator[ThreadDone] = {
    val in = rows.buffered
    def sameId(cid: String) = in.hasNext && in.head.conversation_id == cid
    def nextThread(): ThreadRow = {
      val first = in.next()
      if (!sameId(first.conversation_id)) first
      else {
        val merged = first.messages.toBuffer
        while (sameId(first.conversation_id)) merged ++= in.next().messages
        first.copy(messages = merged.toSeq)
      }
    }
    Iterator.continually(in).takeWhile(_.hasNext).map(_ => nextThread())
      .filter(_.messages.nonEmpty).map { t =>
        val thread = Schemas.Conversation(t.provider_id, t.conversation_id,
          t.messages)
        val count = t.messages.size.toLong
        val skipped = t.prev_count.contains(count)
        if (!skipped) jsonl.write(
          s"${t.provider_id}/thread-${t.conversation_id}/parsed.jsonl",
          Router.threadContent(thread))
        val parts = markdown.fold(0) { case (conf, out) =>
          val ps = Exporter.renderConversation(thread, conf.tz,
            conf.formatting, conf.split)
          ps.foreach(p => out.write(p.file_name, p.content))
          ps.size
        }
        val ts = t.messages.map(_.ts)
        ThreadDone(t.conversation_id, count, ts.min, ts.max, skipped, parts)
      }
  }

  /** A Long metric of an observation whose action has run; 0 when it
    * is null (a sum over no rows). */
  private def observed(obs: org.apache.spark.sql.Observation,
      name: String): Long = obs.get.get(name) match {
    case Some(n: Long) => n
    case _ => 0L
  }

  /** export: parsed JSONL tree → Markdown files (split-aware). */
  private def exportMode(spark: SparkSession, args: Array[String],
      conf: ExportConf): Int = {
    val root = req(args, "parsed-root")
    if (!fsExists(spark, root)) {
      System.err.println(
        I18n.msg("cli.export.root_missing", "path" -> root))
      return 4
    }
    // a parse run that produced zero threads leaves no JSONL, and a read
    // of zero paths throws path-not-found — that is a legitimate empty
    // export (parts:0, schema 0/0), not an exit-99 crash
    val files = jsonlFiles(spark, root)
    // writeParts counts via an accumulator inside the single write pass
    // (a separate parts.count() re-executed the whole render+pack
    // pipeline — round-1 double render)
    val nParts = if (files.isEmpty) 0L else Exporter.writeParts(
      Exporter.exportThreads(
        spark.read.schema(jsonlSchema)
          .option("encoding", "UTF-8")
          .json(files: _*)
          .filter(col("record_type") === "message")
          .withColumn("model", col("meta.model"))
          .drop("meta", "record_type"),
        conf.tz.getId, conf.formatting, conf.split),
      s"${conf.outdir}/md")
    exportReport(spark, args, nParts, files)
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

  /** The export report shared by `export` and `chain`: optionally
    * validate the JSONL files, print the part count. */
  private def exportReport(spark: SparkSession, args: Array[String],
      nParts: Long, jsonl: => Seq[String]): Int = {
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
