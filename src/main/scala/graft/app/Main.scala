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
  *                         [--hot-threshold N] [--locale en|ja]
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

  /** An option's value through `parse`, or `default` when it is
    * absent; a value `parse` rejects is a usage error (exit 2), raised
    * on the driver before anything is written. */
  private def parsed[T](args: Array[String], name: String, default: T)(
      parse: String => T): T =
    opt(args, name).fold(default) { v =>
      try parse(v) catch {
        case scala.util.control.NonFatal(_) => throw new UsageError(
          I18n.msg("cli.opt.invalid", "name" -> name, "value" -> v))
      }
    }

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
      case "export" =>
        // each parsed.jsonl file → its thread's Markdown, in one scan
        val (conf, root) = (exportConf(args), req(args, "parsed-root"))
        if (fsExists(spark, root)) exportReport(spark, args,
          Router.threadFiles(spark, root), Some(conf), 0L)
        else {
          System.err.println(
            I18n.msg("cli.export.root_missing", "path" -> root))
          4
        }
      case "chain" =>
        // one DAG: the thread pass renders each thread's Markdown from
        // the conversation row it writes the thread's JSONL from, not
        // from a re-listing and re-parse of the JSONL tree (that tree is
        // an output, and it is what --validate-schema checks)
        val conf = exportConf(args)
        parseMode(spark, args, Some(conf)).fold(identity, parts =>
          exportReport(spark, args, if (!flag(args, "validate-schema")) Nil
            else Router.threadFiles(spark, req(args, "outdir")), None, parts))
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

  private def exportConf(args: Array[String]): ExportConf =
    ExportConf(exportOutdir(args),
      parsed(args, "tz", ZoneId.of("UTC"))(ZoneId.of),
      opt(args, "formatting").getOrElse("light"),
      parsed(args, "split", Exporter.SplitConf.none)(Exporter.SplitConf.parse))

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

    // ~ the reference's own max-thread-size model
    val hotThreshold = parsed(args, "hot-threshold", 10000L)(_.toLong)

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
          Exporter.writeThread(t.messages.map(m => Exporter.ExportMsg(
            t.conversation_id, t.provider_id, m.message_id, m.parent_id,
            m.role, Some(m.ts), m.text, None)),
            conf.tz, conf.formatting, conf.split, out)
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

  private def exportOutdir(args: Array[String]): String =
    opt(args, "export-outdir").getOrElse(req(args, "outdir"))

  /** The export report of `export` and `chain`, after one scan of the
    * listed parsed.jsonl files, a thread per file row (no regroup, no
    * exchange) that writes each thread's parts with `markdown` and counts
    * --validate-schema's message lines, both in one observation. */
  private def exportReport(spark: SparkSession, args: Array[String],
      files: Seq[String], markdown: Option[ExportConf], parts: Long): Int = {
    import spark.implicits._
    val validate = flag(args, "validate-schema")
    val obs = new Observation("export_metrics_" + java.util.UUID.randomUUID())
    if (files.nonEmpty) { // none: an empty export, not a path-not-found
      val all = Router.threadFileRows(spark, files)
      // unread counts are pruned from the scan's projection
      val rows = if (validate) all else
        all.select(col("messages"), lit(0).as("records"), lit(0).as("invalid"))
      markdown.fold(rows.select(lit(0), col("records"), col("invalid"))) {
        conf =>
          val out = AtomicFiles.writer(s"${conf.outdir}/md",
            spark.sessionState.newHadoopConf())
          rows.as[(Seq[Exporter.ExportMsg], Int, Int)].map { case (m, r, i) =>
            (Exporter.writeThread(m, conf.tz, conf.formatting, conf.split,
              out), r, i)
          }.toDF()
      }.toDF("parts", "records", "invalid")
        .observe(obs, sum("parts").as("parts"), sum("records").as("records"),
          sum("invalid").as("invalid"))
        .write.format("noop").mode("overwrite").save()
    }
    def n(name: String) = if (files.isEmpty) 0L else observed(obs, name)
    val validated = if (!validate) "" else
      s""","schema_records":${n("records")},"schema_invalid":${n("invalid")}"""
    val total = parts + n("parts")
    println(s"""{"mode":"export","parts":$total$validated}""")
    System.err.println(I18n.msg("cli.export.done", "parts" -> total))
    0
  }
}
