package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.app.Main

/** End-to-end job modes through the spark-submit entry point. */
class MainAppSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** `n` synthesized conversations as raw export JSONL, or with
    * `array` as one JSON array (conv 0 is a 400-turn mega thread);
    * returns the file's path. */
  private def rawCorpus(n: Int, array: Boolean = false): String = {
    val f = java.nio.file.Files.createTempFile("graft-raw",
      if (array) ".json" else ".jsonl")
    val convs = graft.gen.TranscriptGen.renderRawJsonl(
      graft.gen.TranscriptGen.synthesize(spark, n)).collect()
    java.nio.file.Files.write(f, (
      if (array) convs.mkString("[\n", ",\n", "\n]\n")
      else convs.mkString("\n") + "\n").getBytes("UTF-8"))
    f.toString
  }

  /** The files under `root` whose names satisfy `keep`: path relative to
    * `root` → bytes. */
  private def filesUnder(root: java.nio.file.Path,
      keep: String => Boolean): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        keep(p.getFileName.toString))
      .map(p => root.relativize(p).toString ->
        java.nio.file.Files.readAllBytes(p).toSeq)
      .toMap
  }

  /** The Markdown files under `out/md`: file name → bytes. */
  private def mdFiles(out: java.nio.file.Path): Map[String, Seq[Byte]] = {
    import scala.jdk.CollectionConverters._
    val dir = out.resolve("md")
    if (!java.nio.file.Files.isDirectory(dir)) Map.empty
    else java.nio.file.Files.list(dir).iterator().asScala.map { p =>
      p.getFileName.toString ->
        java.nio.file.Files.readAllBytes(p).toSeq
    }.toMap
  }

  private def stdoutOf(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(body)
    buf.toString("UTF-8")
  }

  test("chain: raw fixture → parsed JSONL + routed sinks + manifest → markdown") {
    val out = java.nio.file.Files.createTempDirectory("graft-app")
    val rc = Main.run(Array("chain",
      "--input", TestSpark.resource("/fixtures/openai_sample_multi.json"),
      "--outdir", out.toString))
    assert(rc === 0)
    val cid = "68b3eea1-1fc4-832c-878a-23896288675a"
    // parsed JSONL byte-equal to reference golden
    val got = java.nio.file.Files.readString(
      out.resolve(s"openai/thread-$cid/parsed.jsonl"))
    val want = java.nio.file.Files.readString(java.nio.file.Paths.get(
      TestSpark.resource("/golden/sample_multi_parsed.jsonl")))
    assert(got === want)
    // routed sinks: snapshot-committed with partition pruning layout
    val routed = new graft.table.SnapshotParquetTable(
      out.resolve("openai/routed").toString)
    val snap = routed.currentSnapshot(spark).get
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(snap.dataPath, "role=assistant")))
    assert(routed.read(spark).count() === 16L)
    // pointer manifest + distributed thread index
    val manifest = java.nio.file.Files.readString(
      out.resolve("openai/manifest.json"))
    assert(manifest.contains("\"path\": \"thread_index\""))
    assert(manifest.contains("\"threads\": 1"))
    assert(manifest.contains("\"partitions\""))
    val idx = graft.lineage.Lineage.readThreadIndex(spark,
      out.resolve("openai/thread_index").toString)
    assert(idx.filter(org.apache.spark.sql.functions.col("count") === 16)
      .count() === 1L)
    // markdown produced and byte-equal to the reference export
    val md = java.nio.file.Files.readString(
      out.resolve(s"md/thread-$cid.md"))
    val wantMd = java.nio.file.Files.readString(java.nio.file.Paths.get(
      TestSpark.resource("/golden/sample_multi_export.md")))
    assert(md === wantMd)
    // opt-in runtime JSON-Schema validation (P2): every emitted message
    // record validates against the message contract
    val outStream = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outStream, true, "UTF-8")) {
      assert(Main.run(Array("export", "--parsed-root", out.toString,
        "--outdir", out.toString, "--validate-schema")) === 0)
    }
    assert(outStream.toString("UTF-8")
      .contains(""""schema_records":16,"schema_invalid":0"""))
  }

  test("chain renders the same Markdown as parse + standalone export") {
    // chain renders from the routed snapshot, export from the JSONL tree
    // written from it: same rows, so the same files, byte for byte
    val in = rawCorpus(120)
    Seq(Seq("--split", "count=7"),
        Seq("--formatting", "none", "--tz", "Asia/Tokyo")).foreach { opts =>
      val a = java.nio.file.Files.createTempDirectory("graft-chain")
      val b = java.nio.file.Files.createTempDirectory("graft-parse-export")
      assert(Main.run(Array("chain", "--input", in,
        "--outdir", a.toString) ++ opts) === 0)
      assert(Main.run(Array("parse", "--input", in,
        "--outdir", b.toString)) === 0)
      assert(Main.run(Array("export", "--parsed-root", b.toString,
        "--outdir", b.toString) ++ opts) === 0)
      val (viaChain, viaExport) = (mdFiles(a), mdFiles(b))
      assert(viaChain.size >= 120, opts)
      assert(viaChain.keySet === viaExport.keySet, opts)
      viaChain.foreach { case (name, bytes) =>
        assert(bytes === viaExport(name), s"$name ${opts.mkString(" ")}")
      }
    }
  }

  test("chain renders only this run's threads; --resume renders them all") {
    val out = java.nio.file.Files.createTempDirectory("graft-chain-stale")
    // a thread another run left in the outdir; the `[1]` in its id also
    // pins that export's listed JSONL paths are read literally, not as
    // globs
    val staleCid = "stale[1]"
    val staleDir = out.resolve(s"openai/thread-$staleCid")
    java.nio.file.Files.createDirectories(staleDir)
    java.nio.file.Files.writeString(staleDir.resolve("parsed.jsonl"),
      graft.route.Router.threadHeaderLine("openai", staleCid, 1) + "\n" +
        graft.route.Router.messageJsonLine("openai", staleCid,
          graft.model.Schemas.ThreadMessage("m-1", Some("m-0"), "user",
            None, 1700000000000L, "text", Seq("left over"), "left over")) +
        "\n")
    val staleMd = s"thread-$staleCid.md"

    assert(Main.run(Array("chain", "--input", rawCorpus(20),
      "--outdir", out.toString)) === 0)
    val first = mdFiles(out)
    assert(first.size === 20)
    assert(!first.contains(staleMd), "chain must render its own threads only")

    // standalone export keeps the reference's rglob: every JSONL under
    // the root, the leftover included
    val exported = java.nio.file.Files.createTempDirectory("graft-export-all")
    val report = stdoutOf {
      assert(Main.run(Array("export", "--parsed-root", out.toString,
        "--outdir", exported.toString, "--validate-schema")) === 0)
    }
    assert(report.contains(""""parts":21,"""), report)
    assert(report.contains(""""schema_invalid":0"""), report)
    val all = mdFiles(exported)
    assert(all.keySet === first.keySet + staleMd)
    first.foreach { case (name, bytes) => assert(all(name) === bytes, name) }

    // resume after one added thread: JSONL is rewritten for the new
    // thread only, but Markdown is rendered for every thread of the run
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(out.resolve("md")).iterator().asScala.toSeq
      .reverse.foreach(p => java.nio.file.Files.delete(p))
    val resumed = stdoutOf {
      assert(Main.run(Array("chain", "--input", rawCorpus(21),
        "--outdir", out.toString, "--resume")) === 0)
    }
    assert(resumed.contains(""""skipped_threads":20"""), resumed)
    val again = mdFiles(out)
    assert(again.size === 21)
    assert(!again.contains(staleMd))
    first.foreach { case (name, bytes) => assert(again(name) === bytes, name) }
  }

  test("parse --input-format text: routed sinks match the JSON path") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the SAME logical conversations through both front doors: the
    // synthesized corpus rendered (a) as raw ChatGPT-export JSONL and
    // (b) as grok wire-format text files (one per conversation,
    // A12-ordered like the JSON path's (ts, message_id) sort)
    val turns = graft.gen.TranscriptGen.synthesize(spark, 20)
    val work = java.nio.file.Files.createTempDirectory("graft-textmode")
    val jsonIn = s"$work/raw.jsonl"
    java.nio.file.Files.write(
      java.nio.file.Paths.get(jsonIn),
      (graft.gen.TranscriptGen.renderRawJsonl(turns).collect()
        .mkString("\n") + "\n").getBytes("UTF-8"))
    val textDir = java.nio.file.Files.createDirectory(
      java.nio.file.Paths.get(s"$work/text"))
    val renderIn = turns.select(
      col("conv_id"), col("role"), col("tool"),
      timestamp_millis(col("ts_ms")).as("ts"), col("text"),
      // positional event id from the message id suffix keeps text-side
      // turn order identical to the JSON path's (ts, message_id) sort
      substring(col("message_id"), -6, 6).cast("long").as("event_id"))
    graft.parse.GrokParser.render(renderIn).collect().foreach { r =>
      java.nio.file.Files.write(
        textDir.resolve(s"${r.getString(0)}.txt"),
        r.getString(1).getBytes("UTF-8"))
    }
    val outJson = java.nio.file.Files.createTempDirectory("graft-tm-json")
    val outText = java.nio.file.Files.createTempDirectory("graft-tm-text")
    assert(Main.run(Array("parse", "--input", jsonIn,
      "--outdir", outJson.toString)) === 0)
    assert(Main.run(Array("parse", "--input", textDir.toString,
      "--input-format", "text", "--provider", "openai",
      "--outdir", outText.toString)) === 0)
    def sinks(out: java.nio.file.Path) = {
      val t = new graft.table.SnapshotParquetTable(
        out.resolve("openai/routed").toString).read(spark)
      t.select("conversation_id", "role", "tool_sink", "tool", "ts",
        "text")
    }
    val j = sinks(outJson)
    val t = sinks(outText)
    assert(j.count() > 0)
    assert(j.exceptAll(t).count() === 0L, "JSON-path rows missing in text path")
    assert(t.exceptAll(j).count() === 0L, "text-path rows missing in JSON path")
  }

  test("parse --resume skips unchanged threads, routed sinks stay complete") {
    val out = java.nio.file.Files.createTempDirectory("graft-resume")
    val in = TestSpark.resource("/fixtures/openai_sample_multi.json")
    assert(Main.run(Array("parse", "--input", in,
      "--outdir", out.toString)) === 0)
    val routed = new graft.table.SnapshotParquetTable(
      out.resolve("openai/routed").toString)
    val before = routed.read(spark).count()
    // second run with --resume: index says unchanged → JSONL skipped,
    // but the routed snapshot must still hold EVERY thread's rows
    // (round-1 bug: subset write under Overwrite truncated routed/)
    assert(Main.run(Array("parse", "--input", in,
      "--outdir", out.toString, "--resume")) === 0)
    assert(routed.read(spark).count() === before,
      "resume must not drop unchanged threads from routed sinks")
    val idx = graft.lineage.Lineage.readThreadIndex(spark,
      out.resolve("openai/thread_index").toString)
    assert(idx.filter(org.apache.spark.sql.functions.col("count") === 16)
      .count() === 1L) // still fully indexed
  }

  test("parse records corrupt-line count in summary and manifest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-corrupt")
    val in = dir.resolve("raw.jsonl")
    val good = java.nio.file.Files.readString(java.nio.file.Paths.get(
      TestSpark.resource("/fixtures/openai_sample.json")))
      .replace("\n", " ")
    java.nio.file.Files.writeString(in,
      good + "\n{broken json!!\n" + "not json at all\n")
    val outBuf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outBuf)) {
      assert(Main.run(Array("parse", "--input", in.toString,
        "--outdir", s"$dir/out")) === 0)
    }
    assert(outBuf.toString.contains("\"corrupt_lines\":2"),
      outBuf.toString)
    val manifest = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/out/openai/manifest.json"))
    assert(manifest.contains("\"corrupt_lines\": 2"))
  }

  test("parse of an empty or all-corrupt export: zero threads, exact corrupt count") {
    val dir = java.nio.file.Files.createTempDirectory("graft-empty-in")
    Seq("empty.json" -> ("[]\n", 0),
        // both lines open with '{', so the input sniffs as JSONL
        "corrupt.jsonl" -> ("{broken json!!\n{\"truncated\": \n", 2))
      .foreach { case (name, (content, corrupt)) =>
        val in = dir.resolve(name)
        java.nio.file.Files.writeString(in, content)
        val out = s"$dir/out-$name"
        val report = stdoutOf {
          assert(Main.run(Array("parse", "--input", in.toString,
            "--outdir", out)) === 0, name)
        }
        assert(report.contains(""""threads":0,"messages":0,"""), report)
        assert(report.contains(s""""corrupt_lines":$corrupt}"""), report)
        val manifest = java.nio.file.Files.readString(
          java.nio.file.Paths.get(s"$out/openai/manifest.json"))
        assert(manifest.contains("\"threads\": 0"), manifest)
        assert(manifest.contains(s""""corrupt_lines": $corrupt,"""), manifest)
      }
  }

  /** Spark jobs started by `body`, counted by a listener once the
    * listener bus has drained. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      body
      org.apache.spark.TestBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    n.get
  }

  test("job counts: parse --resume and chain keep their folded passes") {
    // JSONL and a JSON array parse to the same conversation rows, so
    // they start the same jobs
    Seq(false, true).foreach { array =>
      val (base, grown) = (rawCorpus(40, array), rawCorpus(42, array))
      val out = java.nio.file.Files.createTempDirectory("graft-jobs")
      assert(Main.run(Array("parse", "--input", base,
        "--outdir", out.toString)) === 0)
      val resume = jobsOf {
        val report = stdoutOf {
          assert(Main.run(Array("parse", "--input", grown,
            "--outdir", out.toString, "--resume")) === 0)
        }
        assert(report.contains(""""skipped_threads":40,"""), report)
      }
      val chainOut =
        java.nio.file.Files.createTempDirectory("graft-jobs-chain")
      val chain = jobsOf {
        assert(Main.run(Array("chain", "--input", base,
          "--outdir", chainOut.toString)) === 0)
      }
      // chain 5: the routed write (2: its exchange's map stage, the
      // write), the thread pass (2: its exchange of conversation rows,
      // the write of JSONL, Markdown and staged index), capturePartitions
      // (1); resume 6 adds the previous index's side of the join. A stray
      // action (a `.count()`, a schemaless parquet read, a stats
      // aggregation or regroup of the routed rows, a hot-set detection
      // scan or broadcast) adds at least one job
      assert((resume, chain) === ((6, 5)), s"array=$array")
    }
  }

  /** The executed plans of the queries `body` runs: (action, plan). */
  private def plansOf(body: => Unit)
      : Seq[(String, org.apache.spark.sql.execution.SparkPlan)] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, org.apache.spark.sql.execution.SparkPlan)]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(action: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        plans.add(action -> qe.executedPlan)
      override def onFailure(action: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    org.apache.spark.TestBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.TestBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  test("routed pass observes nothing; thread pass: one conversation exchange") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // AdaptiveSparkPlanHelper's traversal descends into adaptive plans
    // and their query stages
    object Nodes extends adaptive.AdaptiveSparkPlanHelper
    def writesTo(dir: String)(p: (String, SparkPlan)) = Nodes.collect(p._2) {
      case command.DataWritingCommandExec(
          w: datasources.InsertIntoHadoopFsRelationCommand, _) => w
    }.exists(_.outputPath.toString.contains(s"/openai/$dir/snap-"))
    def scans(plan: SparkPlan, dir: String) = Nodes.collect(plan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains(dir)) => s
    }
    val (base, grown) = (rawCorpus(40), rawCorpus(42))
    val out = java.nio.file.Files.createTempDirectory("graft-plans")
    Seq(
      "chain" -> Array("chain", "--input", base, "--outdir", out.toString),
      "resume" -> Array("parse", "--input", grown, "--outdir", out.toString,
        "--resume")).foreach { case (run, args) =>
      val plans = plansOf(assert(Main.run(args) === 0, run))
      val Seq(routedWrite) = plans.filter(writesTo("routed")).map(_._2)
      val Seq(threadPass) = plans.filter(writesTo("thread_index")).map(_._2)
      // no CollectMetrics between the scanner's explode and the explode
      // into turns: the routed pass's codegen stage stays whole
      assert(Nodes.collect(routedWrite) { case c: CollectMetricsExec => c }
        .isEmpty, s"$run:\n$routedWrite")
      // the corrupt-line count rides the thread pass's scan, once
      val corrupt = plans.flatMap(p => Nodes.collect(p._2) {
        case c: CollectMetricsExec if c.metricExpressions.exists(
          _.name == "corrupt_lines") => c
      })
      assert(corrupt.size === 1, s"$run:\n$threadPass")
      assert(Nodes.collect(threadPass) { case c: CollectMetricsExec
        if c.metricExpressions.exists(_.name == "corrupt_lines") => c
      }.size === 1, s"$run:\n$threadPass")
      val conversationExchanges = Nodes.collect(threadPass) {
        case e: ShuffleExchangeExec
            if e.output.exists(_.name == "messages") => e
      }
      assert(conversationExchanges.size === 1, s"$run:\n$threadPass")
      // the routed snapshot is read back by capturePartitions only
      val routedReaders = plans.filter(p => scans(p._2, "/routed/").nonEmpty)
      assert(routedReaders.map(_._1) === Seq("collect"), s"$run: " +
        routedReaders.map(_._2).mkString("\n"))
    }
  }

  test("a bad --split or --tz exits 2 before anything is written") {
    val in = rawCorpus(3)
    Seq(Seq("--split", "bogus"), Seq("--split", "count=x"),
        Seq("--tz", "Bad/Zone")).foreach { opts =>
      val out = java.nio.file.Files.createTempDirectory("graft-bad-opt")
      val chain = intercept[RuntimeException](Main.run(
        Array("chain", "--input", in, "--outdir", out.toString) ++ opts))
      assert(Main.failure(chain) === 2, opts)
      assert(chain.getMessage.contains(opts.head), opts)
      Seq("openai/routed", "openai/thread_index", "md").foreach { d =>
        assert(!java.nio.file.Files.exists(out.resolve(d)), s"$d $opts")
      }
      assert(filesUnder(out, _ == "parsed.jsonl").isEmpty, opts)
      // export checks them before it renders, too
      assert(Main.run(Array("parse", "--input", in, "--outdir",
        out.toString)) === 0)
      val export = intercept[RuntimeException](Main.run(Array("export",
        "--parsed-root", out.toString, "--outdir", out.toString) ++ opts))
      assert(Main.failure(export) === 2, opts)
      assert(!java.nio.file.Files.exists(out.resolve("md")), opts)
    }
  }

  test("one thread per conversation_id across input files and tasks") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def node(id: String, ts: String) =
      s""""$id": {"id": "$id", "message": {"id": "$id", "author": """ +
        s"""{"role": "user"}, "create_time": $ts, "content": """ +
        s"""{"parts": ["text $id"]}}}"""
    def conv(cid: Option[String], nodes: String*) =
      cid.fold("{")(c => s"""{"conversation_id": "$c", """) +
        s""""mapping": {${nodes.mkString(", ")}}}\n"""
    val dir = java.nio.file.Files.createTempDirectory("graft-dup-ids")
    val in = java.nio.file.Files.createDirectory(dir.resolve("in"))
    // `dup` in both files; `m2b` sorts before `m3` at the same ts. The
    // two id-less conversations of a.jsonl both take the stem id `a`
    java.nio.file.Files.writeString(in.resolve("a.jsonl"),
      conv(Some("dup"), node("m3", "3.0"), node("m1", "1.0")) +
        conv(None, node("s2", "5.0")) + conv(None, node("s1", "4.0")))
    java.nio.file.Files.writeString(in.resolve("b.jsonl"),
      conv(Some("dup"), node("m2b", "3.0"), node("m2", "2.0")))
    assert(spark.read.text(in.toString).rdd.getNumPartitions === 2,
      "each file must be its own input task")
    val out = dir.resolve("out")
    def chain(extra: String*) = stdoutOf {
      assert(Main.run(Array("chain", "--input", in.toString,
        "--outdir", out.toString) ++ extra) === 0)
    }
    val first = chain()
    assert(first.contains(
      """"threads":2,"messages":6,"skipped_threads":0,"""), first)
    val want =
      Map("dup" -> Seq("m1", "m2", "m2b", "m3"), "a" -> Seq("s1", "s2"))
    val routed = new graft.table.SnapshotParquetTable(
      out.resolve("openai/routed").toString).read(spark)
      .select(graft.model.Schemas.messageColumns.map(col): _*)
      .as[graft.model.Schemas.Message]
    val regrouped = graft.route.Router.threadJsonl(routed).collect().toMap
    want.foreach { case (cid, ids) =>
      val jsonl = java.nio.file.Files.readString(
        out.resolve(s"openai/thread-$cid/parsed.jsonl"))
      val lines = jsonl.linesIterator.toSeq
      assert(lines.head.contains(s""""message_count": ${ids.size}}"""), jsonl)
      assert(lines.tail.map(_.split("\"message_id\": \"")(1)
        .takeWhile(_ != '"')) === ids, jsonl)
      // the same bytes as the message-row regroup of the routed rows
      assert(jsonl === regrouped(cid), cid)
    }
    val idx = graft.lineage.Lineage.readThreadIndex(spark,
      out.resolve("openai/thread_index").toString)
      .select("conversation_id", "count").as[(String, Long)].collect()
    assert(idx.toSeq.sorted === Seq("a" -> 2L, "dup" -> 4L))
    val md = mdFiles(out)
    assert(md.keySet === Set("thread-a.md", "thread-dup.md"))
    assert(new String(md("thread-dup.md").toArray, "UTF-8")
      .contains("\nmessages: 4\n"))
    val resumed = chain("--resume")
    assert(resumed.contains(
      """"threads":2,"messages":6,"skipped_threads":2,"""), resumed)
    assert(mdFiles(out) === md)
  }

  test("container sniff: only an array or a lone `{` first line is multiLine") {
    import graft.parse.ChatGptParser
    val dir = java.nio.file.Files.createTempDirectory("graft-sniff-cases")
    val compact = java.nio.file.Files.readString(java.nio.file.Paths.get(
      TestSpark.resource("/fixtures/openai_sample.json"))).replace("\n", " ")
    // both fixtures are pretty single objects (`json.dump(indent=…)`);
    // the multi fixture's goldens are pinned by the chain test above
    Seq("/fixtures/openai_sample.json", "/fixtures/openai_sample_multi.json")
      .foreach(f => assert(ChatGptParser.sniffMultiline(spark,
        TestSpark.resource(f)), f))
    // name -> (content, multiLine, threads, corrupt lines)
    Seq(
      "junk.jsonl" -> ("{broken json!!\nnot json at all\n", false, 0, 2),
      "good-then-junk.jsonl" ->
        (compact + "\nnot json at all\n", false, 1, 1),
      "array.json" -> ("[\n" + compact + "\n]\n", true, 1, 0),
      "one-line.json" -> (compact + "\n", false, 1, 0))
      .foreach { case (name, (content, multi, threads, corrupt)) =>
        val in = dir.resolve(name)
        java.nio.file.Files.writeString(in, content)
        assert(ChatGptParser.sniffMultiline(spark, in.toString) === multi,
          name)
        val report = stdoutOf {
          assert(Main.run(Array("parse", "--input", in.toString,
            "--outdir", s"$dir/out-$name")) === 0, name)
        }
        assert(report.contains(s""""threads":$threads,"""), s"$name $report")
        assert(report.contains(s""""corrupt_lines":$corrupt}"""),
          s"$name $report")
      }
  }

  test("JSONL parse equals normalize(readRawJsonl) on hostile lines") {
    import org.apache.spark.sql.functions._
    import graft.model.Schemas
    import graft.parse.ChatGptParser
    def node(id: String, role: String, ct: String, parts: String,
        nodeCt: String = "null") =
      s""""$id": {"id": "$id", "parent": null, "create_time": $nodeCt, """ +
        s""""message": {"id": "$id", "author": {"role": $role}, """ +
        s""""create_time": $ct, "content": {"content_type": "text", """ +
        s""""parts": $parts}}}"""
    def conv(cid: Option[String], nodes: String*) =
      cid.fold("{")(c => s"""{"conversation_id": "$c", """) +
        s""""mapping": {${nodes.mkString(", ")}}}"""
    val lines = Seq(
      // a BOM before the first line's object
      "\uFEFF" + conv(Some("bom"), node("b1", "\"user\"", "1.5", "[\"hi\"]")),
      "", "   \t ", // blank lines are skipped, not corrupt
      // create_time 0.0 is falsy: node create_time, else the turn drops
      conv(Some("zero"), node("z1", "\"user\"", "0.0", "[\"x\"]", "7.25"),
        node("z2", "\"assistant\"", "0.0", "[\"y\"]")),
      // pre-1970: ms truncate toward zero, like Python int()
      conv(Some("pre1970"), node("p1", "\"user\"", "-1.5", "[\"old\"]"),
        node("p2", "\"user\"", "-0.0005", "[\"o2\"]")),
      conv(Some("nonstr"), node("n1", "\"user\"", "3.0",
        """["a", 1, {"x": 1}, null, true, ["l"], "b"]""")),
      // two id-less conversations: both take the file stem
      conv(None, node("s1", "\"user\"", "4.0", "[\"stem a\"]")),
      conv(None, node("s2", "\"assistant\"", "5.0", "[\"stem b\"]")),
      "{broken json!!",
      "not json at all",
      "123",
      conv(Some("trunc"), node("t1", "\"user\"", "9.0", "[\"t\"]"))
        .dropRight(1),
      // documented divergences, asserted below as their values
      conv(Some("dupkey"), node("d1", "\"user\"", "1.0", "[\"d\"]"),
        """"d2": {"message": {"id": "d2", "author": {"role": "user"}, """ +
          """"create_time": 2.0, "create_time": null, """ +
          """"content": {"parts": ["e"]}}}"""),
      conv(Some("numrole"), """"r1": {"message": {"id": "r1", "role": """ +
        """"user", "author": {"role": 123}, "create_time": 1.0, """ +
        """"content": {"parts": ["r"]}}}"""),
      "[" + conv(Some("arr"), node("a1", "\"user\"", "1.0", "[\"a\"]")) + "]")
    val dir = java.nio.file.Files.createTempDirectory("graft-hostile")
    val in = dir.resolve("hostile.jsonl")
    java.nio.file.Files.writeString(in, lines.mkString("\n") + "\n")
    val out = dir.resolve("out")
    val report = stdoutOf {
      assert(Main.run(Array("chain", "--input", in.toString,
        "--outdir", out.toString)) === 0)
    }
    // the 4 unparseable lines and the array line; not the blank ones
    assert(report.contains(""""corrupt_lines":5}"""), report)

    val cols = Schemas.messageColumns.map(col)
    val viaMain = new graft.table.SnapshotParquetTable(
      out.resolve("openai/routed").toString).read(spark).select(cols: _*)
    val raw = ChatGptParser.readRawJsonl(spark, in.toString)
    // Spark's reader reads the array line's element as a record
    assert(raw.select(ChatGptParser.corruptLines).head().getLong(0) === 4L)
    val generic = ChatGptParser.normalize(raw).select(cols: _*)
    val divergent = Seq("dupkey", "numrole", "arr")
    val (m, g) = (viaMain.filter(!col("conversation_id").isin(divergent: _*)),
      generic.filter(!col("conversation_id").isin(divergent: _*)))
    assert(m.count() === 7L)
    assert(m.exceptAll(g).count() === 0L, "rows only in Main's parse")
    assert(g.exceptAll(m).count() === 0L, "rows only in normalize")

    def tsOf(df: org.apache.spark.sql.DataFrame, cid: String) =
      df.filter(col("conversation_id") === cid).orderBy("message_id")
        .select("message_id", "ts").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(tsOf(viaMain, "zero") === Seq("z1" -> 7250L))
    assert(tsOf(viaMain, "pre1970") === Seq("p1" -> -1500L, "p2" -> 0L))
    assert(viaMain.filter(col("conversation_id") === "nonstr")
      .select("text").head().getString(0) === "a\nb")
    assert(tsOf(viaMain, "bom") === Seq("b1" -> 1500L))
    // duplicate key with a later null: the scanner keeps the earlier
    // value, Spark's reader (like CPython) the later one
    assert(tsOf(viaMain, "dupkey") === Seq("d1" -> 1000L, "d2" -> 2000L))
    assert(tsOf(generic, "dupkey") === Seq("d1" -> 1000L))
    // numeric author.role: the scanner falls through to message.role,
    // Spark's reader stringifies it
    def roleOf(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("conversation_id") === "numrole").select("role")
        .head().getString(0)
    assert(roleOf(viaMain) === "user")
    assert(roleOf(generic) === "123")
    assert(viaMain.filter(col("conversation_id") === "arr").count() === 0L)
    assert(generic.filter(col("conversation_id") === "arr").count() === 1L)

    // the two id-less conversations share the stem id, and so one thread
    // in parsed.jsonl and in the Markdown
    val jsonl = java.nio.file.Files.readString(
      out.resolve("openai/thread-hostile/parsed.jsonl"))
    assert(jsonl.linesIterator.next().contains("\"message_count\": 2"), jsonl)
    assert(jsonl.contains("stem a") && jsonl.contains("stem b"), jsonl)
    val md = mdFiles(out)
    assert(md.keySet.count(_.startsWith("thread-hostile")) === 1, md.keySet)
    val hostileMd = new String(md("thread-hostile.md").toArray, "UTF-8")
    assert(hostileMd.contains("stem a") && hostileMd.contains("stem b"))
  }

  test("id-less conversations take the decoded file stem: JSONL, single object, text") {
    import org.apache.spark.sql.functions._
    // input_file_name() URL-encodes these names: a space, glob brackets,
    // `%` (a second decode would turn `%41` into `A`), `+` (url_decode
    // alone reads it as a space) and non-ASCII letters
    val nonAscii = Seq("ü[1]", "naïve")
    // a JVM whose file-name charset is ASCII (a POSIX locale) can neither
    // create nor list a non-ASCII file name; the UTF-8 decode of its
    // escapes is then checked on the URI alone
    val jnu = java.nio.charset.Charset.forName(
      System.getProperty("sun.jnu.encoding", "UTF-8"))
    val stems = Seq("my conv", "50%41", "a+b", "x[1]") ++
      nonAscii.filter(jnu.newEncoder().canEncode(_))
    val decoded = spark.range(1).select(graft.parse.ChatGptParser.fileStem(
      lit("file:///in/%C3%BC%5B1%5D.jsonl"))).head().getString(0)
    assert(decoded === "ü[1]")
    val mapping = """"mapping": {"m1": {"message": {"id": "m1", """ +
      """"author": {"role": "user"}, "create_time": 1.0, """ +
      """"content": {"parts": ["hello"]}}}}"""
    val inputs = Seq(
      // one conversation per line, no conversation_id
      ("jsonl", ".jsonl", Seq.empty[String], (_: String) => s"{$mapping}\n"),
      // pretty-printed single object: a first line of exactly `{`
      ("single", ".json", Seq.empty[String], (_: String) => s"{\n  $mapping\n}\n"),
      ("text", ".txt", Seq("--input-format", "text"),
        (s: String) => s"### user 1000\nhello $s\n"))
    inputs.foreach { case (kind, ext, extra, content) =>
      val work = java.nio.file.Files.createTempDirectory(s"graft-stem-$kind")
      val in = java.nio.file.Files.createDirectory(work.resolve("in"))
      stems.foreach(s => java.nio.file.Files.writeString(
        in.resolve(s + ext), content(s)))
      val out = work.resolve("out")
      assert(Main.run(Array("chain", "--input", in.toString,
        "--outdir", out.toString) ++ extra) === 0, kind)
      val ids = new graft.table.SnapshotParquetTable(
        out.resolve("openai/routed").toString).read(spark)
        .select("conversation_id").distinct().collect().map(_.getString(0))
      assert(ids.toSet === stems.toSet, kind)
      stems.foreach { s =>
        val jsonl = out.resolve(s"openai/thread-$s/parsed.jsonl")
        assert(java.nio.file.Files.exists(jsonl), s"$kind: $jsonl")
      }
      val md = mdFiles(out)
      assert(md.keySet === stems.map(s => s"thread-$s.md").toSet, kind)
      stems.foreach { s =>
        assert(new String(md(s"thread-$s.md").toArray, "UTF-8")
          .contains(s"\nthread: $s\n"), s"$kind: $s")
      }
      // a standalone export finds the same tree and renders the same
      val exported = work.resolve("export")
      assert(Main.run(Array("export", "--parsed-root", out.toString,
        "--outdir", exported.toString)) === 0, kind)
      assert(mdFiles(exported) === md, kind)
    }
  }

  test("pre-1970 fractional create_time through chain --validate-schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pre1970")
    val in = dir.resolve("old.jsonl")
    java.nio.file.Files.writeString(in,
      """{"conversation_id": "old", "mapping": {"m1": {"message": """ +
        """{"id": "m1", "author": {"role": "user"}, """ +
        """"create_time": -12345.6789, "content": {"parts": ["x"]}}}}}""" +
        "\n")
    val out = dir.resolve("out")
    val report = stdoutOf {
      assert(Main.run(Array("chain", "--input", in.toString,
        "--outdir", out.toString, "--validate-schema")) === 0)
    }
    // int(-12345678.9) truncates toward zero, like Python int()
    val ts = new graft.table.SnapshotParquetTable(
      out.resolve("openai/routed").toString).read(spark)
      .select("ts").collect().map(_.getLong(0)).toSeq
    assert(ts === Seq(-12345678L))
    val jsonl = java.nio.file.Files.readString(
      out.resolve("openai/thread-old/parsed.jsonl"))
    assert(jsonl.contains("\"ts\": -12345678,"), jsonl)
    // the reference's _ts_to_seconds reads any value below 1e11 as
    // seconds, negative epoch-ms included; expected strings computed
    // with python3 from that formula:
    //   sec = ts / 1000.0 if ts >= 1e11 else ts
    //   d = datetime.fromtimestamp(sec, timezone.utc)
    //   d.strftime("%Y-%m-%d %H:%M"), d.isoformat()
    val md = new String(mdFiles(out)("thread-old.md").toArray, "UTF-8")
    assert(md.contains("\n## [user] 1969-08-11 02:38\n"), md)
    assert(md.contains("range: 1969-08-11T02:38:42+00:00 〜 " +
      "1969-08-11T02:38:42+00:00\n"), md)
    // the message schema's "ts": {"minimum": 0} rejects the record
    assert(report.contains(""""schema_records":1,"schema_invalid":1}"""),
      report)
  }

  test("hot conversation: salted from its row, no detection job") {
    import org.apache.spark.sql.functions._
    // conv 0 has 400 turns, the others far fewer; JSONL and a JSON array
    // both carry the flag on the conversation row
    val inputs = Seq("jsonl" -> rawCorpus(40), "array" -> rawCorpus(40, true))
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    // without coalescing, each non-empty shuffle partition of the
    // routed write's (role, tool_sink, salt) exchange is one file per
    // sink directory
    spark.conf.set(coalesce, "false")
    try inputs.foreach { case (kind, in) =>
      def chainJobs(threshold: String) = {
        val out = java.nio.file.Files.createTempDirectory("graft-hot")
        val jobs = jobsOf {
          assert(Main.run(Array("chain", "--input", in, "--outdir",
            out.toString, "--hot-threshold", threshold)) === 0, kind)
        }
        (jobs, out)
      }
      val (hotJobs, out) = chainJobs("100")
      val files = new graft.table.SnapshotParquetTable(
        out.resolve("openai/routed").toString).read(spark)
        .select(col("conversation_id"), input_file_name().as("f"))
        .groupBy("conversation_id")
        .agg(countDistinct("f").as("files"), count(lit(1)).as("rows"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val sinks = new graft.table.SnapshotParquetTable(
        out.resolve("openai/routed").toString).read(spark)
        .groupBy("conversation_id")
        .agg(countDistinct("role", "tool_sink").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val mega = "conv-000000000"
      assert(files(mega) >= 4L,
        s"$kind: hot conversation in ${files(mega)} files")
      // every other conversation: one file per sink it has rows in
      files.filterNot(_._1 == mega).foreach { case (c, n) =>
        assert(n === sinks(c), s"$kind: $c spread over $n files")
      }
      // the flag comes with the parsed rows: a run with no hot
      // conversation, and one that salts every conversation (threshold
      // 0 never ran detection), start the same number of jobs
      assert(chainJobs("1000000")._1 === hotJobs, kind)
      assert(chainJobs("0")._1 === hotJobs, kind)
    } finally spark.conf.unset(coalesce)
  }

  test("chain over a JSON array equals chain over the same JSONL") {
    import org.apache.spark.sql.functions._
    // the same synthesized conversations in both containers; conv 0
    // (400 turns) is hot at this threshold
    val outs = Seq(false, true).map { array =>
      val in = rawCorpus(40, array)
      val out = java.nio.file.Files.createTempDirectory("graft-container")
      val report = stdoutOf {
        assert(Main.run(Array("chain", "--input", in, "--outdir",
          out.toString, "--hot-threshold", "100")) === 0, s"array=$array")
      }
      (out, report)
    }
    val Seq((jsonl, jsonlReport), (array, arrayReport)) = outs
    assert(arrayReport === jsonlReport)
    assert(jsonlReport.contains(""""threads":40,"""), jsonlReport)
    def routed(out: java.nio.file.Path) =
      new graft.table.SnapshotParquetTable(
        out.resolve("openai/routed").toString).read(spark)
        .select((graft.model.Schemas.messageColumns :+ "tool_sink")
          .map(col): _*)
    val (j, a) = (routed(jsonl), routed(array))
    assert(j.count() > 400L)
    assert(j.exceptAll(a).count() === 0L, "rows only in the JSONL run")
    assert(a.exceptAll(j).count() === 0L, "rows only in the array run")
    val parsed = (out: java.nio.file.Path) =>
      filesUnder(out.resolve("openai"), _ == "parsed.jsonl")
    assert(parsed(jsonl).size === 40)
    assert(parsed(array) === parsed(jsonl))
    assert(mdFiles(jsonl).size >= 40)
    assert(mdFiles(array) === mdFiles(jsonl))
  }

  test("parse --input-format text: exact corrupt_lines, threads, messages") {
    val dir = java.nio.file.Files.createTempDirectory("graft-text-corrupt")
    val in = java.nio.file.Files.createDirectory(dir.resolve("in"))
    // a.txt: two good turns around two malformed headers (a ts that is
    // not a number, a header with no role); b.txt: malformed only
    java.nio.file.Files.writeString(in.resolve("a.txt"),
      "### user 1000\nhello\n### user abc\nbad ts\n" +
        "### 123\nno role\n### assistant 2000\nhi\n")
    java.nio.file.Files.writeString(in.resolve("b.txt"), "### 123\nx\n")
    val out = dir.resolve("out")
    val report = stdoutOf {
      assert(Main.run(Array("parse", "--input", in.toString,
        "--input-format", "text", "--outdir", out.toString)) === 0)
    }
    assert(report.contains(""""threads":1,"messages":2,""" +
      """"skipped_threads":0,"corrupt_lines":3}"""), report)
    // message ids are positional over every turn, malformed ones too
    val jsonl = java.nio.file.Files.readString(
      out.resolve("openai/thread-a/parsed.jsonl"))
    assert(jsonl.contains(""""message_id": "a-0", "parent_id": null,"""),
      jsonl)
    assert(jsonl.contains(""""message_id": "a-3", "parent_id": "a-2","""),
      jsonl)
    assert(!java.nio.file.Files.exists(out.resolve("openai/thread-b")))
  }

  test("Main.run leaves the embedding session's SQL confs as it found them") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.optimizer.excludedRules")
    val shuffle = spark.conf.get(keys.head)
    spark.conf.set(keys.head, "3") // not what Main sets
    try {
      val before = keys.map(spark.conf.getAll.get)
      val out = java.nio.file.Files.createTempDirectory("graft-confs")
      assert(Main.run(Array("parse", "--input",
        TestSpark.resource("/fixtures/openai_sample_multi.json"),
        "--outdir", out.toString)) === 0)
      assert(keys.map(spark.conf.getAll.get) === before)
      assert(before === Seq(Some("3"), None))
    } finally spark.conf.set(keys.head, shuffle)
  }

  test("readRawAuto sniffs containers through the Hadoop FS (file:// URI)") {
    import graft.parse.ChatGptParser
    // single-object multiline fixture via an explicit scheme — the
    // java.nio sniffer this replaces could not open scheme'd paths
    val p = "file://" + TestSpark.resource("/fixtures/openai_sample_multi.json")
    assert(ChatGptParser.normalize(
      ChatGptParser.readRawAuto(spark, p)).count() === 16L)
    // directory of JSONL part files (the scale shape) sniffs as JSONL
    val dir = java.nio.file.Files.createTempDirectory("graft-sniff")
    graft.gen.TranscriptGen.renderRawJsonl(
      graft.gen.TranscriptGen.synthesize(spark, 5))
      .write.mode("overwrite").text(s"$dir/raw")
    assert(graft.parse.ChatGptParser.normalize(
      ChatGptParser.readRawAuto(spark, s"$dir/raw")).count() > 0L)
  }

  test("parse 10^5 conversations with a 512 MiB driver (index never collected)") {
    val base =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
        "/dev/shm"
      else System.getProperty("java.io.tmpdir")
    val work = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(base), "graft-big")
    try {
      val raw = s"$work/raw"
      graft.gen.TranscriptGen.renderRawJsonl(
        graft.gen.TranscriptGen.synthesize(spark, 100000, baseTurns = 2,
          megaFactor = 200))
        .write.mode("overwrite").text(raw)
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
        .flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
      val cmd = Seq(
        s"${System.getProperty("java.home")}/bin/java",
        "-Xmx512m", "-XX:+UseParallelGC", "-Dfile.encoding=UTF-8",
        "-Dspark.ui.enabled=false") ++ addOpens ++ Seq(
        "-cp", System.getProperty("java.class.path"),
        "graft.app.Main", "parse",
        "--input", raw, "--outdir", s"$work/out")
      val pb = new ProcessBuilder(cmd: _*)
      pb.environment().put("SPARK_GRAFT_CPUS", "4")
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val log = new String(proc.getInputStream.readAllBytes())
      val rc = proc.waitFor()
      assert(rc === 0, s"capped-driver parse failed:\n${log.takeRight(3000)}")
      val idx = graft.lineage.Lineage.readThreadIndex(spark,
        s"$work/out/openai/thread_index")
      assert(idx.count() === 100000L)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(work).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("chain --export-outdir: Markdown under it, JSONL under --outdir") {
    val out = java.nio.file.Files.createTempDirectory("graft-chain-out")
    val mdOut = java.nio.file.Files.createTempDirectory("graft-chain-md")
    val cid = "68b3eea1-1fc4-832c-878a-23896288675a"
    assert(Main.run(Array("chain",
      "--input", TestSpark.resource("/fixtures/openai_sample_multi.json"),
      "--outdir", out.toString, "--export-outdir", mdOut.toString)) === 0)
    assert(java.nio.file.Files.isRegularFile(
      out.resolve(s"openai/thread-$cid/parsed.jsonl")))
    assert(mdFiles(mdOut).keySet === Set(s"thread-$cid.md"))
    assert(!java.nio.file.Files.exists(out.resolve("md")))
    assert(!java.nio.file.Files.exists(mdOut.resolve("openai")))
  }

  test("export: meta.model reaches the front matter models list, sorted and distinct") {
    // a hand-written parsed tree: four messages, three with a model
    // ("b" twice), one with no meta at all
    val root = java.nio.file.Files.createTempDirectory("graft-models")
    def msg(id: String, ts: Long, meta: String) =
      s"""{"record_type": "message", "provider_id": "openai", """ +
        s""""conversation_id": "cm", "message_id": "$id", """ +
        s""""parent_id": null, "role": "assistant", "ts": $ts, """ +
        s""""content": {"content_type": "text", "parts": ["x"]}, """ +
        s""""text": "x"$meta}"""
    val dir = root.resolve("openai/thread-cm")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.writeString(dir.resolve("parsed.jsonl"), Seq(
      """{"record_type": "thread", "provider_id": "openai", """ +
        """"conversation_id": "cm", "message_count": 4}""",
      msg("m1", 1000L, """, "meta": {"model": "b"}"""),
      msg("m2", 2000L, """, "meta": {"model": "a"}"""),
      msg("m3", 3000L, """, "meta": {"model": "b"}"""),
      msg("m4", 4000L, "")).mkString("", "\n", "\n"))
    assert(stdoutOf {
      assert(Main.run(Array("export", "--parsed-root", root.toString,
        "--outdir", root.toString)) === 0)
    }.contains(""""parts":1"""))
    val md = java.nio.file.Files.readString(root.resolve("md/thread-cm.md"))
    assert(md.linesIterator.contains("""models: ["a", "b"]"""), md)
  }

  test("export of a zero-thread parsed root reports parts:0 + schema 0/0, not 99") {
    // an existing root with no thread-*/parsed.jsonl underneath: both
    // export reads glob nothing — must be an empty export, not a crash
    val root = java.nio.file.Files.createTempDirectory("graft-empty-root")
    val out = java.nio.file.Files.createTempDirectory("graft-empty-out")
    val outStream = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outStream, true, "UTF-8")) {
      assert(Main.run(Array("export", "--parsed-root", root.toString,
        "--outdir", out.toString, "--validate-schema")) === 0)
    }
    assert(outStream.toString("UTF-8").contains(
      """"parts":0,"schema_records":0,"schema_invalid":0"""))
  }

  test("exit codes: missing input=2, missing parsed root=4, bad mode=2") {
    assert(Main.run(Array("parse", "--input", "/nope.json",
      "--outdir", "/tmp/x")) === 2)
    assert(Main.run(Array("export", "--parsed-root", "/nope",
      "--outdir", "/tmp/x")) === 4)
    assert(Main.run(Array("frobnicate")) === 2)
  }
}
