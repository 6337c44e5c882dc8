package graft.route

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.model.Schemas.{Conversation, Message, ThreadMessage}
import graft.util.PyJson

/** Router stage: fan parsed turns out to per-role / per-tool sinks and
  * to per-thread JSONL files (the reference's
  * `<outdir>/<provider>/thread-<cid>/parsed.jsonl`, parser.py:280-324).
  *
  * Scale design:
  *  - The role/tool fan-out is ONE partitioned write
  *    (`partitionBy(role, tool)`) — Spark's dynamic partition insert
  *    routes rows to sink directories without per-sink jobs or extra
  *    shuffles. A pre-write `repartition(role, tool, salt)` spreads hot
  *    sinks (role=assistant is ~40% of rows) across tasks; the salt is
  *    on message_id so ordering inside a file is irrelevant (readers
  *    re-sort by the window key anyway).
  *  - Partition pruning: downstream per-sink queries
  *    (`WHERE role='tool' AND tool='python'`) scan only their directory.
  *  - Per-thread JSONL is a function of one conversation row
  *    ([[threadContent]]). `Main` renders it in its thread pass straight
  *    from the parsed conversation rows, so the product path never
  *    regroups message rows; [[threadJsonl]] regroups message rows into
  *    that row shape for callers that hold messages (perfbench, tests).
  */
object Router {

  /** Pre-write distribution for the routed fan-out.
    *
    * saltBuckets > 0 bounds the task set feeding each sink (file-count
    * control on a 1000-executor cluster: tasks × sinks files
    * otherwise); saltBuckets = 0 skips the exchange entirely.
    *
    * hotThreshold > 0 switches to ADAPTIVE salting (SURVEY §4.2.3):
    * conversations above the threshold are salted by message_id (a
    * mega-conversation then spreads over saltBuckets tasks instead of
    * serializing one), while every normal conversation keeps
    * whole-conversation locality (salt = hash(conv)), so its rows land
    * in one task's files and range scans stay clustered. The hot set is
    * broadcast — by definition it is small (count ≥ threshold caps its
    * size at totalRows / threshold).
    *
    * Where the hot flag comes from matters for scan count, in order of
    * preference:
    *  - `hotColumn`: a boolean column of `msgs` already flagging the
    *    rows of hot conversations. `Main` computes it on the
    *    conversation row of every container (`size(messages) >=
    *    threshold`), so it costs no scan and no join; the threshold then
    *    plays no part here. The column is dropped from the result.
    *  - `hotSet`: a conversation_id DataFrame from cheap prior knowledge
    *    (a previous run's thread index), broadcast-joined.
    *  - neither: detection is a `groupBy(conv).count` OVER THE INPUT.
    * These two have no product caller: perfbench's `TracedPipeline` and
    * PipelineSpec "adaptive salting" use them; remove them in the
    * benchmark PR that realigns `TracedPipeline`.
    */
  def saltedForRouting(
      msgs: DataFrame,
      saltBuckets: Int,
      hotThreshold: Long = 0L,
      hotSet: Option[DataFrame] = None,
      hotColumn: Option[String] = None): DataFrame = {
    val withSink =
      msgs.withColumn("tool_sink", coalesce(col("tool"), lit("none")))
    val salted =
      if (saltBuckets <= 0) withSink
      else if (hotColumn.isEmpty && hotThreshold <= 0L)
        withSink.withColumn("__salt",
          pmod(xxhash64(col("message_id")), lit(saltBuckets)))
      else {
        val (flagged, isHot) = hotColumn match {
          case Some(c) => (withSink, col(c))
          case None =>
            val hot = hotSet
              .map(_.select(col("conversation_id"), lit(true).as("__hot")))
              .getOrElse(msgs.groupBy(col("conversation_id"))
                .agg(count(lit(1)).as("__cnt"))
                .filter(col("__cnt") >= hotThreshold)
                .select(col("conversation_id"), lit(true).as("__hot")))
            (withSink.join(broadcast(hot), Seq("conversation_id"), "left"),
              col("__hot"))
        }
        flagged
          .withColumn("__salt",
            when(isHot,
              pmod(xxhash64(col("message_id")), lit(saltBuckets)))
              .otherwise(pmod(xxhash64(col("conversation_id")),
                lit(saltBuckets))))
          .drop("__hot")
      }
    hotColumn.fold(salted)(salted.drop)
  }

  /** Single partitioned parquet write fanning out all (role, tool)
    * sinks, committed as a [[graft.table.SnapshotParquetTable]]
    * snapshot (atomic pointer swap — a crashed run can never truncate
    * the previous routed tree, which SaveMode.Overwrite would).
    * Returns the committed snapshot's DATA path (read it directly, or
    * read the table root via SnapshotParquetTable).
    */
  def writeRoutedSinks(
      msgs: DataFrame,
      outDir: String,
      saltBuckets: Int = 8,
      hotThreshold: Long = 0L,
      hotSet: Option[DataFrame] = None,
      hotColumn: Option[String] = None): String = {
    val salted =
      saltedForRouting(msgs, saltBuckets, hotThreshold, hotSet, hotColumn)
    val distributed =
      if (salted.columns.contains("__salt"))
        salted.repartition(col("role"), col("tool_sink"), col("__salt"))
          .drop("__salt")
      else salted
    new graft.table.SnapshotParquetTable(s"$outDir/routed")
      .commit(distributed, Seq("role", "tool_sink")).dataPath
  }

  /** Render one message of thread `cid` as the reference's exact JSONL
    * byte format (Python json.dumps ensure_ascii=True, field order of
    * parser.py:316-321 — note the reference line has NO tool field).
    */
  def messageJsonLine(provider: String, cid: String,
      m: ThreadMessage): String = PyJson.obj(
    "record_type" -> PyJson.str("message"),
    "provider_id" -> PyJson.str(provider),
    "conversation_id" -> PyJson.str(cid),
    "message_id" -> PyJson.str(m.message_id),
    "parent_id" -> m.parent_id.map(PyJson.str).getOrElse("null"),
    "role" -> PyJson.str(m.role),
    "ts" -> m.ts.toString,
    "content" -> PyJson.obj(
      "content_type" -> PyJson.str(m.content_type),
      "parts" -> PyJson.arr(m.parts)),
    "text" -> PyJson.str(m.text))

  def threadHeaderLine(provider: String, cid: String, count: Int): String =
    PyJson.obj(
      "record_type" -> PyJson.str("thread"),
      "provider_id" -> PyJson.str(provider),
      "conversation_id" -> PyJson.str(cid),
      "message_count" -> count.toString)

  /** One thread's parsed.jsonl content: header line + messages sorted by
    * (ts, message_id), LF endings — byte-equal to the reference's
    * parsed.jsonl. A conversation row is already in that order, so the
    * stable sort runs only for rows merged under one id (or ordered by
    * another string collation). */
  def threadContent(c: Conversation): String = {
    val ordered =
      if (c.messages.lazyZip(c.messages.drop(1)).forall(inOrder)) c.messages
      else c.messages.sortBy(m => (m.ts, m.message_id))
    val sb = new StringBuilder
    sb.append(threadHeaderLine(c.provider_id, c.conversation_id,
      ordered.size)).append('\n')
    ordered.foreach(m => sb.append(
      messageJsonLine(c.provider_id, c.conversation_id, m)).append('\n'))
    sb.toString
  }

  private def inOrder(a: ThreadMessage, b: ThreadMessage): Boolean =
    a.ts < b.ts || (a.ts == b.ts && a.message_id.compareTo(b.message_id) <= 0)

  /** The parsed.jsonl files under a parsed root, one per thread dir
    * name: of several provider dirs holding `thread-<cid>`, the last in
    * sorted order keeps it, whose render stays last in the reference's
    * export over `sorted(rglob)` (cli.py:364). Listed on the driver with
    * glob metacharacters escaped: readers glob the paths again, and a
    * conversation id may hold `[` or `{`. */
  def threadFiles(spark: SparkSession, root: String): Seq[String] = {
    val glob = new org.apache.hadoop.fs.Path(s"$root/*/thread-*/parsed.jsonl")
    Option(glob.getFileSystem(spark.sessionState.newHadoopConf())
      .globStatus(glob)).toSeq.flatten.map(_.getPath)
      .groupBy(_.getParent.getName).values
      .map(_.maxBy(_.getParent.getParent.getName).toString).toSeq.sorted
      .map(_.replaceAll("""([\\*?\[\]{}])""", """\\$1"""))
  }

  private lazy val lineSchema = StructType.fromDDL("record_type STRING, " +
    "provider_id STRING, conversation_id STRING, message_id STRING, " +
    "parent_id STRING, role STRING, ts BIGINT, text STRING, " +
    "meta STRUCT<model: STRING>")

  /** Each parsed.jsonl file as ONE row (`wholetext`), a whole thread:
    * `messages`, its message records as [[graft.export.Exporter.ExportMsg]]
    * (header, blank and broken lines skipped, as exporter.py:145-169
    * skips them); `records`, its lines holding `"record_type": "message"`
    * (broken ones too), and `invalid`, those breaking the contract. */
  def threadFileRows(spark: SparkSession, files: Seq[String]): DataFrame = {
    val marked =
      filter(col("lines"), _.contains("\"record_type\": \"message\""))
    spark.read.option("wholetext", "true").text(files: _*)
      .select(split(col("value"), "\r?\n").as("lines"))
      .select(
        transform(filter(transform(col("lines"), from_json(_, lineSchema)),
          _("record_type") === "message"), r => struct((Seq(
            "conversation_id", "provider_id", "message_id", "parent_id",
            "role", "ts", "text").map(f => r(f).as(f)) :+
            r("meta")("model").as("model")): _*)).as("messages"),
        size(marked).as("records"),
        size(filter(marked, graft.parse.SchemaContract.invalid(_)))
          .as("invalid"))
  }

  /** Message rows → one conversation row per conversation_id, messages
    * (ts, message_id)-sorted; the provider is its first message's. */
  private def conversationRows(msgs: DataFrame): DataFrame = {
    val fields = graft.functions.ExtractConversation.messageType.fieldNames
    val keyed = sort_array(collect_list(struct(
      (Seq("ts", "message_id", "provider_id") ++
        fields.filterNot(Set("ts", "message_id"))).map(col): _*)))
    msgs.groupBy(col("conversation_id")).agg(keyed.as("m")).select(
      col("m")(0)("provider_id").as("provider_id"), col("conversation_id"),
      transform(col("m"),
        k => struct(fields.map(f => k(f).as(f)).toIndexedSeq: _*))
        .as("messages"))
  }

  /** Per-thread JSONL content as (conversation_id, content), so callers
    * pick the sink (files, table, test assert): message rows regrouped
    * by [[conversationRows]], rendered by [[threadContent]], the
    * renderer `Main`'s thread pass calls on its conversation rows. */
  def threadJsonl(msgs: Dataset[Message]): Dataset[(String, String)] = {
    val spark = msgs.sparkSession
    import spark.implicits._
    conversationRows(msgs.toDF()).as[Conversation]
      .map(c => (c.conversation_id, threadContent(c)))
  }

  /** Write per-thread parsed.jsonl files in the reference layout under
    * `outDir/<provider>/thread-<cid>/parsed.jsonl`, atomically
    * (tmp → rename, like parser.py:286,324; [[graft.util.AtomicFiles]],
    * so file:/hdfs:/s3a: all work); one file per conversation, written
    * from whichever task owns the group — no driver collect.
    * No product entry point calls this (`Main`'s thread pass writes
    * these files from the conversation rows, with no message-row
    * regroup): perfbench's `TracedPipeline` compiles against it; remove
    * it in the benchmark PR that realigns `TracedPipeline`. */
  def writeThreadJsonl(
      msgs: Dataset[Message],
      outDir: String,
      provider: String = "openai"): Unit = {
    val out = graft.util.AtomicFiles.writer(outDir,
      msgs.sparkSession.sessionState.newHadoopConf())
    threadJsonl(msgs).foreachPartition {
      (it: Iterator[(String, String)]) =>
        it.foreach { case (cid, content) =>
          out.write(s"$provider/thread-$cid/parsed.jsonl", content)
        }
    }
  }
}
