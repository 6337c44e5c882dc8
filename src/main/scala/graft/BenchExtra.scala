package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Extra measurement harness for optimization work (guide §1) — NOT the
  * driver bench (that is the frozen graft.Bench). Three modes:
  *
  *   runMain graft.BenchExtra time q31_ngram_jaccard,q32_minhash_lsh [repeats]
  *     interleaved repeat-min timing of the named queries (same
  *     cold-cache methodology as Bench) plus per-query scheduler
  *     attribution: jobs launched, stages, tasks, summed task time,
  *     shuffle bytes — the numbers that say whether a tiny-sf query is
  *     compute-bound or fixed-overhead-bound.
  *
  *   runMain graft.BenchExtra explain OUTDIR [suffix] [q...]
  *     writes .explain("formatted") of every (or the named) registry
  *     query to OUTDIR/<name>_<suffix>.txt.
  *
  *   runMain graft.BenchExtra noop q31_ngram_jaccard [repeats]
  *     times the query with the noop sink (computes every column,
  *     guide §1.4) instead of count().
  *
  * The session is Bench's own, so numbers are comparable.
  */
object BenchExtra {

  private class Probe extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    @volatile var taskTimeMs = 0L
    @volatile var shuffleReadB = 0L
    @volatile var shuffleWriteB = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit =
      synchronized { jobs += 1 }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = t.taskMetrics
      if (m != null) {
        taskTimeMs += m.executorRunTime
        shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      }
    }
    def reset(): Unit = synchronized {
      jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0L
      shuffleReadB = 0L; shuffleWriteB = 0L
    }
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("time")
    if (args.length < 2) {
      System.err.println("usage: graft.BenchExtra time|noop Q1,Q2,... " +
        "[repeats] | explain OUTDIR [suffix] [q...]")
      return
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = Bench.session(cpus)

    mode match {
      case "explain" =>
        val outDir = args(1)
        val suffix = if (args.length > 2) args(2) else "before"
        new java.io.File(outDir).mkdirs()
        val names =
          if (args.length > 3) args.drop(3).toSeq
          else SparkEntry.queries.keys.toSeq.sorted
        names.foreach { name =>
          spark.catalog.clearCache()
          try {
            val df = SparkEntry.queries(name)(spark, sfDir)
            val plan = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
              plan.getBytes("UTF-8"))
            println(s"[explain] $name ok")
          } catch { case e: Throwable =>
            println(s"[explain] $name FAILED: ${e.getMessage}")
          }
        }

      case "time" | "noop" =>
        val names = args(1).split(",").toSeq
        val repeats = if (args.length > 2) args(2).toInt else 3
        val probe = new Probe
        spark.sparkContext.addSparkListener(probe)
        case class Obs(wall: Double, build: Double, jobs: Int,
          stages: Int, tasks: Int, taskMs: Long, shR: Long, shW: Long)
        val obs = scala.collection.mutable.Map[String, Vector[Obs]]()
          .withDefaultValue(Vector.empty)
        def runOnce(name: String): Unit = {
          spark.catalog.clearCache()
          probe.reset()
          val t0 = System.nanoTime()
          val fn = SparkEntry.queries(name)
          val df = fn(spark, sfDir)
          val tBuild = (System.nanoTime() - t0) / 1e9
          if (mode == "noop")
            df.write.format("noop").mode("overwrite").save()
          else df.count()
          val wall = (System.nanoTime() - t0) / 1e9
          // listener events can lag the action slightly
          Thread.sleep(50)
          obs(name) = obs(name) :+ Obs(wall, tBuild, probe.jobs,
            probe.stages, probe.tasks, probe.taskTimeMs,
            probe.shuffleReadB, probe.shuffleWriteB)
        }
        names.foreach(runOnce)              // warmup sweep (untimed)
        names.foreach(n => obs(n) = Vector.empty)
        for (_ <- 1 to repeats; n <- names) runOnce(n)
        names.foreach { n =>
          val best = obs(n).minBy(_.wall)
          val walls = obs(n).map(o => f"${o.wall}%.3f").mkString(",")
          println(f"""{"q":"$n","min":${best.wall}%.3f,""" +
            f""""build":${best.build}%.3f,"jobs":${best.jobs},""" +
            f""""stages":${best.stages},"tasks":${best.tasks},""" +
            f""""task_ms":${best.taskMs},"shuf_r":${best.shR},""" +
            f""""shuf_w":${best.shW},"walls":[$walls]}""")
        }

      case other =>
        System.err.println(s"unknown mode $other")
    }
    spark.stop()
  }
}
