package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.util.PyJson
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Seq(sfDir, outDir, only @ _*) = args.toSeq: @unchecked
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val sel = SparkEntry.queries.filter { case (name, _) =>
      only.isEmpty || only.contains(name) }
    sel.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // PyJson escapes every control char: a tab or CR in an oracle query
    // must not break json.load on the reading side
    val json = PyJson.obj(SparkEntry.oracleSql.toSeq
      .map { case (k, v) => k -> PyJson.str(v) }: _*)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
