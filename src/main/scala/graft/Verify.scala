package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=q1,q2 (GraftSession.entries) runs a subset for the
    // dev loop; unset, every entry is dumped.
    val selected = GraftSession.entries
    val failed = selected.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // one summary line, so a failure is not lost among the log lines
    System.err.println(
      s"[verify] failed ${failed.size}/${selected.size}: ${failed.mkString(",")}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      GraftSession.json(SparkEntry.oracleSql))
    spark.stop()
  }
}
