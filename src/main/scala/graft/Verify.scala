package graft
import java.nio.file.{Files, Paths}
import LocalSession.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = LocalSession.build("32")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (comma-separated names); driver runs full
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally spark.catalog.clearCache() // operators may persist frames
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
