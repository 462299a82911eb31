package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.local(cpus, cpus)
    new java.io.File(outDir).mkdirs()
    // dev loop: SPARK_GRAFT_VERIFY_ONLY=q01_x,q02_y dumps just those
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      if (sys.env.contains("SPARK_GRAFT_VERIFY_TRACE"))
        System.err.println(s"[verify] running $name")
      // queries are independent: drop persisted frames so one query's
      // cache never collides with an identically-canonicalized persist in
      // a later one (q46/q69 share a ranked-bucket plan) or taxes its
      // memory budget
      spark.sharedState.cacheManager.clearCache()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** `oracle_sql.json`: a tab or CR left unescaped in builder-authored SQL
    * would fail the driver's json.load and silently zero the correctness. */
  private[graft] def oracleJson(sql: Map[String, String]): String = {
    def q(s: String) = "\"" + Bench.jsonEscape(s) + "\""
    sql.map { case (k, v) => q(k) + ": " + q(v) }.mkString("{", ",", "}")
  }
}
