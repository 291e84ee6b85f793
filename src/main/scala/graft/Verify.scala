package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** The correctness gate's dump: each registered query's result → parquet
  * under `<outDir>/<name>`, plus oracle_sql.json for the DuckDB hash
  * compare and manifest.json (every registered name and the failed ones)
  * for tools/check.py. Runs on the harness session, so the gate reads
  * through the same fork-free local filesystem as every other main.
  */
object Verify {
  /** Dump `q` to `<outDir>/<name>`; false if it threw. The previous
    * run's dump is deleted first: a query that throws while `q.run` builds
    * its plan never reaches the overwrite, and a stale dump left in place
    * would be compared as if this run had produced it.
    */
  private[graft] def dump(spark: SparkSession, q: Q, sfDir: String, outDir: String): Boolean = {
    val out = new org.apache.hadoop.fs.Path(s"$outDir/${q.name}")
    out.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(out, true)
    try {
      q.run(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(out.toString)
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        false
    } finally CacheBag.release() // query-lifetime cache entries
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    Files.createDirectories(Paths.get(outDir))
    val failed = SparkEntry.registry.filterNot(dump(spark, _, sfDir, outDir)).map(_.name)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Harness.toJson(SparkEntry.oracleSql))
    Files.writeString(Paths.get(s"$outDir/manifest.json"), Harness.toJson(Map(
      "queries" -> SparkEntry.registry.map(_.name), "failed" -> failed)))
    spark.stop()
    println(s"[verify] failed: ${Harness.toJson(failed)}")
    // explicit success sentinel: the gate greps stdout for 'success', and
    // sbt's own "[success]" trailer is suppressed repo-wide (showSuccess
    // := false — it used to land AFTER Bench's compact JSON line and
    // break the driver's tail parse)
    println(s"[verify] success: ${SparkEntry.registry.size} queries dumped to $outDir")
  }
}
