package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSpark.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Wipe the output dir first: overwrite mode only deletes once a
    // query's write STARTS, so a query failing at analysis would leave a
    // previous run's parquet in place and the downstream compare would
    // validate stale data as a pass (round-9 review). A failed query now
    // leaves NO output — absence is the failure signal.
    LocalFiles.rmTree(outDir)
    Files.createDirectories(Paths.get(outDir))
    // Optional comma-separated name filter — the subset-verify loop for
    // iterating on one query without paying the full dump. The driver's
    // gate runs unfiltered (env unset → every query).
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_VERIFY_ONLY").map(_.split(",").map(_.trim).toSet)
    def wanted(n: String): Boolean = only.forall(_.contains(n))
    SparkEntry.queries.filter(e => wanted(e._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Drop this query's snapshot caches before the next one runs — 84
      // queries x corpus-scale persisted RDDs would otherwise accumulate
      // for the whole dump (ADVICE round 3).
      org.apache.spark.sql.graftx.Sessions.releaseSnapshots()
    }
    import Jsons.q
    val json = SparkEntry.oracleSql.filter(e => wanted(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
