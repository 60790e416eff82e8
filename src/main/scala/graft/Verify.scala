package graft
import java.nio.file.{Files, Paths}
import GraftSession.jsonString
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.fromEnv()
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY restricts the dump (and the manifest); the gate
    // never sets it, so it always covers everything.
    val only = GraftSession.only
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // a typo'd ONLY would otherwise dump nothing and still gate green
    // (every query labeled filtered_out) — fail loudly instead
    only.foreach { o =>
      require(selected.nonEmpty,
        s"SPARK_GRAFT_ONLY matched no queries: ${o.mkString(",")}")
    }
    // delete a stale marker from a previous filtered run into this
    // outDir BEFORE dumping — if this run crashes mid-dump, the checker
    // must see missing_result rows, not inherit filtered leniency
    Files.deleteIfExists(Paths.get(s"$outDir/FILTERED"))
    if (only.isDefined)
      Files.writeString(Paths.get(s"$outDir/FILTERED"),
        selected.keys.toSeq.sorted.mkString(","))
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally SparkEntry.releaseCaches()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // manifest of every DECLARED query (never the filtered subset), so
    // the checker can flag results that failed to materialize instead of
    // silently skipping them. If SPARK_GRAFT_ONLY ever leaked into the
    // gate environment, the full manifest would surface the narrowed run
    // as missing_result rows rather than a silently-shrunk battery; the
    // explicit "filtered" marker file makes the narrowing visible too.
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(jsonString).mkString("[", ",", "]"))
    spark.stop()
  }
}
