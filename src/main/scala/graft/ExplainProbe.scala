package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump formatted physical plans for the headline queries to
  * PLANS.md so the scan-pushdown / broadcast / exchange claims in the
  * README are inspectable without running Spark. */
object ExplainProbe {
  def main(a: Array[String]): Unit = {
    val spark = GraftSession.fromEnv()
    val names = if (a.nonEmpty) a.toSeq
      // every registered query, alphabetical — PLANS.md is the full
      // plan ledger for the tree at HEAD, not a curated subset
      else SparkEntry.queries.keys.toSeq.sorted
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans for every registered query (sf0.01)\n\n")
    sb.append("Generated by `sbt \"runMain graft.ExplainProbe\"`. Things to check per plan:\n")
    sb.append("PushedFilters/ReadSchema on scans (pushdown + pruning), BroadcastHashJoin\n")
    sb.append("on dimension joins, partial HashAggregate before each Exchange.\n")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, "/root/testdata/sf0.01")
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      sb.append(s"\n## $n\n\n```\n$plan```\n")
      SparkEntry.releaseCaches()
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${names.size} plans)")
    spark.stop()
  }
}
