package graft

/** Single-query timing probe for the interleaved A/B protocol
  * (tools/ab_probe.sh), timed exactly as Bench times a query
  * ([[GraftSession.timed]]), so probe rows are comparable to bench rows.
  * The first listed query still pays JVM/codegen/scan warmup (prepend a
  * sacrificial query) — and `SPARK_GRAFT_REPEAT=n` re-times the whole
  * list n times in one JVM, so later passes read deep-warm, the regime
  * the bench's min-of-2 reports; ab_probe's summary then aggregates all
  * passes as samples. A query that throws ends the probe.
  */
object Probe {
  def main(a: Array[String]): Unit = {
    val sf = GraftSession.sfDir
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt)
    val names = if (a.nonEmpty) a.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.fromEnv()
    for (_ <- 1 to reps) names.foreach { n =>
      val (c, dt) = GraftSession.timed(spark)(SparkEntry.queries(n)(spark, sf))
        .fold(throw _, identity)
      println(f"PROBE $n%-28s $c%9d rows  $dt%8.2fs")
    }
    spark.stop()
  }
}
