package graft

import scala.collection.mutable
import GraftSession.jsonString

/** Throughput bench: times every SparkEntry query, writes the
  * full record to `bench.json` (`SPARK_GRAFT_BENCH_OUT`) and ends stdout
  * with one budgeted JSON line. A query that throws is never timed: it
  * is left out of the total and listed under "failed". */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.fromEnv()
    // untimed warmup: JVM/codegen/scan setup shouldn't bill the first query
    try {
      spark.read.parquet(s"$sfDir/lineitem.parquet").count()
      SparkEntry.queries("text_token_count")(spark, sfDir).count()
    } catch { case _: Throwable => () }
    val only = GraftSession.only
    val battery = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val fnOf = battery.toMap

    val best = mutable.LinkedHashMap.empty[String, Double]
    val failed = mutable.SortedSet.empty[String]
    def timeOnce(name: String): Unit =
      GraftSession.timed(spark)(fnOf(name)(spark, sfDir)) match {
        case Right((_, t)) =>
          if (!failed(name) && best.get(name).forall(t < _)) best(name) = t
        case Left(e) =>
          System.err.println(s"[bench] $name failed: $e")
          failed += name
          best -= name
      }

    // Timing protocol: single-run numbers carried 20x ambient-load
    // spikes into the record (q_pivot_status 0.23 s quiet vs 4.78 s on a
    // 1-exchange plan). Every query gets min-of-2, sub-second rows
    // min-of-3, under a wall budget so the whole battery still finishes
    // inside the caller's capture window. Re-runs go
    // slowest-observed-first: a spiked query looks slow, so it is
    // re-timed (and its spike discarded) before budget pressure can
    // strike it out. SPARK_GRAFT_REPEAT=N forces a fixed min-of-N instead.
    val fixedRepeat = sys.env.get("SPARK_GRAFT_REPEAT").map(n => math.max(1, n.toInt))
    val wallBudgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET").map(_.toDouble).getOrElse(420.0)
    fixedRepeat match {
      case Some(n) =>
        battery.foreach { case (name, _) =>
          (1 to n).foreach(_ => if (!failed(name)) timeOnce(name))
        }
      case None =>
        val benchStart = System.nanoTime()
        def elapsed: Double = (System.nanoTime() - benchStart) / 1e9
        battery.foreach { case (name, _) => timeOnce(name) }
        // pass 2: everything; pass 3: rows still under a second after min-of-2
        for (pass <- 2 to 3) {
          val due = best.toSeq
            .filter { case (_, t) => pass == 2 || t < 1.0 }
            .sortBy(-_._2)
          due.foreach { case (name, t) =>
            // guard: don't start a re-run the budget can't absorb even if
            // it repeats the observed time (plus scheduling headroom)
            if (elapsed + math.max(t, 0.2) + 1.0 <= wallBudgetSec) timeOnce(name)
          }
        }
    }
    val results = best.toSeq.sortBy(_._1)

    def fmt(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    def obj(fields: Seq[(String, String)]): String =
      fields.map { case (k, v) => s"${jsonString(k)}:$v" }.mkString("{", ",", "}")
    def entry(kv: (String, Double)): String = s"${jsonString(kv._1)}:${fmt(kv._2)}"
    val head = Seq("metric" -> jsonString("total"), "value" -> fmt(results.map(_._2).sum),
      "unit" -> jsonString("sec"), "n_queries" -> results.size.toString,
      "n_failed" -> failed.size.toString)
    val sf = "sf" -> jsonString(sfDir)
    // Full record to disk — a stdout capture that keeps a 2000-byte
    // tail cannot hold the per-query map. The file is the record.
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    val full = obj(head ++ Seq(
      "queries" -> results.map(entry).mkString("{", ",", "}"),
      "failed" -> failed.toSeq.map(jsonString).mkString("[", ",", "]"), sf))
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(benchOut), full)
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $benchOut: ${e.getMessage}")
    }
    // Stdout line budgeted to fit the driver's tail window: slowest
    // queries first (the ones perf grading needs), stop before 1600
    // bytes. Omitted entries are counted, and the full map is always in
    // bench.json. The skeleton is measured, not assumed: benchOut and
    // sfDir are env-controlled paths of any length.
    val budget = 1600
    def summary(omitted: Int, picked: Seq[String]): String = obj(head ++ Seq(
      "omitted" -> omitted.toString, "queries_full" -> jsonString(benchOut),
      "queries" -> picked.mkString("{", ",", "}"), sf))
    var used = summary(9999, Nil).length
    val picked = mutable.ArrayBuffer.empty[String]
    results.sortBy(-_._2).map(entry).foreach { e =>
      if (used + e.length + 1 <= budget) { picked += e; used += e.length + 1 }
    }
    spark.stop()
    // printed after stop(), so no shutdown logging can follow it: the
    // record is read from the last stdout line
    println(summary(results.size - picked.size, picked.toSeq))
    System.out.flush()
  }
}
