package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GraftExtensions, GraftSession, SparkEntry}

/** The benchmark's JVM side. It sets up one workload, runs timed passes
  * over it for at least `--seconds`, checks every output, and writes one
  * raw record (samples, counters, spans) as JSON to `--out`. The metric
  * arithmetic lives in `perfbench/stats.py`, which reads that record.
  *
  * Untraced passes call the layers bare. In a traced run the passes
  * alternate untraced / traced; traced passes wrap each layer call in a
  * span and tag its Spark jobs, and the untraced ones give the
  * tracing overhead.
  */
object Harness {

  /** What one run leaves behind; serialized by [[Json]]. */
  final class Record {
    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val batches = mutable.ArrayBuffer.empty[Map[String, Any]]
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passCounters = mutable.ArrayBuffer.empty[Map[String, Any]]
    val counters = mutable.LinkedHashMap.empty[String, Any]
    val runExtra = mutable.Map.empty[Int, Map[String, Any]]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failed = 0

    /** Count one checked operation; `problem` is None when it passed. */
    def check(what: String, problem: Option[String]): Boolean = {
      attempted += 1
      problem.foreach { p => failed += 1; errors += s"$what: $p" }
      problem.isEmpty
    }
  }

  /** The wall time of one operation run. */
  final case class Timing(ms: Double) {
    def sample(op: String, pass: Int, traced: Boolean): Map[String, Any] =
      Map("op" -> op, "pass" -> pass, "traced" -> traced, "ms" -> ms)
  }

  /** One operation run: the job tag, the span and the totals share its id. */
  final class Ctx(val spark: SparkSession, val spans: Spans, val rec: Record) {
    private var lastRun = 0

    /** Run `body` as operation `op` of pass `pass`. A traced pass tags
      * its jobs and wraps it in a span. Returns the result with its wall
      * time, or records the failure and returns None. */
    def op[T](op: String, pass: Int, traced: Boolean, span: String = "")(
        body: (Int, Int) => T): Option[(T, Timing)] = {
      lastRun += 1
      val run = lastRun
      val sc = spark.sparkContext
      if (traced) sc.addJobTag(LayerListener.tag(run))
      val t0 = Clock.now()
      try {
        val out =
          if (traced) spans.around(if (span.isEmpty) op else span, 0, run)(id => body(run, id))
          else body(run, 0)
        val timing = Timing(Clock.now() - t0)
        if (traced) rec.runs += Map("run" -> run, "op" -> op, "pass" -> pass)
        Some((out, timing))
      } catch {
        case e: Throwable =>
          rec.check(s"$op (pass $pass)", Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
          None
      } finally if (traced) sc.removeJobTag(LayerListener.tag(run))
    }

    /** `body` as a child span of `parent` when tracing, bare otherwise. */
    def layer[T](name: String, parent: Int, run: Int)(body: => T): T =
      if (parent == 0) body else spans.around(name, parent, run)(_ => body)
  }

  /** A workload: untimed set-up (inputs, warm-up and the full output
    * check), then passes the timing loop repeats. */
  trait Workload {
    def setup(): Unit
    def pass(i: Int, traced: Boolean): Unit
  }

  /** Order-independent content digest: row count and the sum of the
    * xxhash64 of every row, columns taken in name order; doubles
    * rounded to 9 decimals first if `roundDoubles`. */
  def digest(df: DataFrame, roundDoubles: Boolean = false): String = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      val c = col(s"`${f.name}`")
      if (roundDoubles && f.dataType == org.apache.spark.sql.types.DoubleType) round(c, 9) else c
    }
    val r = df.agg(count(lit(1)), sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)")))
      .collect().head
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0)}"
  }

  private def arg(args: Array[String], name: String): Option[String] =
    args.sliding(2).collectFirst { case Array(k, v) if k == s"--$name" => v }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload").get
    val seed = arg(args, "seed").get.toLong
    val seconds = arg(args, "seconds").get.toDouble
    val traced = arg(args, "trace").contains("1")
    val work = Paths.get(arg(args, "work").get).toAbsolutePath
    val out = Paths.get(arg(args, "out").get)
    val cores = arg(args, "cores").get.toInt
    val digestsFile = arg(args, "digests").get
    val mode = arg(args, "mode").getOrElse("run")
    Files.createDirectories(work)

    // the product's session profile; only the warehouse location moves
    // into the work directory
    val spark = GraftSession.builder(cores)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.register(spark)

    val spans = new Spans(traced)
    val listener = new LayerListener(spans)
    if (traced) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    }
    val rec = new Record
    rec.counters("jvm_start_ms") =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    rec.counters("session_ready_ms") = Clock.now()
    val ctx = new Ctx(spark, spans, rec)

    val tables = Paths.get(arg(args, "tables").get).toAbsolutePath
    mode match {
      case "tables" =>
        QueryTables.ensure(spark, tables)
      case "digests" =>
        val dir = QueryTables.ensure(spark, tables)
        val q = SparkEntry.queries
        val lines = QueryWorkload.Rows.sorted.map { name =>
          val d = try digest(q(name)(spark, dir)) finally SparkEntry.releaseCaches()
          s"""  ${Json.str(name)}: ${Json.str(d)}"""
        }
        Files.writeString(Paths.get(digestsFile), lines.mkString("{\n", ",\n", "\n}\n"))
      case "run" =>
        val wl: Workload = workload match {
          case "graph_builder" => new QueryWorkload(ctx, tables, seed, digestsFile)
          case "scipi_pipeline" => new PipelineWorkload(ctx, work, seed)
        }
        // the heap peak covers set-up too: the warm-up runs the same
        // operations, and more collections give a steadier peak
        val heap = new LiveHeapPeak
        heap.start()
        wl.setup()
        rec.counters("setup_end_ms") = Clock.now()
        val t0 = Clock.now()
        // traced runs alternate untraced and traced passes, and take
        // an untraced one after a traced one (pass 0 may be cold)
        val minPasses = if (traced) 3 else 1
        var pass = 0
        while (pass < minPasses || Clock.now() - t0 < seconds * 1000) {
          val tracedPass = traced && pass % 2 == 1
          val p0 = Clock.now()
          wl.pass(pass, tracedPass)
          rec.passes += Map("pass" -> pass, "traced" -> tracedPass, "ms" -> (Clock.now() - p0))
          pass += 1
        }
        rec.counters("timed_ms") = Clock.now() - t0
        rec.counters("heap_peak_bytes") = heap.finish()
        if (traced) fence(spark, listener)
        writeRecord(out, rec, spans, listener, cores)
    }
    spark.stop()
  }

  /** Wait until the listener has seen every event posted so far: run
    * one tagged job and wait for its end event, which the bus delivers
    * after all earlier ones. */
  private def fence(spark: SparkSession, listener: LayerListener): Unit = {
    val sc = spark.sparkContext
    sc.addJobTag(LayerListener.tag(LayerListener.Fence))
    try sc.parallelize(Seq(1), 1).count()
    finally sc.removeJobTag(LayerListener.tag(LayerListener.Fence))
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!listener.fenceSeen && System.nanoTime() < deadline) Thread.sleep(5)
  }

  private def writeRecord(out: Path, rec: Record, spans: Spans, listener: LayerListener,
      cores: Int): Unit = {
    val runs = rec.runs.map { r =>
      val t = Option(listener.totals.get(r("run").asInstanceOf[Int])).getOrElse(new TaskTotals)
      r ++ rec.runExtra.getOrElse(r("run").asInstanceOf[Int], Map.empty) ++ t.synchronized(Map(
        "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
        "run_ms" -> t.runMs, "cpu_ms" -> t.cpuNs / 1e6, "gc_ms" -> t.gcMs,
        "deser_ms" -> t.deserMs, "shuffle_read_bytes" -> t.shuffleRead,
        "shuffle_write_bytes" -> t.shuffleWrite, "spill_bytes" -> t.spill,
        "input_bytes" -> t.inputBytes, "input_records" -> t.inputRecords,
        "busy" -> t.busy.map { case (a, b) => Seq(a, b) }.toSeq))
    }
    val doc = Map(
      "cores" -> cores,
      "attempted" -> rec.attempted,
      "failed" -> rec.failed,
      "errors" -> rec.errors.toSeq,
      "counters" -> rec.counters.toMap,
      "passes" -> rec.passes.toSeq,
      "samples" -> rec.samples.toSeq,
      "batches" -> rec.batches.toSeq,
      "pass_counters" -> rec.passCounters.toSeq,
      "runs" -> runs.toSeq,
      "spans" -> spans.all.map(s => Seq(s.id, s.name, s.start, s.end, s.parent, s.run)))
    Files.writeString(out, Json.write(doc))
  }
}

/** Peak heap in use right after a garbage collection, over the
  * collections between `start` and `finish`: the live heap, which does
  * not depend on when the collector happens to run. Falls back to the
  * heap in use at `finish` if no collection ran. */
final class LiveHeapPeak {
  import java.lang.management.{ManagementFactory, MemoryType}
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  @volatile private var peak = 0L
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { peak = math.max(peak, used) }
      }
  }

  def start(): Unit = emitters.foreach(_.addNotificationListener(listener, null, null))

  def finish(): Long = {
    emitters.foreach(_.removeNotificationListener(listener))
    synchronized(if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
}

/** Minimal JSON writer for the record: maps, sequences, strings,
  * numbers and booleans. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
