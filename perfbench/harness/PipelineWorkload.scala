package perfbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import graft.SparkEntry
import graft.ingest.{DblpXml, Normalize}
import graft.jobs.BatchJobs
import graft.streaming.StreamJobs

/** The paper's own flow, as a closed loop that drains a backlog. Each
  * pass converts the DBLP XML with `DblpXml.parse`, drains the OAG
  * backlog and the converted DBLP records through `StreamJobs.runAll`
  * (one file per trigger, `AvailableNow`) into the raw upsert sink and
  * the six aggregate sinks, then runs `BatchJobs.topics`, `community`
  * and `association` on the written publications, each followed by
  * `writeCsv`. Every pass writes into a fresh directory.
  *
  * Set-up generates the corpus from the seed and computes the static
  * twin; there is no warm-up pass. After the first pass, untimed, every
  * output is checked against the twin.
  */
final class PipelineWorkload(ctx: Harness.Ctx, work: Path, seed: Long) extends Harness.Workload {
  import PipelineWorkload._
  private val spark = ctx.spark
  private val rec = ctx.rec
  private val oagDir = work.resolve("oag")
  private var corpus: PubCorpus = _
  /** Digest (and, for CSV outputs, schema) of every output, computed
    * by the same calls on the static twin of the input. */
  private val expected = mutable.LinkedHashMap.empty[String, (String, StructType)]

  def setup(): Unit = {
    corpus = PubCorpus.generate(seed, Files_)
    Files.createDirectories(oagDir)
    corpus.oagFiles.zipWithIndex.foreach { case (lines, i) =>
      Files.writeString(oagDir.resolve(f"part-$i%05d.json"), lines.mkString("", "\n", "\n"))
    }
    val twinDblp = work.resolve("twin-dblp")
    writeDblp(DblpXml.parse(corpus.dblpXml), twinDblp)
    rec.counters("input_bytes") = corpus.inputBytes
    rec.counters("input_records") = corpus.oagFiles.map(_.size).sum + PubCorpus.DblpRecords
    rec.counters("accepted_keys") = corpus.acceptedKeys
    rec.counters("planted_dblp_errors") = corpus.plantedDblpErrors
    rec.counters("inputs_ready_ms") = Clock.now()
    computeTwin(twinDblp)
  }

  /** The static twin: a batch read of the same input files through the
    * same calls. Computing it in set-up also warms the code the timed
    * pass shares with it. */
  private def computeTwin(dblpDir: Path): Unit = {
    val twin = StreamJobs.unionIngest(spark.read.text(oagDir.toString),
      spark.read.text(dblpDir.toString)).persist()
    val pubs = Normalize.dedupByKey(twin)
    def keep(name: String, df: DataFrame): Unit =
      expected(name) = (Harness.digest(df, roundDoubles = true), df.schema)
    keep("sink publications", pubs)
    val distinct = expected("sink publications")._1.takeWhile(_ != ':').toLong
    rec.check("twin distinct keys", if (distinct == corpus.acceptedKeys) None
      else Some(s"got $distinct, generated ${corpus.acceptedKeys}"))
    val aggs = StreamJobs.aggregates(twin)
    SinkNames.filter(_ != "publications").foreach(s => keep(s"sink $s", aggs(s)))
    val keywords = corpus.topKeywords
    val (kw, fos) = BatchJobs.topics(aggs("keywords"), aggs("field_study"), TopicThreshold)
    keep("csv topics_keywords", kw)
    keep("csv topics_fos", fos)
    val c = BatchJobs.community(pubs, keywords = keywords)
    keep("csv community_histogram", c.labelHistogram)
    keep("csv community_edges", c.decoratedEdges)
    val a = BatchJobs.association(pubs, keywords)
    keep("csv association_author_keyword", a.authorKeyword)
    keep("csv association_collaborators", a.collaborators)
    SparkEntry.releaseCaches()
    twin.unpersist()
  }

  /** After the first pass every output must hold the twin's rows: each
    * sink, and each CSV read back with the twin's schema. Doubles are
    * compared at 1e-9: the association job sums similarities in
    * partition order, so their last bits vary from run to run. Later
    * passes check the row counts. */
  def pass(i: Int, traced: Boolean): Unit = runPass(i, traced).foreach { dir =>
    if (i == 0) expected.foreach { case (name, (want, schema)) =>
      val Array(kind, output) = name.split(" ")
      val got = Harness.digest(
        if (kind == "sink") spark.read.parquet(dir.resolve("out").resolve(output).toString)
        else spark.read.schema(schema).option("header", "true")
          .csv(dir.resolve("csv").resolve(output).toString),
        roundDoubles = true)
      rec.check(name, if (got == want) None else Some(s"digest $got, twin $want"))
    }
    else {
      val counts = outputCounts(dir)
      expected.foreach { case (name, (want, _)) =>
        val (got, rows) = (counts.getOrElse(name, -1L), want.takeWhile(_ != ':').toLong)
        rec.check(s"$name count (pass $i)", if (got == rows) None else Some(s"got $got, expected $rows"))
      }
    }
  }

  private def writeDblp(r: DblpXml.Result, dir: Path): Unit = {
    Files.createDirectories(dir)
    r.records.grouped(math.max(1, (r.records.size + Files_ - 1) / Files_)).zipWithIndex
      .foreach { case (lines, k) =>
        Files.writeString(dir.resolve(f"part-$k%05d.json"), lines.mkString("", "\n", "\n"))
      }
  }

  /** One pass; returns its output directory, or None if a step failed
    * (the failure is already counted). */
  private def runPass(i: Int, traced: Boolean): Option[Path] = {
    val dir = work.resolve(s"pass-$i")
    val out = dir.resolve("out")
    val csv = dir.resolve("csv")
    def step[T](name: String)(body: (Int, Int) => T): Option[T] =
      ctx.op(name, i, traced)(body).map { case (v, timing) =>
        rec.samples += timing.sample(name, i, traced)
        v
      }

    val parsed = step("dblp_parse") { (run, id) =>
      val r = ctx.layer("ingest.parse", id, run)(DblpXml.parse(corpus.dblpXml))
      // the producer: converted records land as files the stream reads
      writeDblp(r, dir.resolve("dblp"))
      rec.passCounters += Map("pass" -> i, "dblp_errors" -> r.errors,
        "dblp_records" -> r.records.size)
      r
    }
    val drained = parsed.flatMap { r =>
      rec.check(s"dblp errors (pass $i)",
        if (r.errors == corpus.plantedDblpErrors) None
        else Some(s"got ${r.errors}, planted ${corpus.plantedDblpErrors}"))
      step("stream_drain") { (run, id) =>
        val queries = StreamJobs.runAll(source(oagDir), source(dir.resolve("dblp")),
          out.toString, dir.resolve("checkpoints").toString)
        queries.foreach(_.awaitTermination())
        queries.foreach(q => q.exception.foreach(e => throw e))
        recordProgress(i, traced, queries)
        queries.map(_.recentProgress.map(_.numInputRows).sum)
      }
    }.flatMap { inputs =>
      // the aggregate queries read every line once (the raw sink's
      // upsert reads its micro-batch twice, so its count is not checked)
      val lines = corpus.oagFiles.map(_.size).sum + parsed.get.records.size
      val bad = inputs.tail.filter(_ != lines)
      if (rec.check(s"stream input rows (pass $i)",
          if (bad.isEmpty) None else Some(s"an aggregate query read ${bad.head} rows of $lines")))
        Some(())
      else None
    }
    val jobs = drained.flatMap { _ =>
      val keywords = corpus.topKeywords
      def pubs = spark.read.parquet(out.resolve("publications").toString)
      for {
        _ <- step("job.topics") { (run, id) =>
          val (kw, fos) = ctx.layer("build", id, run)(BatchJobs.topics(
            spark.read.parquet(out.resolve("keywords").toString),
            spark.read.parquet(out.resolve("field_study").toString), TopicThreshold))
          ctx.layer("job.csv", id, run) {
            BatchJobs.writeCsv(kw, csv.resolve("topics_keywords").toString)
            BatchJobs.writeCsv(fos, csv.resolve("topics_fos").toString)
          }
        }
        _ <- step("job.community") { (run, id) =>
          val r = ctx.layer("build", id, run)(BatchJobs.community(pubs, keywords = keywords))
          ctx.layer("job.csv", id, run) {
            BatchJobs.writeCsv(r.labelHistogram, csv.resolve("community_histogram").toString)
            BatchJobs.writeCsv(r.decoratedEdges, csv.resolve("community_edges").toString)
          }
        }
        _ <- step("job.association") { (run, id) =>
          val r = ctx.layer("build", id, run)(BatchJobs.association(pubs, keywords))
          ctx.layer("job.csv", id, run) {
            BatchJobs.writeCsv(r.authorKeyword, csv.resolve("association_author_keyword").toString)
            BatchJobs.writeCsv(r.collaborators, csv.resolve("association_collaborators").toString)
          }
        }
      } yield ()
    }
    SparkEntry.releaseCaches()
    if (jobs.isDefined)
      rec.passCounters += Map("pass" -> i, "bytes_written" -> treeBytes(out, csv))
    jobs.map(_ => dir)
  }

  private def source(dir: Path): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", "1").text(dir.toString)

  private def recordProgress(pass: Int, traced: Boolean, queries: Seq[StreamingQuery]): Unit =
    queries.zipWithIndex.foreach { case (q, qi) =>
      val ps = q.recentProgress
      ps.foreach { p =>
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        rec.batches += Map("pass" -> pass, "traced" -> traced, "query" -> qi,
          "input_rows" -> p.numInputRows,
          "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
          "add_batch_ms" -> d.getOrElse("addBatch", 0L),
          "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
          "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
          "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0L))
      }
      ps.lastOption.foreach { p =>
        rec.passCounters += Map("pass" -> pass, "traced" -> traced,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
          "state_memory_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
      }
    }

  /** Rows in each sink (a Spark count) and each CSV output (its data
    * lines: every part file starts with a header line). */
  private def outputCounts(dir: Path): Map[String, Long] = {
    val out = dir.resolve("out")
    val csv = dir.resolve("csv")
    def csvRows(d: Path): Long = {
      val s = Files.list(d)
      try s.iterator.asScala.filter(_.getFileName.toString.startsWith("part-")).map { f =>
        math.max(0L, Files.readAllLines(f).size - 1L)
      }.sum finally s.close()
    }
    (SinkNames.map(n => s"sink $n" -> spark.read.parquet(out.resolve(n).toString).count()) ++
      CsvNames.map(n => s"csv $n" -> csvRows(csv.resolve(n)))).toMap
  }

}

object PipelineWorkload {
  /** Backlog files per source; one file per trigger, so each of the
    * seven streaming queries runs this many micro-batches a pass. */
  val Files_ = 2
  val TopicThreshold = 100L
  val SinkNames = Seq("publications", "keywords", "field_study", "yrwisedist", "authorptrn",
    "aap", "hyper_authorship")
  val CsvNames = Seq("topics_keywords", "topics_fos", "community_histogram", "community_edges",
    "association_author_keyword", "association_collaborators")

  /** Bytes of every file under the given directories. */
  def treeBytes(dirs: Path*): Long = dirs.filter(Files.exists(_)).map { d =>
    val s = Files.walk(d)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
  }.sum
}
