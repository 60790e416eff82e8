package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The query workloads' tables: the ten relations the query packs read
  * (TPC-H-style star, an events table, documents and embeddings), at
  * the row counts of the smallest test scale (lineitem 6,000). Uniform
  * draws with the same domains, types and parquet encodings as the test
  * corpus: order and ship dates are TIMESTAMP_NTZ, event times plain
  * TIMESTAMP (Spark writes those as INT96, which other parquet readers
  * also take as a naive UTC time).
  *
  * The tables do not depend on the benchmark seed: the committed
  * expected-digest file is computed over exactly these rows. The seed
  * permutes the query order instead.
  */
object QueryTables {
  val DataSeed = 20260101L

  private def r2(x: Double): Double = math.round(x * 100.0) / 100.0

  /** The tables under `dir`, written first if no complete copy is
    * there: they are the same on every run, so one copy serves all. */
  def ensure(spark: SparkSession, dir: java.nio.file.Path): String = {
    if (!java.nio.file.Files.exists(dir.resolve("DONE"))) {
      val tmp = dir.resolveSibling(s"${dir.getFileName}.tmp-${ProcessHandle.current().pid()}")
      write(spark, tmp.toString)
      java.nio.file.Files.createFile(tmp.resolve("DONE"))
      java.nio.file.Files.move(tmp, dir)
    }
    dir.toString
  }

  def write(spark: SparkSession, dir: String): Unit = {
    val rnd = new SplittableRandom(DataSeed)
    def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))
    def day(from: LocalDateTime, days: Int): LocalDateTime = from.plusDays(rnd.nextInt(days).toLong)
    // rows are drawn in order on this thread; the writes run concurrently
    val writes = scala.collection.mutable.ArrayBuffer.empty[Future[Unit]]
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = writes += Future {
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    def f(n: String, t: DataType) = StructField(n, t)

    val regions = IndexedSeq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.indices.map(i => Row(i, regions(i))))
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val nCust = 150
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        r2(-999.99 + rnd.nextDouble() * 10999.98), pick(segments))))
    val nSupp = 10
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        r2(-999.99 + rnd.nextDouble() * 10999.98))))

    val adjs = IndexedSeq("small", "red", "blue", "new", "hot", "cold", "large", "old")
    val nouns = IndexedSeq("ring", "widget", "bolt", "rod", "gear", "anvil", "plate", "gizmo")
    val types = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val nPart = 200
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(adjs)} ${pick(nouns)}",
        s"Brand#${1 + rnd.nextInt(25)}", pick(types), 1 + rnd.nextInt(50),
        r2(900.0 + (i % 1000) / 10.0))))

    val statuses = IndexedSeq("F", "O", "P")
    val priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val nOrders = 1500
    val orderEpoch = LocalDateTime.of(1995, 1, 1, 0, 0)
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, rnd.nextInt(nCust).toLong, pick(statuses),
        r2(1000.0 + rnd.nextDouble() * 499000.0), day(orderEpoch, 2404), pick(priorities))))

    val flags = IndexedSeq("A", "N", "R")
    val lineStatus = IndexedSeq("F", "O")
    val shipEpoch = LocalDateTime.of(1995, 1, 2, 0, 0)
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      (0 until 6000).map(_ => Row(rnd.nextInt(nOrders).toLong, rnd.nextInt(nPart).toLong,
        rnd.nextInt(nSupp).toLong, 1 + rnd.nextInt(7), (1 + rnd.nextInt(50)).toDouble,
        r2(900.0 + rnd.nextDouble() * 104100.0), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        pick(flags), pick(lineStatus), day(shipEpoch, 2498))))

    val eventTypes = IndexedSeq("click", "error", "purchase", "signup", "view")
    var ts = LocalDateTime.of(2024, 1, 1, 0, 0)
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until 1000).map { i =>
        ts = ts.plusNanos(rnd.nextLong(5160000000000L) / 1000L * 1000L)
        Row(i.toLong, java.sql.Timestamp.from(ts.toInstant(java.time.ZoneOffset.UTC)),
          rnd.nextInt(15).toLong, pick(eventTypes),
          r2(0.01 + rnd.nextDouble() * 330.0), s"""{"k": ${rnd.nextInt(100)}}""")
      })

    // documents: 30-word vocabulary; every 16th document repeats an
    // earlier one with a marker word, so the dedup rows have pairs to find
    val vocab = ("scan column window order sort part agg value line key join merge " +
      "query group a vector hash slow stream filter fast the spark batch table small " +
      "data big customer row").split(" ").toIndexedSeq
    val langs = IndexedSeq("en", "en", "en", "en", "de", "es", "fr", "zh")
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val docs = (0 until 500).map { i =>
      val text =
        if (i % 16 == 15) texts(rnd.nextInt(texts.length)) + " dup"
        else Seq.fill(8 + rnd.nextInt(82))(pick(vocab)).mkString(" ")
      texts += text
      Row(i.toLong, text, pick(langs), s"src${rnd.nextInt(20)}", text.length.toLong)
    }
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))), docs)

    val centroids = IndexedSeq.fill(10)(Array.fill(64)(rnd.nextDouble() * 2 - 1))
    save("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until 500).map { i =>
        val label = rnd.nextInt(10)
        val v = centroids(label).map(c => c + (rnd.nextDouble() * 2 - 1) * 0.6)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
    Await.result(Future.sequence(writes.toSeq), Duration.Inf)
  }
}

/** The pipeline workload's input: a seeded OAG JSON backlog (split
  * into `files` files) and one DBLP XML document, plus the counts a
  * correct run must reproduce. Keywords and authors are Zipf-skewed;
  * a fixed share of OAG rows breaks each acceptance rule of
  * `graft.ingest.Normalize`; some accepted rows are re-delivered
  * verbatim in a later file (the upsert must absorb them); a few
  * papers have 120 authors (hyper-authorship); and some DBLP records
  * lack a key or a title (the parser must count them as errors).
  */
case class PubCorpus(
    oagFiles: Seq[Seq[String]],
    dblpXml: String,
    acceptedKeys: Int,
    plantedDblpErrors: Int,
    topKeywords: Seq[String]) {
  def inputBytes: Long =
    oagFiles.flatten.map(_.getBytes("UTF-8").length + 1L).sum + dblpXml.getBytes("UTF-8").length
}

object PubCorpus {
  val OagRecords = 2400
  val DblpRecords = 600

  private class Zipf(n: Int, s: Double, rnd: SplittableRandom) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
  private def jstr(s: String) = "\"" + esc(s) + "\""
  private def jarr(xs: Seq[String]) = xs.map(jstr).mkString("[", ",", "]")

  def generate(seed: Long, files: Int): PubCorpus = {
    val rnd = new SplittableRandom(seed)
    val heads = IndexedSeq("graph", "stream", "query", "neural", "sparse", "parallel",
      "robust", "secure", "causal", "quantum", "adaptive", "federated", "semantic",
      "temporal", "spatial", "scalable")
    val tails = IndexedSeq("mining", "learning", "networks", "databases", "retrieval",
      "optimization", "inference", "systems", "indexing", "clustering", "embeddings",
      "compilers", "verification", "scheduling", "storage")
    val keywords = for (h <- heads; t <- tails) yield s"$h $t"
    val kwZipf = new Zipf(keywords.length, 1.1, rnd)
    val fos = IndexedSeq("computer science", "mathematics", "physics", "biology",
      "economics", "medicine", "statistics", "engineering", "chemistry", "linguistics")
    val authorZipf = new Zipf(1500, 0.9, rnd)
    def author(i: Int) = s"Author ${i / 26} ${('A' + i % 26).toChar}"
    def distinct(n: Int)(draw: => String): Seq[String] =
      Iterator.continually(draw).distinct.take(n).toSeq

    // one entry per file; re-deliveries land in a later file
    val perFile = Array.fill(files)(scala.collection.mutable.ArrayBuffer.empty[String])
    var accepted = 0
    for (id <- 0 until OagRecords) {
      val kws = distinct(1 + rnd.nextInt(4))(keywords(kwZipf.next()))
      val hyper = id % 800 == 7
      val authors =
        if (hyper) (0 until 120).map(k => s"Hyper Team ${id % 5} Member $k")
        else distinct(1 + rnd.nextInt(5))(author(authorZipf.next()))
      var doi: String = s"10.${1000 + rnd.nextInt(9000)}/$id"
      var title: String = s"${kws.head.capitalize} with ${keywords(rnd.nextInt(keywords.length))} $id"
      var lang = "en"
      var publisher: String = if (rnd.nextInt(10) < 7) s"Publisher ${rnd.nextInt(12)}" else null
      var venue: String = if (publisher == null || rnd.nextBoolean()) s"Venue ${rnd.nextInt(40)}" else null
      var kwOut = kws
      var fosOut = distinct(1 + rnd.nextInt(2))(fos(rnd.nextInt(fos.length)))
      var year = (1990 + rnd.nextInt(30)).toString
      var authorsOut = authors
      // 2% per acceptance rule, the rest accepted
      (id % 50) match {
        case 1 => lang = "fr"
        case 2 => doi = null
        case 3 => title = null
        case 4 => publisher = null; venue = null
        case 5 => kwOut = Nil; fosOut = Nil
        case 6 => year = year.take(2)
        case 8 => authorsOut = Nil
        case _ => accepted += 1
      }
      val fields = Seq(
        Option(title).map(t => s""""title":${jstr(t)}"""),
        Option(doi).map(d => s""""doi":${jstr(d)}"""),
        Some(s""""lang":${jstr(lang)}"""),
        Option(publisher).map(p => s""""publisher":${jstr(p)}"""),
        Option(venue).map(v => s""""venue":${jstr(v)}"""),
        Some(s""""year":${jstr(year)}"""),
        Some(s""""keywords":${jarr(kwOut)}"""),
        Some(s""""authors":${authorsOut.map(a => s"""{"name":${jstr(a)}}""").mkString("[", ",", "]")}"""),
        Some(s""""fos":${jarr(fosOut)}""")).flatten
      val line = fields.mkString("{", ",", "}")
      val file = id * files / OagRecords
      perFile(file) += line
      if (id % 20 == 9 && file + 1 < files) perFile(file + 1) += line
    }

    val xml = new StringBuilder("<?xml version=\"1.0\"?>\n<dblp>\n")
    var dblpErrors = 0
    for (id <- 0 until DblpRecords) {
      val conf = s"c${rnd.nextInt(30)}"
      val kw = keywords(kwZipf.next())
      val authors = distinct(1 + rnd.nextInt(4))(author(authorZipf.next()))
      val broken = id % 40 == 13
      val keyAttr = if (broken && id % 80 == 13) "" else s""" key="conf/$conf/$id""""
      xml ++= s"<inproceedings$keyAttr>"
      authors.foreach(a => xml ++= s"<author>$a</author>")
      if (!(broken && id % 80 != 13)) xml ++= s"<title>Dblp ${kw.capitalize} study $id</title>"
      xml ++= s"<year>${1990 + rnd.nextInt(30)}</year><booktitle>${conf.toUpperCase}</booktitle>"
      xml ++= "</inproceedings>\n"
      if (broken) dblpErrors += 1 else accepted += 1
    }
    xml ++= "</dblp>\n"
    PubCorpus(perFile.map(_.toSeq).toSeq, xml.toString, accepted, dblpErrors,
      keywords.take(3))
  }
}
