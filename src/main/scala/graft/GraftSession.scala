package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Opinionated session factory: the conf we want on a real cluster,
  * scaled down for local[N], and the one profile every harness main
  * (Bench, Verify, Probe, ExplainProbe, Soak) runs under.
  *
  *  - AQE on (runtime coalesce + skew-join split — directly relevant to
  *    the "computer science"-style hot keys in the co-occurrence joins,
  *    SURVEY.md §7.4-5).
  *  - shuffle.partitions sized to cores locally; on a 1000-executor
  *    cluster this is raised (or left to AQE's coalescing with a high
  *    initial partition number).
  *  - UTC so timestamp-derived columns match the DuckDB oracle.
  */
object GraftSession {

  val DefaultCores = 4

  /** Execute a query's FULL physical plan and return its row count —
    * the timing action for Bench/Soak/Probe. A bare `Dataset.count()`
    * lets Catalyst prune every column the count doesn't need, so a
    * query whose tail is a per-row Window/projection (q_events_rolling,
    * q_events_ewma) collapses to a parquet scan-count and the timing
    * measures I/O, not the operator (rolling read a flat 0.29 s while
    * its output grew 64× up the soak ladder). `toRdd` executes the plan
    * with its full output schema — every column computed distributed,
    * nothing shipped to the driver — which is what "run the query"
    * costs the consumer who writes the result (Verify, the correctness
    * gate, pays it: it writes parquet). */
  def forceAll(df: DataFrame): Long =
    df.queryExecution.toRdd.count()

  /** One timed run of a query: `Right((rows, seconds))`, or `Left` with
    * what the build or the execution threw — a failed query is never
    * given a time. Cross-query cached relations are dropped before the
    * clock so each query pays its own cost; the query's tracked caches
    * are released whatever happens. Throwable, not NonFatal: a stack
    * overflow in one query's planner must not end the whole run. */
  def timed(spark: SparkSession)(query: => DataFrame): Either[Throwable, (Long, Double)] = {
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    try {
      val rows = forceAll(query)
      Right((rows, (System.nanoTime() - t0) / 1e9))
    } catch { case e: Throwable => Left(e) }
    finally SparkEntry.releaseCaches()
  }

  /** `s` as a JSON string literal. Every control character is escaped:
    * a tab or CR in an oracle's SQL, or a quote in an env-controlled
    * path, would otherwise make the reader's `json.load` fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The data directory the harness mains read (`SPARK_GRAFT_SF_DIR`). */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  /** `SPARK_GRAFT_ONLY=a,b,c`: the queries a harness run is narrowed to,
    * in the order given. For local iteration; a full run never sets it. */
  def only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct)

  def builder(cores: Int = DefaultCores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // per-process dir: the in-memory catalog dies with the JVM but the
      // location wouldn't, and a stale location fails the next CTAS
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-warehouse-${ProcessHandle.current().pid()}")
      .config("spark.ui.enabled", "false")

  def get(cores: Int = DefaultCores): SparkSession = init(builder(cores))

  /** The harness mains' session: `SPARK_GRAFT_CPUS` cores (default
    * [[DefaultCores]]); `SPARK_GRAFT_AQE=0` turns adaptive execution off.
    * Both are determinism axes — every query must stay hash-green under
    * any parallelism, and whether or not the runtime re-plans
    * (coalesced partitions, demoted broadcasts, split skew joins). */
  def fromEnv(): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(DefaultCores)
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "1") != "0"
    init(builder(cores).config("spark.sql.adaptive.enabled", aqe.toString))
  }

  // custom SQL functions + the levenshtein band/threshold optimizer rule
  // — the gate grades the REWRITTEN edit-distance plans
  private def init(b: SparkSession.Builder): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(s)
    s
  }
}
