package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * The query surface is the union of per-area [[QueryPack]]s; each pack
  * pairs Spark DataFrame pipelines over the driver testdata with DuckDB
  * oracle SQL (where SQL-expressible).
  */
object SparkEntry {

  private val packs: Seq[QueryPack] = Seq(
    TextQueries,
    RelationalQueries,
    DedupQueries,
    SimilarityQueries,
    AssocQueries,
    GraphQueries,
    MultimodalQueries,
    WindowQueries,
    MiscQueries,
    AlgebraQueries,
    PipelineQueries,
    CurationQueries,
    TpchQueries,
    TpchDeepQueries,
    StatsQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("text_token_count")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    * Every oracle gets the READ-BOUNDARY shadow CTEs of the tables it
    * mentions ([[Tables.readBoundarySql]]) so the two engines consume
    * identically sanitized relations — applied HERE, once, so no
    * individual oracle can forget a boundary. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracles).toMap.map { case (k, v) =>
      k -> Tables.readBoundarySql(v)
    }

  /** Release every intermediate a query pinned with `persist()` (the
    * sketch/signature tables). Call after consuming a query's result —
    * every harness main does; so should any embedding application that runs
    * queries in a long-lived session. */
  def releaseCaches(): Unit = CacheRegistry.releaseAll()
}
