package graft.queries

import org.apache.spark.graphx.{Edge, Graph}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.graph.CommunityDetection

/** Graph-algorithm surface (G3/A7/A14) on the driver testdata: the
  * part-co-occurrence graph (parts are vertices, an edge when two parts
  * appear in >= 2 common orders) stands in for the publication graph.
  *
  * Community labels depend on the algorithm's label dynamics, so these
  * are rows-only-checked by the driver; algorithm correctness is pinned
  * by GraphSpec's hand-checkable fixtures. Label *ids* are vertex ids
  * (part keys) — deterministic across runs.
  */
object GraphQueries extends QueryPack {

  private def cooccurEdges(s: org.apache.spark.sql.SparkSession, d: String) = {
    // group-then-expand (one okey shuffle + in-partition pair
    // generation), not distinct + self-join (three shuffles) — see the
    // q_part_cooccur comment in RelationalQueries; output identical
    graft.functions.PairGen.suffixPairs(
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("ps")),
      col("ps"), "src", "dst")
      .groupBy("src", "dst")
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= 2)
  }

  // The wedge-family hub audit lives INSIDE the operators —
  // GraphOps.auditHubs rides the degree table the hub filter already
  // builds, so it costs one tiny agg over cached data instead of a
  // separate full-degree job.

  /** An iterative graph job schedules ~3 stages per superstep; with a
    * small edge set, 32 near-empty tasks per stage cost more wall time
    * than the compute. Size partitions to the data (one per ~50k edges,
    * min 4) — on a real cluster the same rule yields hundreds. */
  private def sizedPartitions(s: org.apache.spark.sql.SparkSession, nEdges: Long): Int =
    math.max(4, math.min(s.sparkContext.defaultParallelism, (nEdges / 50000L).toInt))

  /** Build a graph from a PERSISTED (CacheRegistry-tracked) edge table,
    * run `algo` on it, reduce its vertex values to a tiny
    * histogram-shaped result DISTRIBUTED (the collect below moves at
    * most a few dozen aggregated rows, like any action), then release
    * the GraphX RDD caches the run pinned — those are NOT covered by
    * `spark.catalog.clearCache()`, and round-1 left them resident
    * across the whole bench, turning later queries into GC lotteries.
    * Eager evaluation is what makes the deterministic `unpersist`
    * possible: the caller gets a small LocalRelation.
    *
    * The EDGE cache is the caller's (persistTracked, released by the
    * harness once the query is consumed) — so a query with two tiers
    * over the same graph shares ONE edge build (a private persist in
    * the float community tier would force the exact twin to re-run
    * the whole group-then-expand pipeline from the lineitem scan —
    * two okey exchanges, two pair aggregations, per query). */
  private def graphHistogram(s: org.apache.spark.sql.SparkSession, edf: org.apache.spark.sql.DataFrame,
      schema: Seq[String])(
      algo: Graph[Long, Double] => Seq[org.apache.spark.sql.Row]): org.apache.spark.sql.DataFrame = {
    val erdd = edf
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getLong(2).toDouble))
      .coalesce(sizedPartitions(s, edf.count()))
    val g = Graph.fromEdges(erdd, 0L)
    try {
      val rows = algo(g)
      s.createDataFrame(
        s.sparkContext.parallelize(rows, 1),
        org.apache.spark.sql.types.StructType(schema.map(n =>
          org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.LongType, nullable = false))))
    } finally {
      g.unpersist(blocking = false)
    }
  }

  import org.apache.spark.sql.Row

  override def queries: Map[String, Q] = Map(
    // G3 + A7: score-attenuated label propagation, label histogram —
    // CERTIFICATE-graded: the float tier's histogram rides next to
    // the exact-integer twin's with a per-size agreement flag, so the
    // row is hash-gradable (the oracle replays the exact CTEs and
    // claims full agreement — any float divergence surfaces as a red
    // row, which is precisely what the certificate asserts). Same
    // pattern that upgraded the SRP recall tier from rows-only.
    "graph_part_communities" -> ((s, d) => {
      // ONE persisted edge build serves both tiers: the float
      // tier's GraphX run and the exact-integer twin read the same
      // cached co-occurrence table instead of each re-running the
      // lineitem group-then-expand pipeline.
      val edges = graft.CacheRegistry.persistTracked(cooccurEdges(s, d))
      val floatHist = graphHistogram(s, edges, Seq("community_size", "n_float")) { g =>
        val labeled = CommunityDetection.run(g, iterations = 10, delta = 0.5)
        val hist = labeled.vertices
          .map { case (_, label) => (label, 1L) }.reduceByKey(_ + _)
          .map { case (_, size) => (size, 1L) }.reduceByKey(_ + _)
          .collect().sortBy(_._1)
        labeled.unpersist(blocking = false)
        hist.map { case (size, n) => Row(size, n) }.toSeq
      }
      val exactHist = graft.graph.ExactCommunities.run(edges, iters = 10)
        .groupBy(col("label")).agg(count(lit(1)).as("community_size"))
        .groupBy(col("community_size"))
        .agg(count(lit(1)).as("n_exact"))
      floatHist.join(exactHist, Seq("community_size"), "full_outer")
        .select(col("community_size"),
          coalesce(col("n_float"), lit(0L)).as("n_float"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          (coalesce(col("n_float"), lit(0L)) === coalesce(col("n_exact"), lit(0L)))
            .cast("long").as("agrees"))
        .orderBy("community_size")
    }),

    // Community detection again, but in scaled-integer arithmetic
    // (ExactCommunities): Leung's update has no division, so fixed-point
    // makes the whole label propagation bit-deterministic under any
    // partitioning — and the same 10 supersteps unroll as DuckDB CTEs,
    // upgrading the community tier to a hard value oracle exactly the
    // way ExactPageRank upgraded PageRank. Output is the same
    // community-size histogram shape as the float tier above.
    "graph_part_communities_exact" -> ((s, d) =>
      graft.graph.ExactCommunities.run(cooccurEdges(s, d), iters = 10)
        .groupBy(col("label")).agg(count(lit(1)).as("community_size"))
        .groupBy(col("community_size"))
        .agg(count(lit(1)).as("n_communities"))
        .orderBy(col("community_size"))),

    // PageRank over the co-occurrence graph — CERTIFICATE-graded:
    // float summation order makes the raw ranks unhashable, so the
    // query emits rank-order agreement@k between the float tier's
    // top-k hub set and the exact-integer twin's (k = 5/10/20, floor
    // 0.8k — thresholded like the SRP recall certificate, so benign
    // last-place jitter between two near-tied hubs can't flip the
    // grade while real divergence does). The full hub ranking ships
    // hash-graded from graph_part_pagerank_exact.
    "graph_part_pagerank" -> ((s, d) => {
      val edf = cooccurEdges(s, d).persist()
      // symmetrize: co-occurrence is an undirected relation, and the
      // exact twin (the hash-graded record) walks it undirected —
      // DIRECTED src<dst edges are a different chain, whose hubs the
      // certificate flags (overlap@20 = 0)
      val erdd = edf.rdd.flatMap(r => Seq(
          Edge(r.getLong(0), r.getLong(1), r.getLong(2).toDouble),
          Edge(r.getLong(1), r.getLong(0), r.getLong(2).toDouble)))
        .coalesce(sizedPartitions(s, edf.count()))
      val pr = Graph.fromEdges(erdd, 0L).staticPageRank(10)
      try {
        val floatTop = pr.vertices
          .map { case (id, rank) => (id, math.rint(rank * 1e4) / 1e4) }
          .top(20)(Ordering.by { case (id, rank) => (rank, -id) })
          .map(_._1)
        // 20-row bounded action — the exact twin is deterministic
        val exactTop = graft.graph.ExactPageRank
          .run(edf.select("src", "dst"), iters = 10)
          .orderBy(col("rank_scaled").desc, col("v").asc).limit(20)
          .select("v").collect().map(_.getLong(0))
        val rows = Seq(5, 10, 20).map { k =>
          val floor = math.ceil(0.8 * k).toLong
          val overlap = floatTop.take(k).toSet.intersect(exactTop.take(k).toSet).size
          // a graph with fewer than k vertices can only overlap on what
          // exists — the certificate tests agreement over the AVAILABLE
          // board (vacuously met on an empty graph, the empty-corpus
          // axis); the reported floor column stays the documented
          // ceil(0.8k) so the row schema never varies with graph size
          val eff = math.min(floor, exactTop.length.toLong)
          Row(k.toLong, floor, if (overlap >= eff) 1L else 0L)
        }
        s.createDataFrame(
          s.sparkContext.parallelize(rows, 1),
          org.apache.spark.sql.types.StructType(Seq("k", "overlap_floor", "floor_met").map(n =>
            org.apache.spark.sql.types.StructField(n, org.apache.spark.sql.types.LongType, nullable = false))))
      } finally {
        pr.unpersist(blocking = false)
        edf.unpersist(blocking = false)
      }
    }),

    // PageRank again, but in scaled-integer arithmetic (ExactPageRank):
    // bit-identical under any partitioning/summation order, so unlike
    // the float tier above it gets a hard DuckDB value oracle (the same
    // ten iterations unrolled as CTEs). Top-20 hub parts.
    // run() tracks its edge/degree caches in CacheRegistry; every
    // harness main releases them after consuming the result.
    "graph_part_pagerank_exact" -> ((s, d) =>
      graft.graph.ExactPageRank.run(cooccurEdges(s, d).select("src", "dst"), iters = 10)
        .orderBy(col("rank_scaled").desc, col("v").asc)
        .limit(20)
        .select(col("v").as("pkey"), col("rank_scaled"))),

    // Personalized PageRank from the smallest part id — graph-LOCAL
    // relevance (mass measures proximity to the seed, not global
    // centrality): the ranking a curation pipeline uses to pull
    // documents/entities "near" a trusted seed set. Same exact
    // scaled-integer loop discipline as the global twin (one
    // stationary degree-decorated edge table, one exchange per
    // round, integer adds commute → hard value oracle); the seed is
    // the min vertex id on both sides (a 1-row collect here, a `seed`
    // CTE in the oracle). Top-20 proximity board, deterministic
    // tie-break on the part key.
    "graph_part_ppr_exact" -> ((s, d) => {
      val e = graft.CacheRegistry.persistTracked(
        cooccurEdges(s, d).select("src", "dst"))
      val seedRow = e.agg(least(min("src"), min("dst"))).head
      // empty co-occurrence edge set (corpus has no multi-part order):
      // nothing to personalize — emit the empty ranking, the oracle's
      // shape (its seed CTE is empty so its walk emits zero rows).
      // Answer, don't crash (empty-corpus axis): an empty source
      // partition is a data condition at 100 TB, not a pipeline error.
      val seed = if (seedRow.isNullAt(0)) 0L else seedRow.getLong(0)
      graft.graph.ExactPageRank.personalizedRun(e, seed, iters = 10)
        .orderBy(col("rank_scaled").desc, col("v").asc)
        .limit(20)
        .select(col("v").as("pkey"), col("rank_scaled"))
    }),

    // Triangle counts: how clique-ish each part's neighborhood is.
    "graph_part_triangles" -> ((s, d) =>
      graphHistogram(s, graft.CacheRegistry.persistTracked(cooccurEdges(s, d)),
        Seq("triangles", "n_parts")) { g =>
        val tc = g.partitionBy(org.apache.spark.graphx.PartitionStrategy.EdgePartition2D)
          .triangleCount()
        val hist = tc.vertices
          .filter { case (_, t) => t > 0 }
          .map { case (_, t) => (t.toLong, 1L) }.reduceByKey(_ + _)
          .collect().sortBy(_._1)
        tc.unpersist(blocking = false)
        hist.map { case (t, n) => Row(t, n) }.toSeq
      }),

    // Connected components (GraphX built-in) — component size histogram.
    "graph_part_components" -> ((s, d) =>
      graphHistogram(s, graft.CacheRegistry.persistTracked(cooccurEdges(s, d)),
        Seq("component_size", "n_components")) { g =>
        val cc = g.connectedComponents()
        val hist = cc.vertices
          .map { case (_, comp) => (comp, 1L) }.reduceByKey(_ + _)
          .map { case (_, size) => (size, 1L) }.reduceByKey(_ + _)
          .collect().sortBy(_._1)
        cc.unpersist(blocking = false)
        hist.map { case (size, n) => Row(size, n) }.toSeq
      }),

    // k-core decomposition (k=3) by iterative peeling, rounds capped
    // at 6: each round computes degrees over the surviving subgraph
    // (one map-combined aggregate against the stationary repartitioned
    // edge table) and drops vertices below k. The output is the peel
    // round at which each part fell (0 = still in the subgraph after
    // round 6) — integer graph facts under ANY partitioning, so like
    // BFS this takes a HARD value oracle: the identical six rounds
    // unrolled as DuckDB CTEs. The round cap is part of the operator's
    // declared semantics (matching the oracle exactly), the same
    // bounded-superstep contract as the PageRank/community tiers.
    // Semantics (fixtures incl. the pendant-chain peel cascade) are
    // pinned in GraphSpec on the library operator itself.
    "graph_part_kcore" -> ((s, d) =>
      graft.graph.GraphOps.kcoreRounds(cooccurEdges(s, d), k = 3, rounds = 6)
        .select(col("v").as("part"), col("removed_round"))),

    // Weighted single-source shortest paths (min-plus over the
    // co-occurrence weight), 4 relaxation rounds from the smallest
    // part id — the weighted companion to graph_part_bfs. Each round
    // is ONE join of the current distance table against the stationary
    // repartitioned edge list plus ONE min-aggregate; distances are
    // integer sums of integer weights, so the same four rounds unroll
    // as DuckDB CTEs for a hard value oracle. −1 = not reached within
    // 4 relaxations (the declared, oracle-matched semantics).
    "graph_part_sssp" -> ((s, d) =>
      graft.graph.GraphOps.ssspRounds(cooccurEdges(s, d), rounds = 4)
        .select(col("v").as("part"), col("dist"))),

    // Local clustering coefficient per part — how clique-ish each
    // part's own neighborhood is: tri(v) closed triangles against
    // deg(v)·(deg(v)−1)/2 possible ones. Declarative 3-way self-join
    // on the canonical (src<dst) edge list — the join-based triangle
    // enumeration that scales on a cluster (each join shuffles on an
    // edge endpoint; no adjacency lists are materialized per vertex,
    // so a hot vertex costs its edge count, not its neighborhood²
    // array). tri and deg are integers, coeff is ONE double division
    // of integer operands — bit-exact vs the same SQL. Complements
    // graph_part_triangles (global histogram) with the per-vertex
    // table a feature pipeline would join back onto parts.
    "graph_part_clustering" -> ((s, d) =>
      graft.graph.GraphOps.clusteringCoeff(cooccurEdges(s, d))
        .select(col("v").as("part"), col("deg"), col("tri"), col("coeff"))),

    // Degree assortativity (Newman's r): do high-degree parts co-occur
    // with high-degree parts? Pearson correlation of endpoint degrees
    // over both orientations of every edge, computed the q_regr_slope
    // way — int64/DECIMAL(38) sufficient statistics (N, Σj, Σjk, Σj²;
    // HUGEINT on the oracle side), cross-multiplied into exact integer
    // numerator/denominator, then ONE double division (den = 0 on a
    // regular graph guards to 0.0 — engines disagree on double 0/0).
    // Two joins against the degree table riding the und partitioning,
    // one single-row reduce — no materialized adjacency.
    "graph_part_assortativity" -> ((s, d) =>
      graft.graph.GraphOps.assortativity(cooccurEdges(s, d))),

    // Link prediction: top-20 non-adjacent part pairs by shared
    // co-occurrence neighbors (GraphOps.commonNeighbors — wedge join
    // with the 1000-degree hub guard; max observed degree here is 13,
    // so the guard is invisible at driver SFs and the oracle replays
    // the uncapped enumeration; GraphSpec pins the hub exclusion on a
    // planted star). Integer counts + full-tuple tie-break make the
    // board deterministic and hash-gradable.
    "graph_part_common_neighbors" -> ((s, d) =>
      graft.graph.GraphOps.commonNeighbors(cooccurEdges(s, d),
        hubCap = 1000, topK = 20,
        audit = Some("graph_part_common_neighbors"))),

    // Normalized link prediction: neighborhood Jaccard over the same
    // hub-capped wedge join — |N∩| / |N∪| ranks a pair sharing 3 of 4
    // neighbors above a hub pair sharing 3 of 300, which raw
    // common-neighbor counts get exactly backwards. Integer counts
    // decorate with the degree table (vertex-cardinality, co-hashed on
    // the pair columns); ONE double division is the ranking key —
    // exact ints in, correctly rounded out, bit-identical on both
    // engines; full-tuple tie-break fixes the board.
    "graph_part_neighbor_jaccard" -> ((s, d) =>
      graft.graph.GraphOps.neighborJaccard(cooccurEdges(s, d),
        hubCap = 1000, topK = 20,
        audit = Some("graph_part_neighbor_jaccard"))),

    // Per-vertex two-hop reach (local influence census): 1-hop pairs
    // union hub-capped wedge-expanded 2-hop pairs, distinct, count —
    // only id pairs shuffle, never neighbor lists. Max driver-SF
    // degree is 13, so the 1000-cap oracle replays uncapped.
    "graph_part_twohop_reach" -> ((s, d) =>
      graft.graph.GraphOps.twoHopReach(cooccurEdges(s, d),
        hubCap = 1000, audit = Some("graph_part_twohop_reach"))),

    // BFS / unweighted single-source shortest paths — hop distance
    // from the smallest part id, capped at 4 hops (−1 = unreached).
    // Integer hops are partition-order-independent, so unlike the
    // community/PageRank float tiers this graph traversal takes a HARD
    // value oracle (the same BFS as a DuckDB recursive CTE). Pure
    // DataFrame loop: the undirected edge list is repartitioned by src
    // and persisted ONCE, so each hop pays one small frontier-side
    // exchange against a stationary edge table (the ExactPageRank
    // discipline); K is a constant, so lineage stays shallow.
    "graph_part_bfs" -> ((s, d) => {
      val maxHop = 4
      // single-pass explode undirect: a union form would execute the
      // whole unpersisted cooccurEdges pipeline twice
      val und = graft.CacheRegistry.persistTracked(
        graft.graph.GraphOps.undirect(
          cooccurEdges(s, d).select("src", "dst"), Seq("src", "dst"))
          .repartition(col("src")))
      val nodes = und.select(col("src").as("v")).distinct()
      var dist = nodes.agg(min("v").as("v")).select(col("v"), lit(0L).as("hop"))
      var frontier = dist
      for (h <- 1 to maxHop) {
        // frontier and nodes share the persisted edges' lineage —
        // qualify both sides or the self-join is ambiguous. Each hop's
        // frontier is persisted: nxt_h references dist_{h-1} AND
        // frontier_{h-1}, so an unpinned loop re-derives every earlier
        // expansion ~2^K times (ExactPageRank's lineage is linear and
        // doesn't need this; a frontier recurrence does)
        val nxt = graft.CacheRegistry.persistTracked(
          frontier.as("f").join(und.as("e"), col("f.v") === col("e.src"))
            .select(col("e.dst").as("v")).distinct()
            .join(dist, Seq("v"), "left_anti")
            .select(col("v"), lit(h.toLong).as("hop")))
        dist = dist.union(nxt)
        frontier = nxt
      }
      nodes.join(dist, Seq("v"), "left")
        .select(col("v").as("part"), coalesce(col("hop"), lit(-1L)).as("hop"))
    }))

  /** The co-occurrence edge set (w >= 2), as SQL — shared by the oracle
    * queries below. */
  private val edgesCte =
    """edges AS (
      |  WITH op AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey FROM lineitem)
      |  SELECT a.pkey AS src, b.pkey AS dst, count(*) AS w
      |  FROM op a JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  /** Unrolled peeling rounds for the k-core oracle: a{r} = survivors
    * after round r, rm{r} = vertices peeled in round r. Every
    * round-carried CTE is MATERIALIZED — DuckDB inlines CTEs by
    * default, and a{r} references a{r−1} four times, so the inlined
    * tree re-expands the lineitem scan 4^R times (the same exponential
    * the Spark side avoids by materializing each survivor set). */
  private def kcoreCtes(k: Int, rounds: Int): String = {
    val sb = new StringBuilder(
      "a0 AS MATERIALIZED (SELECT DISTINCT a AS v FROM dedges)")
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
        |deg$r AS MATERIALIZED (SELECT e.a AS v, count(*) AS c FROM dedges e
        |  JOIN a$p x ON e.a = x.v JOIN a$p y ON e.b = y.v GROUP BY 1),
        |rm$r AS MATERIALIZED (SELECT a$p.v FROM a$p LEFT JOIN deg$r ON a$p.v = deg$r.v
        |  WHERE coalesce(deg$r.c, 0) < $k),
        |a$r AS MATERIALIZED (SELECT v FROM a$p EXCEPT SELECT v FROM rm$r)""".stripMargin)
    }
    sb.append(s""",
      |removed AS (${(1 to rounds).map(r =>
        s"SELECT v, $r AS r FROM rm$r").mkString(" UNION ALL ")})""".stripMargin)
    sb.toString
  }

  /** Unrolled min-plus relaxation rounds for the SSSP oracle —
    * MATERIALIZED for the same anti-inlining reason (d{r} references
    * d{r−1} twice). */
  private def ssspCtes(rounds: Int): String = {
    val sb = new StringBuilder(
      """s AS (SELECT min(a) AS sv FROM wdedges),
        |d0 AS MATERIALIZED (SELECT sv AS v, CAST(0 AS BIGINT) AS dist FROM s)""".stripMargin)
    for (r <- 1 to rounds) {
      val p = r - 1
      sb.append(s""",
        |d$r AS MATERIALIZED (SELECT v, min(dist) AS dist FROM (
        |  SELECT v, dist FROM d$p
        |  UNION ALL
        |  SELECT e.b, d$p.dist + e.w FROM d$p JOIN wdedges e ON d$p.v = e.a
        |) u GROUP BY 1)""".stripMargin)
    }
    sb.toString
  }

  // Every graph row is hash-graded: deterministic graph facts get
  // exact SQL oracles; the two float tiers emit certificates against
  // their exact-integer twins, whose claims the oracles pin.
  override def oracles: Map[String, String] = Map(
    // The certificate claims per-size agreement with the exact twin's
    // histogram — the oracle replays the exact supersteps and asserts
    // the claim (n_float == n_exact, agrees = 1 on every row).
    "graph_part_communities" ->
      s"""WITH $edgesCte,
         |${graft.graph.ExactCommunities.oracleCtes(10)},
         |sizes AS (SELECT label, count(*) AS cnt FROM s10 GROUP BY 1),
         |h AS (SELECT cnt AS community_size, count(*) AS n FROM sizes GROUP BY 1)
         |SELECT community_size, CAST(n AS BIGINT) AS n_float,
         |       CAST(n AS BIGINT) AS n_exact, CAST(1 AS BIGINT) AS agrees
         |FROM h ORDER BY 1""".stripMargin,

    // Rank-order agreement@k certificate: the claim is that every
    // agreement floor is met (floor_met = 1 for k = 5/10/20).
    "graph_part_pagerank" ->
      """SELECT CAST(k AS BIGINT) AS k,
        |       CAST(CEIL(0.8 * k) AS BIGINT) AS overlap_floor,
        |       CAST(1 AS BIGINT) AS floor_met
        |FROM (VALUES (5), (10), (20)) AS t(k)""".stripMargin,

    // BFS hop distances are integer graph facts — the recursive CTE
    // runs the same frontier expansion with the same 4-hop cap; UNION
    // dedups (v, hop) pairs and min(hop) recovers the BFS distance.
    "graph_part_bfs" ->
      s"""WITH RECURSIVE $edgesCte,
         |dedges AS (SELECT src AS a, dst AS b FROM edges UNION ALL SELECT dst, src FROM edges),
         |dnodes AS (SELECT DISTINCT a AS v FROM dedges),
         |s AS (SELECT min(v) AS sv FROM dnodes),
         |bfs(v, hop) AS (
         |  SELECT sv, 0 FROM s
         |  UNION
         |  SELECT e.b, bfs.hop + 1 FROM bfs JOIN dedges e ON bfs.v = e.a WHERE bfs.hop < 4),
         |d AS (SELECT v, min(hop) AS hop FROM bfs GROUP BY 1)
         |SELECT n.v AS part, CAST(coalesce(d.hop, -1) AS BIGINT) AS hop
         |FROM dnodes n LEFT JOIN d ON n.v = d.v""".stripMargin,

    // The peel rounds are integer graph facts — the oracle replays the
    // identical six rounds as unrolled CTEs.
    "graph_part_kcore" ->
      s"""WITH $edgesCte,
         |dedges AS MATERIALIZED (SELECT src AS a, dst AS b FROM edges UNION ALL SELECT dst, src FROM edges),
         |${kcoreCtes(3, 6)}
         |SELECT n.v AS part, CAST(coalesce(r.r, 0) AS BIGINT) AS removed_round
         |FROM a0 n LEFT JOIN removed r ON n.v = r.v""".stripMargin,

    // Integer min-plus distances replay exactly — same four relaxation
    // rounds unrolled.
    "graph_part_sssp" ->
      s"""WITH $edgesCte,
         |wdedges AS MATERIALIZED (SELECT src AS a, dst AS b, w FROM edges UNION ALL SELECT dst, src, w FROM edges),
         |${ssspCtes(4)},
         |dnodes AS (SELECT DISTINCT a AS v FROM wdedges)
         |SELECT n.v AS part, CAST(coalesce(d.dist, -1) AS BIGINT) AS dist
         |FROM dnodes n LEFT JOIN d4 d ON n.v = d.v""".stripMargin,

    // The scaled-integer PageRank is exactly reproducible, so the oracle
    // replays the identical ten iterations (unrolled CTEs) in DuckDB.
    "graph_part_pagerank_exact" ->
      s"""WITH $edgesCte,
         |${graft.graph.ExactPageRank.oracleCtes(10)}
         |SELECT v AS pkey, rank AS rank_scaled FROM r10
         |ORDER BY rank_scaled DESC, pkey ASC LIMIT 20""".stripMargin,

    "graph_part_ppr_exact" ->
      s"""WITH $edgesCte,
         |${graft.graph.ExactPageRank.personalizedOracleCtes(10)}
         |SELECT v AS pkey, rank AS rank_scaled FROM r10
         |ORDER BY rank_scaled DESC, pkey ASC LIMIT 20""".stripMargin,

    // The scaled-integer label propagation is exactly reproducible, so
    // the oracle replays the identical ten supersteps (unrolled CTEs).
    "graph_part_communities_exact" ->
      s"""WITH $edgesCte,
         |${graft.graph.ExactCommunities.oracleCtes(10)},
         |sizes AS (SELECT label, count(*) AS cnt FROM s10 GROUP BY 1)
         |SELECT cnt AS community_size, count(*) AS n_communities
         |FROM sizes GROUP BY 1 ORDER BY 1""".stripMargin,

    // Connected components via min-label transitive closure (the giant
    // component makes this quadratic — fine at oracle scale).
    "graph_part_components" ->
      s"""WITH RECURSIVE $edgesCte,
         |dedges AS (SELECT src AS a, dst AS b FROM edges UNION ALL SELECT dst, src FROM edges),
         |dnodes AS (SELECT DISTINCT a AS v FROM dedges),
         |cc(v, lbl) AS (
         |  SELECT v, v FROM dnodes
         |  UNION
         |  SELECT e.b, cc.lbl FROM cc JOIN dedges e ON cc.v = e.a),
         |roots AS (SELECT v, min(lbl) AS root FROM cc GROUP BY v),
         |sizes AS (SELECT root, count(*) AS cnt FROM roots GROUP BY root)
         |SELECT cnt AS component_size, count(*) AS n_components
         |FROM sizes GROUP BY 1""".stripMargin,

    // Per-vertex triangle incidence via the canonical 3-way self-join,
    // then the same (>0) histogram the GraphX side produces.
    "graph_part_triangles" ->
      s"""WITH $edgesCte,
         |e AS (SELECT DISTINCT src AS a, dst AS b FROM edges),
         |tris AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
         |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
         |pv AS (SELECT v, count(*) AS triangles FROM (
         |  SELECT x AS v FROM tris UNION ALL SELECT y FROM tris
         |  UNION ALL SELECT z FROM tris) GROUP BY v)
         |SELECT triangles, count(*) AS n_parts FROM pv GROUP BY 1""".stripMargin,

    // Same triangle enumeration + degree, per vertex; coeff is one
    // double division of integer operands (exact on both engines).
    "graph_part_clustering" ->
      s"""WITH $edgesCte,
         |e AS (SELECT DISTINCT src AS a, dst AS b FROM edges),
         |tris AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
         |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b),
         |pv AS (SELECT v, count(*) AS tri FROM (
         |  SELECT x AS v FROM tris UNION ALL SELECT y FROM tris
         |  UNION ALL SELECT z FROM tris) GROUP BY v),
         |deg AS (SELECT v, count(*) AS deg FROM (
         |  SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v)
         |SELECT deg.v AS part, deg.deg AS deg,
         |  CAST(coalesce(pv.tri, 0) AS BIGINT) AS tri,
         |  CASE WHEN deg.deg < 2 THEN 0.0
         |    ELSE CAST(coalesce(pv.tri, 0) * 2 AS DOUBLE) / (deg.deg * (deg.deg - 1))
         |  END AS coeff
         |FROM deg LEFT JOIN pv ON deg.v = pv.v""".stripMargin,

    // same sufficient statistics in HUGEINT; identical guard + single
    // double division.
    "graph_part_assortativity" ->
      s"""WITH $edgesCte,
         |e AS (SELECT DISTINCT src, dst FROM edges),
         |und AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
         |degt AS (SELECT src AS v, count(*) AS deg FROM und GROUP BY 1),
         |dd AS (
         |  SELECT a.deg AS dj, b.deg AS dk
         |  FROM und JOIN degt a ON und.src = a.v JOIN degt b ON und.dst = b.v),
         |st AS (
         |  SELECT count(*) AS n, CAST(sum(dj) AS BIGINT) AS sj,
         |    sum(CAST(dj AS HUGEINT) * dk) AS sjk,
         |    sum(CAST(dj AS HUGEINT) * dj) AS sjj
         |  FROM dd)
         |SELECT n, sj,
         |  CASE WHEN CAST(n AS HUGEINT) * sjj - CAST(sj AS HUGEINT) * sj = 0 THEN 0.0
         |    ELSE CAST(CAST(n AS HUGEINT) * sjk - CAST(sj AS HUGEINT) * sj AS DOUBLE)
         |       / CAST(CAST(n AS HUGEINT) * sjj - CAST(sj AS HUGEINT) * sj AS DOUBLE)
         |  END AS assortativity
         |FROM st""".stripMargin,

    // uncapped wedge enumeration (max degree at driver SFs is far
    // below the Spark side's 1000 hub guard, so the sets coincide);
    // anti-join drops already-adjacent pairs, full-tuple order fixes
    // the top-20 board.
    "graph_part_common_neighbors" ->
      s"""WITH $edgesCte,
         |e AS (SELECT DISTINCT src, dst FROM edges),
         |adj AS (SELECT src AS c, dst AS v FROM e
         |        UNION ALL SELECT dst AS c, src AS v FROM e),
         |pairs AS (
         |  SELECT x.v AS src, y.v AS dst, count(*) AS cn
         |  FROM adj x JOIN adj y ON x.c = y.c AND x.v < y.v
         |  GROUP BY 1, 2),
         |np AS (
         |  SELECT p.src, p.dst, p.cn FROM pairs p
         |  LEFT JOIN e ON p.src = e.src AND p.dst = e.dst
         |  WHERE e.src IS NULL)
         |SELECT src, dst, cn FROM np
         |ORDER BY cn DESC, src, dst LIMIT 20""".stripMargin,

    // same wedge census, decorated with degrees; rank on the raw
    // division (exact either way), ship the rounded value.
    "graph_part_neighbor_jaccard" ->
      s"""WITH $edgesCte,
         |e AS (SELECT DISTINCT src, dst FROM edges),
         |adj AS (SELECT src AS c, dst AS v FROM e
         |        UNION ALL SELECT dst AS c, src AS v FROM e),
         |deg AS (SELECT c, count(*) AS deg FROM adj GROUP BY 1),
         |pairs AS (
         |  SELECT x.v AS src, y.v AS dst, count(*) AS cn
         |  FROM adj x JOIN adj y ON x.c = y.c AND x.v < y.v
         |  GROUP BY 1, 2),
         |np AS (
         |  SELECT p.src, p.dst, p.cn FROM pairs p
         |  LEFT JOIN e ON p.src = e.src AND p.dst = e.dst
         |  WHERE e.src IS NULL),
         |j AS (
         |  SELECT np.src, np.dst, np.cn,
         |    ds.deg AS deg_src, dd.deg AS deg_dst,
         |    np.cn * 1.0 / (ds.deg + dd.deg - np.cn) AS jraw
         |  FROM np JOIN deg ds ON np.src = ds.c JOIN deg dd ON np.dst = dd.c)
         |SELECT src, dst, cn, deg_src, deg_dst, round(jraw, 6) AS jaccard
         |FROM j ORDER BY jraw DESC, src, dst LIMIT 20""".stripMargin,

    "graph_part_twohop_reach" ->
      s"""WITH $edgesCte,
         |e AS (SELECT DISTINCT src, dst FROM edges),
         |adj AS (SELECT src AS c, dst AS v FROM e
         |        UNION ALL SELECT dst AS c, src AS v FROM e),
         |two AS (
         |  SELECT a.v AS c, b.v AS v
         |  FROM adj a JOIN adj b ON a.c = b.c AND a.v <> b.v),
         |reach AS (
         |  SELECT DISTINCT c, v FROM (
         |    SELECT c, v FROM adj UNION ALL SELECT c, v FROM two))
         |SELECT c AS part, count(*) AS reach2
         |FROM reach GROUP BY 1""".stripMargin)
}
