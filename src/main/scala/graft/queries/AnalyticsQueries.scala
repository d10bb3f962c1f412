package graft.queries

import org.apache.spark.sql.functions._

import graft.analytics.GraphAnalytics
import graft.core.{GraphSnapshot, TpchGraph}
import graft.sources.Tables

/** GraphX analytics over the geography subgraph of [[TpchGraph]]
  * (customer/supplier -[in_nation]-> nation -[in_region]-> region):
  * a DAG whose components and ranks have closed forms, so even
  * iterative results are DuckDB-checkable.
  */
object AnalyticsQueries extends QueryModule {

  import TpchGraph._

  private object State {
    @volatile var kcoreRounds: Option[Int] = None
    @volatile var embedModel: Option[graft.analytics.GraphEmbed.EmbedModel] = None
    @volatile var ssspSource: Option[Long] = None
    @volatile var ssspRounds: Option[Int] = None
    @volatile var harmonicLandmarks: Option[Seq[Long]] = None
    @volatile var harmonicRounds: Option[Int] = None
    @volatile var misRounds: Option[Int] = None
    @volatile var eccLandmarks: Option[Seq[Long]] = None
    @volatile var eccRounds: Option[Int] = None
  }

  /** The customer co-purchase edge CTEs (DuckDB): an edge joins two
    * customers who ordered the same part. Ends in `e0(u, v)`.
    */
  /** Customers sharing >= 4 distinct parts — the community-structured
    * graph the LPA / PPR / walk gates share (the raw co-purchase
    * graph is near-complete; see q_label_prop). Checkpointed so each
    * gate builds it once per invocation.
    */
  private def sharedPartsEdges(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    withCustomerParts(s, dir)(cp => sharedPairs(cp)
      .select(col("a.c").as("src"), col("b.c").as("dst"))
      .localCheckpoint())

  /** Customer pairs (a.c < b.c) sharing >= 4 distinct parts of `cp`. */
  private def sharedPairs(cp: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cp.as("a")
      .join(cp.as("b"), col("a.p") === col("b.p") && col("a.c") < col("b.c"))
      .groupBy(col("a.c"), col("b.c")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 4)

  /** Lends `use` the distinct (customer c, part p) purchases,
    * checkpointed and released once `use` returns: `use` must
    * materialize whatever it builds from them.
    *
    * lineitem is spread before the join (r16 optimization): the
    * single-row-group test layout caps the scan-join stage at ~1 task;
    * spread is a no-op on any multi-split production layout. The
    * checkpoint is then PINNED to machine width by the part key (r16,
    * guide §2.5): the (c, p) frame is a few MB after distinct, so AQE
    * coalesces the exchange feeding the pair-generation self-join to
    * ~10 tasks while that stage amplifies rows quadratically per part
    * (measured 7.6 s executor on 10 tasks). The pinned exchange is
    * reused by BOTH sides of the self-join; no-op at production widths
    * (widenPinned contract). The release matters for bench reps, which
    * otherwise stack a few MB per rep in the block manager.
    */
  private def withCustomerParts[A](s: org.apache.spark.sql.SparkSession, dir: String)(
      use: org.apache.spark.sql.DataFrame => A): A = {
    val t = Tables(s, dir)
    val cp0 = t.orders.join(
        graft.pipeline.TextOps.spread(
          t.lineitem.select(col("l_orderkey"), col("l_partkey")), col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
      .localCheckpoint(true)
    try use(GraphAnalytics.widenPinned(cp0, col("p")))
    finally GraphAnalytics.freeCheckpoint(cp0)
  }

  /** SQL twin of [[sharedPartsEdges]]: `te` (u < v), its undirected
    * expansion `ed`, and the node set.
    */
  private val sharedPartsCtes =
    """cp AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |te AS MATERIALIZED (SELECT a.c AS u, b.c AS v FROM cp a JOIN cp b
      |       ON a.p = b.p AND a.c < b.c GROUP BY a.c, b.c HAVING count(*) >= 4),
      |ed AS MATERIALIZED (SELECT u, v FROM te UNION ALL SELECT v AS u, u AS v FROM te),
      |nodes AS MATERIALIZED (SELECT DISTINCT u AS id FROM ed)""".stripMargin

  /** [[sharedPartsEdges]] with an integer edge COST: strongly-shared
    * links are cheap (`w = max(1, 11 − min(10, shared))` ∈ [1, 7]) —
    * the inverse-tie-strength routing weight the SSSP gate traverses.
    */
  private def sharedPartsWeighted(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    withCustomerParts(s, dir)(cp => sharedPairs(cp)
      .select(col("a.c").as("src"), col("b.c").as("dst"),
        greatest(lit(1L), lit(11L) - least(lit(10L), col("shared"))).as("w"))
      .localCheckpoint())

  /** SQL twin of [[sharedPartsWeighted]]: `tew(u, v, w)` and its
    * undirected expansion `edw`.
    */
  private val sharedPartsWeightedCtes =
    """cp AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |tew AS MATERIALIZED (SELECT a.c AS u, b.c AS v,
      |       GREATEST(1, 11 - LEAST(10, count(*))) AS w
      |       FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c
      |       GROUP BY a.c, b.c HAVING count(*) >= 4),
      |edw AS MATERIALIZED (SELECT u, v, w FROM tew
      |       UNION ALL SELECT v AS u, u AS v, w FROM tew)""".stripMargin

  /** One unrolled Bellman-Ford relaxation round: `d{i-1}` → `d{i}`.
    * MATERIALIZED for the usual re-evaluation reason (each round
    * references its predecessor twice).
    */
  private def relaxRoundSql(i: Int): String =
    s"""d$i AS MATERIALIZED (SELECT id, min(d) AS d FROM (
       |    SELECT id, d FROM d${i - 1}
       |    UNION ALL SELECT e.v AS id, p.d + e.w AS d
       |    FROM d${i - 1} p JOIN edw e ON e.u = p.id) GROUP BY id)""".stripMargin

  /** Multi-source twin of [[relaxRoundSql]]: state keyed (src, id). */
  private def relaxRoundMultiSql(i: Int): String =
    s"""d$i AS MATERIALIZED (SELECT src, id, min(d) AS d FROM (
       |    SELECT src, id, d FROM d${i - 1}
       |    UNION ALL SELECT p.src, e.v AS id, p.d + e.w AS d
       |    FROM d${i - 1} p JOIN edw e ON e.u = p.id) GROUP BY src, id)""".stripMargin

  private val coPurchaseCtes =
    """cp AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_partkey AS p
      |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |e0 AS MATERIALIZED (SELECT DISTINCT a.c AS u, b.c AS v FROM cp a JOIN cp b
      |       ON a.p = b.p AND a.c < b.c)""".stripMargin

  /** One unrolled peel round: degree >= k survivors of e{i} filter
    * e{i} into e{i+1}. MATERIALIZED is load-bearing: each round
    * references its predecessor three times, so inlined CTEs would
    * re-evaluate the base join 3^rounds times.
    */
  private def peelRoundSql(i: Int, k: Int): String =
    s"""d$i AS MATERIALIZED (SELECT id, count(*) AS c
       |        FROM (SELECT u AS id FROM e$i UNION ALL SELECT v AS id FROM e$i)
       |        GROUP BY id HAVING count(*) >= $k),
       |e${i + 1} AS MATERIALIZED (SELECT u, v FROM e$i
       |        WHERE u IN (SELECT id FROM d$i) AND v IN (SELECT id FROM d$i))""".stripMargin

  /** Geography-only subgraph: label-pruned scans, no lineitem fan-in. */
  private def geo(s: org.apache.spark.sql.SparkSession, dir: String): GraphSnapshot = {
    val g = TpchGraph.snapshot(s, dir)
    GraphSnapshot(
      g.nodes.filter(col("label").isin("customer", "supplier", "nation", "region")),
      g.edges.filter(col("label").isin("in_nation", "in_region")))
  }

  override def queries: Seq[QueryDef] = Seq(
    // ---- connected components: one component per region tree ----
    // Component label = min vertex id = 1e9 + min custkey in the
    // region (customers own the smallest id space). Uses the GraphX
    // form: repeated analytics over one snapshot ride the memoized
    // cached graph (toGraphX).
    QueryDef(
      "q_cc_components",
      "connected components of the geography subgraph (one per region)",
      (s, dir) =>
        GraphAnalytics.connectedComponents(s, geo(s, dir))
          .groupBy(col("component")).agg(count(lit(1)).as("n_nodes")),
      Some(s"""WITH cr AS (SELECT c_custkey, r_regionkey
              |           FROM customer JOIN nation ON c_nationkey = n_nationkey
              |                          JOIN region ON n_regionkey = r_regionkey),
              |sr AS (SELECT s_suppkey, r_regionkey
              |       FROM supplier JOIN nation ON s_nationkey = n_nationkey
              |                      JOIN region ON n_regionkey = r_regionkey)
              |SELECT $CUST + (SELECT min(c_custkey) FROM cr WHERE cr.r_regionkey = r.r_regionkey) AS component,
              |       (SELECT count(*) FROM cr WHERE cr.r_regionkey = r.r_regionkey)
              |     + (SELECT count(*) FROM sr WHERE sr.r_regionkey = r.r_regionkey)
              |     + (SELECT count(*) FROM nation WHERE n_regionkey = r.r_regionkey)
              |     + 1 AS n_nodes
              |FROM region r""".stripMargin)
    ),

    // ---- fixed-iteration PageRank on the DAG (closed form) ----
    QueryDef(
      "q_pagerank",
      "5-iteration PageRank; nation/region ranks vs closed form",
      (s, dir) =>
        GraphAnalytics.pageRank(s, geo(s, dir), 5)
          .filter((col("id") >= NATION && col("id") < SUPP) || col("id") >= REGION)
          .select(col("id"), round(col("rank"), 6).as("rank")),
      // Spark's staticPageRank normalizes final ranks to sum = |V|;
      // the DAG closed form is r_cust = 0.15, r_nation = 0.15 +
      // 0.85*0.15*(members), r_region = 0.15 + 0.85*sum(r_nation),
      // then scaled by |V| / sum(all ranks).
      Some(s"""WITH nr AS (
              |  SELECT n_nationkey, n_regionkey,
              |         0.15 + 0.85 * 0.15 * (
              |           (SELECT count(*) FROM customer WHERE c_nationkey = n_nationkey)
              |         + (SELECT count(*) FROM supplier WHERE s_nationkey = n_nationkey)) AS r
              |  FROM nation),
              |rr AS (
              |  SELECT r_regionkey,
              |         0.15 + 0.85 * (SELECT sum(r) FROM nr WHERE n_regionkey = r_regionkey) AS r
              |  FROM region),
              |tot AS (
              |  SELECT ((SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
              |        + (SELECT count(*) FROM nation) + (SELECT count(*) FROM region)) AS nv,
              |         (0.15 * ((SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier))
              |        + (SELECT sum(r) FROM nr) + (SELECT sum(r) FROM rr)) AS sr)
              |SELECT n_nationkey + $NATION AS id, round(r * nv / sr, 6) AS rank FROM nr, tot
              |UNION ALL
              |SELECT r_regionkey + $REGION AS id, round(r * nv / sr, 6) AS rank FROM rr, tot""".stripMargin)
    ),

    // ---- bounded multi-hop BFS: hop-distance histogram ----
    // sources = region nodes, edges reversed: dist 0 = regions,
    // 1 = nations, 2 = customers+suppliers. maxHops=2 is bounded and
    // small, so this takes the iterative-DataFrame-join path (2 joins)
    // rather than Pregel — same semantics (AnalyticsStreamingSpec
    // asserts DF == Pregel), none of the RDD-conversion overhead.
    QueryDef(
      "q_pregel_hops",
      "bounded BFS from all regions over reversed edges: distance histogram",
      (s, dir) => {
        val t = Tables(s, dir)
        val regionIds = t.region.select(col("r_regionkey").cast("long") + REGION)
          .collect().map(_.getLong(0)).toSet
        GraphAnalytics.hopDistancesDF(s, geo(s, dir), regionIds, maxHops = 2, reverse = true)
          .groupBy(col("dist")).agg(count(lit(1)).as("n"))
      },
      Some("""SELECT 0 AS dist, count(*) AS n FROM region
             |UNION ALL SELECT 1, count(*) FROM nation
             |UNION ALL SELECT 2, (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)""".stripMargin)
    ),

    // ---- triangle count over the supplier co-occurrence graph ----
    // Edge (s1, s2) iff the two suppliers ship in the same order; the
    // Spark side counts via degree-ordered orientation (out-degrees
    // bounded by O(sqrt|E|), so the wedge join never sees a hub
    // blow-up) — the oracle enumerates canonical triples directly,
    // and the counts must agree because orientation counts each
    // triangle exactly once.
    QueryDef(
      "q_tri_count",
      "supplier co-shipment graph: nodes, edges, triangles (degree-oriented count)",
      (s, dir) => {
        val li = graft.pipeline.TextOps.spread(
          Tables(s, dir).lineitem.select(col("l_orderkey"), col("l_suppkey")),
          col("l_orderkey"))
        // the edge build (self-join + distinct) feeds THREE branches
        // (nodes, edges, triangles) — cut it once instead of letting
        // the crossJoin plan re-run it per branch
        val edges = li.as("a")
          .join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_suppkey") < col("b.l_suppkey"))
          .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
          .distinct()
          .localCheckpoint()
        val nn = edges.select(explode(array(col("src"), col("dst"))).as("id"))
          .distinct().agg(count(lit(1)).as("n_nodes"))
        val ne = edges.agg(count(lit(1)).as("n_edges"))
        val nt = GraphAnalytics.triangleCount(edges)
        nn.crossJoin(ne).crossJoin(nt)
      },
      Some("""WITH e AS (SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
             |           FROM lineitem a JOIN lineitem b
             |             ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
             |t AS (SELECT count(*) AS n_triangles
             |      FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
             |                 JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v)
             |SELECT (SELECT count(*) FROM (SELECT u FROM e UNION SELECT v FROM e)) AS n_nodes,
             |       (SELECT count(*) FROM e) AS n_edges, n_triangles FROM t""".stripMargin)
    ),

    // ---- per-vertex triangles + local clustering coefficient ----
    // Watts-Strogatz lcc over the same supplier co-shipment graph;
    // counts stay BIGINT and the coefficient gates as a per-row
    // micro-int, so the double division can never drift cross-engine.
    QueryDef(
      "q_tri_local",
      "per-supplier triangle participation + local clustering coefficient",
      (s, dir) => {
        val li = graft.pipeline.TextOps.spread(
          Tables(s, dir).lineitem.select(col("l_orderkey"), col("l_suppkey")),
          col("l_orderkey"))
        // no .distinct() (r16 optimization): clusteringCoefficients
        // canonicalizes (least/greatest + distinct) anyway — the
        // query-side distinct was a second full exchange of the pair
        // stream for nothing
        val edges = li.as("a")
          .join(li.as("b"),
            col("a.l_orderkey") === col("b.l_orderkey") &&
              col("a.l_suppkey") < col("b.l_suppkey"))
          .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
        GraphAnalytics.clusteringCoefficients(edges)
      },
      Some("""WITH e AS MATERIALIZED (
             |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
             |  FROM lineitem a JOIN lineitem b
             |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
             |deg AS (SELECT id, count(*) AS deg
             |        FROM (SELECT u AS id FROM e UNION ALL SELECT v FROM e) GROUP BY id),
             |tri AS MATERIALIZED (
             |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
             |  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
             |             JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
             |pt AS (SELECT id, count(*) AS n_tri
             |       FROM (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
             |             UNION ALL SELECT c FROM tri) GROUP BY id)
             |SELECT d.id, CAST(d.deg AS BIGINT) AS deg,
             |       CAST(COALESCE(p.n_tri, 0) AS BIGINT) AS n_tri,
             |       CASE WHEN d.deg >= 2 THEN CAST(round(round(
             |           2.0 * COALESCE(p.n_tri, 0) / (d.deg * (d.deg - 1)), 6) * 1000000, 0) AS BIGINT)
             |            ELSE 0 END AS lcc_micro
             |FROM deg d LEFT JOIN pt p USING (id)""".stripMargin)
    ),

    // ---- link prediction over the shared-parts graph ----
    // Common neighbors / Jaccard / Adamic-Adar for non-adjacent
    // pairs; the center-degree cap (100) is part of the operator's
    // semantics and actually bites on this graph (max degree 179).
    // Ratio scores gate as per-term micro-ints; the top-200 ranking
    // is a total order (cn, aa, a, b), so LIMIT is deterministic.
    QueryDef(
      "q_link_prediction",
      "top-200 predicted links (common-neighbor / Jaccard / Adamic-Adar scores)",
      (s, dir) =>
        GraphAnalytics.linkPrediction(sharedPartsEdges(s, dir), maxCenterDegree = 100)
          .orderBy(col("cn").desc, col("aa_micro").desc, col("a"), col("b"))
          .limit(200),
      Some(s"""WITH $sharedPartsCtes,
              |deg AS MATERIALIZED (SELECT u AS id, count(*) AS deg FROM ed GROUP BY u),
              |wedge AS MATERIALIZED (
              |  SELECT x.v AS a, y.v AS b, x.u AS w
              |  FROM ed x JOIN ed y ON x.u = y.u AND x.v < y.v
              |  WHERE x.u IN (SELECT id FROM deg WHERE deg <= 100)),
              |agg AS MATERIALIZED (
              |  SELECT a, b, count(*) AS cn,
              |         CAST(SUM(CAST(round(round(1.0 / ln(dw.deg), 6) * 1000000, 0) AS BIGINT)) AS BIGINT) AS aa_micro
              |  FROM wedge JOIN deg dw ON wedge.w = dw.id GROUP BY a, b),
              |cand AS (SELECT agg.* FROM agg
              |         WHERE NOT EXISTS (SELECT 1 FROM te WHERE te.u = agg.a AND te.v = agg.b))
              |SELECT c.a, c.b, CAST(c.cn AS BIGINT) AS cn, c.aa_micro,
              |       CAST(round(round(c.cn * 1.0 / (da.deg + db.deg - c.cn), 6) * 1000000, 0) AS BIGINT) AS jac_micro
              |FROM cand c JOIN deg da ON c.a = da.id JOIN deg db ON c.b = db.id
              |ORDER BY c.cn DESC, c.aa_micro DESC, c.a, c.b LIMIT 200""".stripMargin)
    ),

    // ---- degree assortativity of the shared-parts graph ----
    // Exact BIGINT moment sums; only the final Pearson formula runs
    // in doubles on identical integers, so the single r_micro value
    // can never drift cross-engine.
    QueryDef(
      "q_graph_assortativity",
      "degree assortativity coefficient (Newman r) of the shared-parts graph",
      (s, dir) => GraphAnalytics.assortativity(sharedPartsEdges(s, dir)),
      Some(s"""WITH $sharedPartsCtes,
              |deg AS (SELECT u AS id, count(*) AS deg FROM ed GROUP BY u),
              |pr AS (SELECT da.deg AS x, db.deg AS y
              |       FROM ed JOIN deg da ON ed.u = da.id JOIN deg db ON ed.v = db.id),
              |s AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
              |             CAST(sum(x*y) AS BIGINT) AS sxy, CAST(sum(x*x) AS BIGINT) AS sxx FROM pr)
              |SELECT n AS n_dir_edges,
              |       CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0
              |            THEN CAST(0 AS BIGINT)
              |            ELSE CAST(round(round(
              |              (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
              |              (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) * 1000000, 0) AS BIGINT)
              |       END AS r_micro
              |FROM s""".stripMargin)
    ),

    // ---- weighted single-source shortest paths ----
    // Bellman-Ford over inverse-tie-strength costs, source = the
    // smallest vertex id (derived from the data so the gate holds at
    // every SF). The oracle unrolls EXACTLY the number of relaxation
    // rounds the Spark loop ran (kCore's deferred pattern).
    QueryDef(
      "q_sssp",
      "weighted single-source shortest paths on the shared-parts graph",
      (s, dir) => {
        val edges = sharedPartsWeighted(s, dir)
        val source = edges.agg(min(least(col("src"), col("dst")))).first().getLong(0)
        val (dist, rounds) = GraphAnalytics.shortestPaths(edges, source)
        State.ssspSource = Some(source)
        State.ssspRounds = Some(rounds)
        dist
      },
      Oracle.deferred {
        val source = State.ssspSource.getOrElse(throw new IllegalStateException(
          "SSSP source not recorded — run q_sssp before rendering its oracle"))
        val rounds = State.ssspRounds.getOrElse(throw new IllegalStateException(
          "SSSP rounds not recorded — run q_sssp before rendering its oracle"))
        val steps = (1 to rounds).map(relaxRoundSql).mkString(",\n")
        s"""WITH $sharedPartsWeightedCtes,
           |d0 AS MATERIALIZED (SELECT CAST($source AS BIGINT) AS id, CAST(0 AS BIGINT) AS d),
           |$steps
           |SELECT id, CAST(d AS BIGINT) AS dist FROM d$rounds""".stripMargin
      }
    ),

    // ---- maximal independent set (deterministic Luby) ----
    // Priorities are hash32(round, id)·2^32 + id — collision-free, so
    // plain integer min expresses "strict local minimum" in both
    // engines; the oracle unrolls EXACTLY the rounds the Spark loop
    // ran (seeded identically).
    QueryDef(
      "q_graph_mis",
      "maximal independent set of the shared-parts graph (Luby, per-round hash priorities)",
      (s, dir) => {
        val (mis, rounds) = GraphAnalytics.maximalIndependentSet(sharedPartsEdges(s, dir))
        State.misRounds = Some(rounds)
        mis
      },
      Oracle.deferred {
        val rounds = State.misRounds.getOrElse(throw new IllegalStateException(
          "MIS rounds not recorded — run q_graph_mis first"))
        val steps = (1 to rounds).map { i =>
          s"""p$i AS MATERIALIZED (SELECT id,
             |  CAST(('0x' || substr(md5('${i - 1}|' || CAST(id AS VARCHAR)), 1, 8)) AS BIGINT) * 2147483648 + id AS p
             |  FROM a${i - 1}),
             |nm$i AS MATERIALIZED (SELECT e.u AS id, min(p2.p) AS mp
             |  FROM ed e JOIN p$i p2 ON e.v = p2.id JOIN p$i p1 ON e.u = p1.id
             |  GROUP BY e.u),
             |c$i AS MATERIALIZED (SELECT p.id FROM p$i p LEFT JOIN nm$i nm ON p.id = nm.id
             |  WHERE nm.mp IS NULL OR p.p < nm.mp),
             |k$i AS (SELECT id FROM c$i
             |  UNION SELECT e.v AS id FROM ed e JOIN c$i c ON e.u = c.id),
             |a$i AS MATERIALIZED (SELECT id FROM a${i - 1}
             |  WHERE id NOT IN (SELECT id FROM k$i))""".stripMargin
        }.mkString(",\n")
        val finalSel =
          if (rounds == 0) "SELECT id FROM nodes WHERE 1 = 0"
          else (1 to rounds).map(i => s"SELECT id FROM c$i").mkString(" UNION ALL ")
        val stepsBlock = if (rounds == 0) "" else s",\n$steps"
        s"""WITH $sharedPartsCtes,
           |a0 AS MATERIALIZED (SELECT id FROM nodes)$stepsBlock
           |$finalSel""".stripMargin
      }
    ),

    // ---- landmark harmonic centrality ----
    // Batched Bellman-Ford from the 8 smallest vertex ids (one loop,
    // state keyed (src, id) — k landmarks cost k× state, not k
    // traversals; the Potamias CIKM'09 scale path for closeness).
    // Per-landmark reciprocals round to micro-ints BEFORE the sum.
    QueryDef(
      "q_centrality_harmonic",
      "landmark harmonic centrality over the weighted shared-parts graph",
      (s, dir) => {
        val edges = sharedPartsWeighted(s, dir)
        val landmarks = edges
          .select(explode(array(col("src"), col("dst"))).as("id"))
          .distinct().orderBy(col("id")).limit(8)
          .collect().map(_.getLong(0)).toSeq
        val (hc, rounds) = GraphAnalytics.harmonicCentrality(edges, landmarks)
        State.harmonicLandmarks = Some(landmarks)
        State.harmonicRounds = Some(rounds)
        hc
      },
      Oracle.deferred {
        val landmarks = State.harmonicLandmarks.getOrElse(throw new IllegalStateException(
          "harmonic landmarks not recorded — run q_centrality_harmonic first"))
        val rounds = State.harmonicRounds.getOrElse(throw new IllegalStateException(
          "harmonic rounds not recorded — run q_centrality_harmonic first"))
        val init = landmarks.map(l =>
          s"(CAST($l AS BIGINT), CAST($l AS BIGINT), CAST(0 AS BIGINT))").mkString(", ")
        val steps = (1 to rounds).map(relaxRoundMultiSql).mkString(",\n")
        s"""WITH $sharedPartsWeightedCtes,
           |d0 AS MATERIALIZED (SELECT * FROM (VALUES $init) t(src, id, d)),
           |$steps
           |SELECT id, count(*) AS n_reached,
           |       CAST(SUM(CAST(round(round(1.0 / d, 6) * 1000000, 0) AS BIGINT)) AS BIGINT) AS hc_micro
           |FROM d$rounds WHERE d > 0 GROUP BY id""".stripMargin
      }
    ),

    // ---- landmark eccentricities + diameter lower bound ----
    // ecc(l) = max weighted distance from landmark l (iFUB bound:
    // max over landmarks <= true diameter). Shares the batched
    // multi-source loop; landmarks = 8 smallest vertex ids.
    QueryDef(
      "q_graph_eccentricity",
      "per-landmark weighted eccentricity over the shared-parts graph",
      (s, dir) => {
        val edges = sharedPartsWeighted(s, dir)
        val landmarks = edges
          .select(explode(array(col("src"), col("dst"))).as("id"))
          .distinct().orderBy(col("id")).limit(8)
          .collect().map(_.getLong(0)).toSeq
        val (ecc, rounds) = GraphAnalytics.eccentricities(edges, landmarks)
        State.eccLandmarks = Some(landmarks)
        State.eccRounds = Some(rounds)
        ecc
      },
      Oracle.deferred {
        val landmarks = State.eccLandmarks.getOrElse(throw new IllegalStateException(
          "ecc landmarks not recorded — run q_graph_eccentricity first"))
        val rounds = State.eccRounds.getOrElse(throw new IllegalStateException(
          "ecc rounds not recorded — run q_graph_eccentricity first"))
        val init = landmarks.map(l =>
          s"(CAST($l AS BIGINT), CAST($l AS BIGINT), CAST(0 AS BIGINT))").mkString(", ")
        val steps = (1 to rounds).map(relaxRoundMultiSql).mkString(",\n")
        s"""WITH $sharedPartsWeightedCtes,
           |d0 AS MATERIALIZED (SELECT * FROM (VALUES $init) t(src, id, d)),
           |$steps
           |SELECT src, CAST(max(d) AS BIGINT) AS ecc, count(*) AS n_reached
           |FROM d$rounds GROUP BY src""".stripMargin
      }
    ),

    // ---- SGC feature propagation over the shared-parts graph ----
    // Two hops of neighborhood feature sums (self-loop included, the
    // GCN Â convention) over exact integer features (account balance
    // in cents) — the GNN-free node-embedding preprocessing step.
    // Raw BIGINT sums, no normalization: order-free cross-engine.
    QueryDef(
      "q_graph_feature_prop",
      "2-hop SGC feature propagation (integer neighborhood sums, self-loops)",
      (s, dir) => {
        val feats = Tables(s, dir).customer.select(col("c_custkey").as("id"),
          round(col("c_acctbal") * 100, 0).cast("long").as("f"))
        GraphAnalytics.featurePropagation(sharedPartsEdges(s, dir), feats, hops = 2)
      },
      Some(s"""WITH $sharedPartsCtes,
              |al AS MATERIALIZED (SELECT u, v FROM ed
              |       UNION ALL SELECT id AS u, id AS v FROM nodes),
              |f0 AS MATERIALIZED (SELECT n.id,
              |       COALESCE(CAST(round(c.c_acctbal * 100, 0) AS BIGINT), 0) AS f
              |       FROM nodes n LEFT JOIN customer c ON n.id = c.c_custkey),
              |f1 AS MATERIALIZED (SELECT al.u AS id, CAST(sum(p.f) AS BIGINT) AS f
              |       FROM al JOIN f0 p ON al.v = p.id GROUP BY al.u),
              |f2 AS MATERIALIZED (SELECT al.u AS id, CAST(sum(p.f) AS BIGINT) AS f
              |       FROM al JOIN f1 p ON al.v = p.id GROUP BY al.u)
              |SELECT f0.id, f0.f AS f0, f1.f AS f1, f2.f AS f2
              |FROM f0 JOIN f1 ON f0.id = f1.id JOIN f2 ON f0.id = f2.id""".stripMargin)
    ),

    // ---- k-core of the customer co-purchase graph ----
    // Iterative degree peeling to fixpoint (deterministic — no tie
    // breaks). The oracle unrolls EXACTLY the number of peel rounds
    // the run took (deferred render): the last unrolled round is the
    // no-op that proves fixpoint, so an unconverged Spark answer
    // cannot match. k=500 actually peels at sf0.01 (four rounds,
    // ~10% of customers cut); at sf0.001 the whole graph dissolves —
    // the empty core must agree too.
    QueryDef(
      "q_kcore",
      "500-core of the customer co-purchase graph: surviving customers + core degree",
      (s, dir) => withCustomerParts(s, dir) { cp =>
        // SPARK_GRAFT_KCORE_MIN_SHARED (default 1 = every co-purchase
        // pair, the gate's shape) bounds the GRAPH BUILD, not the peel:
        // the self-join's pair volume is Σd(p)² and exceeds this VM's
        // spill disk at the 100x probe scale. The threshold is the
        // same shared-parts knob q_label_prop's fixture applies; the
        // oracle below mirrors whatever value is set, so the gate
        // stays verifiable under the fixture too.
        val minShared = sys.env.getOrElse("SPARK_GRAFT_KCORE_MIN_SHARED", "1").toInt
        val pairs = cp.as("a")
          .join(cp.as("b"), col("a.p") === col("b.p") && col("a.c") < col("b.c"))
        val edges =
          // no .distinct() here (r16 optimization): kCore canonicalizes
          // its input with its own distinct — the query-side one was a
          // second full exchange + aggregation of the engine's largest
          // derived frame for an already-deduplicated stream
          if (minShared <= 1)
            pairs.select(col("a.c").as("src"), col("b.c").as("dst"))
          else pairs.groupBy(col("a.c"), col("b.c"))
            .agg(count(lit(1)).as("shared")).filter(col("shared") >= minShared)
            .select(col("a.c").as("src"), col("b.c").as("dst"))
        // kCore materializes its own edge checkpoint from the pairs
        val (core, rounds) = GraphAnalytics.kCore(edges, k = 500)
        State.kcoreRounds = Some(rounds)
        core.select(col("id"), col("degree"))
      },
      Oracle.deferred {
        val rounds = State.kcoreRounds.getOrElse(throw new IllegalStateException(
          "k-core rounds not recorded — run q_kcore before rendering its oracle"))
        val minShared = sys.env.getOrElse("SPARK_GRAFT_KCORE_MIN_SHARED", "1").toInt
        val baseCtes = if (minShared <= 1) coPurchaseCtes else
          s"""cp AS MATERIALIZED (SELECT DISTINCT o_custkey AS c, l_partkey AS p
             |       FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
             |e0 AS MATERIALIZED (SELECT a.c AS u, b.c AS v FROM cp a JOIN cp b
             |       ON a.p = b.p AND a.c < b.c GROUP BY a.c, b.c
             |       HAVING count(*) >= $minShared)""".stripMargin
        val peels = (0 until rounds).map(i => peelRoundSql(i, 500))
        val ctes = (baseCtes +: peels).mkString(",\n")
        s"""WITH $ctes
           |SELECT id, count(*) AS degree
           |FROM (SELECT u AS id FROM e$rounds UNION ALL SELECT v AS id FROM e$rounds)
           |GROUP BY id""".stripMargin
      }
    ),

    // ---- deterministic label propagation (community detection) ----
    // Graph: customers sharing >= 4 distinct parts (the raw
    // co-purchase graph is near-complete and collapses to one label
    // in two rounds; the threshold leaves real cluster structure —
    // 23 communities after 3 rounds at sf0.01). The oracle unrolls
    // exactly the 3 synchronous rounds with the same min-label
    // tie-break; MATERIALIZED for the usual 3^rounds reason.
    QueryDef(
      "q_label_prop",
      "3-round synchronous LPA over the >=4-shared-parts co-purchase graph",
      (s, dir) =>
        GraphAnalytics.labelPropagation(sharedPartsEdges(s, dir), rounds = 3)
          .select(col("id"), col("lab")),
      Some {
        val rounds = (1 to 3).map { r =>
          s"""lp$r AS MATERIALIZED (
             |  SELECT l.id, COALESCE(w.nl, l.lab) AS lab
             |  FROM lp${r - 1} l LEFT JOIN (
             |    SELECT a AS id, lab AS nl FROM (
             |      SELECT ed.u AS a, nb.lab, count(*) AS c,
             |             row_number() OVER (PARTITION BY ed.u ORDER BY count(*) DESC, nb.lab) AS rn
             |      FROM ed JOIN lp${r - 1} nb ON nb.id = ed.v
             |      GROUP BY ed.u, nb.lab) x WHERE rn = 1) w ON w.id = l.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH $sharedPartsCtes,
           |lp0 AS MATERIALIZED (SELECT id, id AS lab FROM nodes),
           |$rounds
           |SELECT id, lab FROM lp3""".stripMargin
      }
    ),

    // ---- personalized PageRank, exact integer fixed-point ----
    // Same thresholded co-purchase graph, seed = its smallest
    // customer; 3 rounds of micro-unit floor-division power
    // iteration. Integer terms make the per-node sums order-free, so
    // the gate is hash-exact where a floating PPR never could be.
    QueryDef(
      "q_pagerank_personalized",
      "3-round integer-exact personalized PageRank from the min-id seed",
      (s, dir) => {
        val edges = sharedPartsEdges(s, dir)
        val seed = edges.agg(least(min(col("src")), min(col("dst")))).head().getLong(0)
        GraphAnalytics.personalizedPageRank(edges, seed, rounds = 3)
      },
      Some {
        val d = 850
        val rounds = (1 to 3).map { t =>
          s"""pr$t AS MATERIALIZED (
             |  SELECT n.id, (CASE WHEN n.id = (SELECT s FROM sd) THEN ${(1000 - d) * 1000} ELSE 0 END)
             |               + COALESCE(c.m, 0) AS ppr
             |  FROM nodes n LEFT JOIN (
             |    SELECT ed.v AS id, CAST(sum((p.ppr * $d) // (1000 * dg.deg)) AS BIGINT) AS m
             |    FROM ed JOIN pr${t - 1} p ON p.id = ed.u JOIN dg ON dg.id = ed.u
             |    WHERE p.ppr > 0
             |    GROUP BY ed.v) c ON c.id = n.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH $sharedPartsCtes,
           |sd AS (SELECT min(id) AS s FROM nodes),
           |dg AS MATERIALIZED (SELECT u AS id, count(*) AS deg FROM ed GROUP BY u),
           |pr0 AS MATERIALIZED (SELECT id,
           |       CASE WHEN id = (SELECT s FROM sd) THEN 1000000 ELSE 0 END AS ppr FROM nodes),
           |$rounds
           |SELECT id, CAST(ppr AS BIGINT) AS ppr_micro FROM pr3 WHERE ppr > 0""".stripMargin
      }
    ),

    // ---- WEIGHTED personalized PageRank ----
    // Transition mass proportional to edge weight (strength replaces
    // degree): floor(ppr·d·w / (1000·W(u))). Same integer-exact
    // discipline, over the inverse-tie-strength weighted graph.
    QueryDef(
      "q_pagerank_weighted",
      "3-round integer-exact WEIGHTED personalized PageRank from the min-id seed",
      (s, dir) => {
        val edges = sharedPartsWeighted(s, dir)
        val seed = edges.agg(least(min(col("src")), min(col("dst")))).head().getLong(0)
        GraphAnalytics.personalizedPageRankWeighted(edges, seed, rounds = 3)
      },
      Some {
        val d = 850
        val rounds = (1 to 3).map { t =>
          s"""pr$t AS MATERIALIZED (
             |  SELECT n.id, (CASE WHEN n.id = (SELECT s FROM sd) THEN ${(1000 - d) * 1000} ELSE 0 END)
             |               + COALESCE(c.m, 0) AS ppr
             |  FROM wnodes n LEFT JOIN (
             |    SELECT e.v AS id, CAST(sum((p.ppr * $d * e.w) // (1000 * st.ws)) AS BIGINT) AS m
             |    FROM edw e JOIN pr${t - 1} p ON p.id = e.u JOIN st ON st.id = e.u
             |    WHERE p.ppr > 0
             |    GROUP BY e.v) c ON c.id = n.id)""".stripMargin
        }.mkString(",\n")
        s"""WITH $sharedPartsWeightedCtes,
           |wnodes AS MATERIALIZED (SELECT DISTINCT u AS id FROM edw),
           |sd AS (SELECT min(id) AS s FROM wnodes),
           |st AS MATERIALIZED (SELECT u AS id, CAST(sum(w) AS BIGINT) AS ws FROM edw GROUP BY u),
           |pr0 AS MATERIALIZED (SELECT id,
           |       CASE WHEN id = (SELECT s FROM sd) THEN 1000000 ELSE 0 END AS ppr FROM wnodes),
           |$rounds
           |SELECT id, CAST(ppr AS BIGINT) AS ppr_micro FROM pr3 WHERE ppr > 0""".stripMargin
      }
    ),

    // ---- deterministic walk corpus (DeepWalk sentences) ----
    // One 4-step walk per node; each hop argmins a seeded md5 hash
    // over the neighbors, so both engines reproduce the identical
    // "random" corpus — 7125 rows hash-exact at sf0.01.
    QueryDef(
      "q_graph_walks",
      "deterministic 4-step DeepWalk corpus over the shared-parts graph",
      (s, dir) =>
        GraphAnalytics.deterministicWalks(sharedPartsEdges(s, dir), walkLen = 4),
      Some {
        val steps = (1 to 4).map(walkStepSql).mkString(",\n")
        val union = "SELECT id AS start, CAST(0 AS BIGINT) AS step, id AS node FROM nodes" +
          (1 to 4).map(t => s" UNION ALL SELECT start, CAST($t AS BIGINT), cur FROM s$t").mkString
        s"""WITH $sharedPartsCtes,
           |s0 AS (SELECT id AS start, id AS cur FROM nodes),
           |$steps
           |$union""".stripMargin
      }
    ),

    // ---- skip-gram pairs over the walk corpus ----
    // The word2vec input: (center, context) within window 2 of each
    // walk. Composition gate — the oracle re-derives the walks (same
    // CTEs) and self-joins, so the pair set is exact end-to-end.
    QueryDef(
      "q_graph_walk_pairs",
      "skip-gram (center, context) pairs, window 2, over the walk corpus",
      (s, dir) =>
        GraphAnalytics.skipGramPairs(
          GraphAnalytics.deterministicWalks(sharedPartsEdges(s, dir), walkLen = 4),
          window = 2),
      Some {
        val steps = (1 to 4).map(walkStepSql).mkString(",\n")
        val union = "SELECT id AS start, CAST(0 AS BIGINT) AS step, id AS node FROM nodes" +
          (1 to 4).map(t => s" UNION ALL SELECT start, CAST($t AS BIGINT), cur FROM s$t").mkString
        s"""WITH $sharedPartsCtes,
           |s0 AS (SELECT id AS start, id AS cur FROM nodes),
           |$steps,
           |wk AS MATERIALIZED ($union)
           |SELECT a.start, a.step, a.node AS center, b.node AS context
           |FROM wk a JOIN wk b ON a.start = b.start
           |WHERE b.step <> a.step AND abs(b.step - a.step) <= 2""".stripMargin
      }
    ),

    // ---- deterministic spectral embedding of the walk corpus ----
    // PPMI (micro-int) over the skip-gram pairs, eigendecomposed with
    // canonical signs; the gate output is the distributed integer
    // mat-vec `PPMI · V` (= eigenvalue-weighted spectral embedding).
    // The oracle re-derives walks, pairs, and PPMI from scratch and
    // multiplies by the TRAINED eigenvectors as literals (deferred
    // render, the PCA/IVF contract) — so the whole distributed
    // pipeline is checked end-to-end, not just replayed.
    QueryDef(
      "q_graph_embed",
      "4-dim deterministic PPMI-spectral embedding over the walk corpus",
      (s, dir) => {
        val pairs = GraphAnalytics.skipGramPairs(
          GraphAnalytics.deterministicWalks(sharedPartsEdges(s, dir), walkLen = 4),
          window = 2)
        val ppmi = graft.analytics.GraphEmbed.ppmiMicro(pairs).localCheckpoint()
        val model = graft.analytics.GraphEmbed.train(ppmi, dim = 4)
        State.embedModel = Some(model)
        graft.analytics.GraphEmbed.embeddings(ppmi, model)
      },
      Oracle.deferred {
        val model = State.embedModel.getOrElse(throw new IllegalStateException(
          "embed model not recorded — run q_graph_embed before rendering its oracle"))
        val vt = model.contexts.indices.map { i =>
          s"(${model.contexts(i)}, [${model.vMicro(i).mkString(", ")}])"
        }.mkString(",\n    ")
        val steps = (1 to 4).map(walkStepSql).mkString(",\n")
        val union = "SELECT id AS start, CAST(0 AS BIGINT) AS step, id AS node FROM nodes" +
          (1 to 4).map(t => s" UNION ALL SELECT start, CAST($t AS BIGINT), cur FROM s$t").mkString
        s"""WITH $sharedPartsCtes,
           |s0 AS (SELECT id AS start, id AS cur FROM nodes),
           |$steps,
           |wk AS MATERIALIZED ($union),
           |pr AS MATERIALIZED (
           |  SELECT a.start, a.step, a.node AS center, b.node AS context
           |  FROM wk a JOIN wk b ON a.start = b.start
           |  WHERE b.step <> a.step AND abs(b.step - a.step) <= 2),
           |tot AS (SELECT count(*) AS n FROM pr),
           |cc AS (SELECT center, context, count(*) AS n_cc FROM pr GROUP BY 1, 2),
           |nc AS (SELECT center, count(*) AS n_c FROM pr GROUP BY 1),
           |nx AS (SELECT context, count(*) AS n_ctx FROM pr GROUP BY 1),
           |pp AS (SELECT center, context,
           |         CAST(round(greatest(round(ln((n_cc * tot.n)::DOUBLE / (n_c * n_ctx)::DOUBLE), 6), 0) * 1000000, 0) AS BIGINT) AS m
           |       FROM cc JOIN nc USING (center) JOIN nx USING (context) CROSS JOIN tot),
           |ppf AS (SELECT * FROM pp WHERE m > 0),
           |vt(context, vs) AS (VALUES
           |    $vt),
           |vd AS (SELECT context, CAST(u.i AS BIGINT) AS dim, vs[CAST(u.i AS INT)] AS v
           |       FROM vt, LATERAL unnest(generate_series(1, len(vs))) AS u(i))
           |SELECT p.center AS id, vd.dim, CAST(sum(p.m * vd.v) AS BIGINT) AS emb_micro
           |FROM ppf p JOIN vd USING (context)
           |GROUP BY 1, 2""".stripMargin
      }
    ),

    // ---- HyperANF neighborhood function (Boldi-Rosa-Vigna '11) ----
    // Per-vertex HLL registers of the t-hop ball over the shared-
    // parts graph, 3 rounds, b=4: register states are md5-exact, so
    // the per-vertex ball estimates (two-regime, micro-rounded
    // before any sum) gate hash-exact. The scale story IS the
    // operator: V·16 register rows replace V BFS frontiers, and the
    // sum over vertices of ball_est(t) is the neighborhood function
    // N(t) whose saturation point estimates the effective diameter.
    QueryDef(
      "q_graph_anf",
      "HyperANF: per-vertex 0..3-hop ball estimates, b=4 registers",
      (s, dir) => GraphAnalytics.hyperANF(sharedPartsEdges(s, dir), rounds = 3),
      Some {
        val rounds = (1 to 3).map(anfRoundSql).mkString(",\n")
        val ests = (0 to 3).map(anfEstSql).mkString(",\n")
        val union = (0 to 3).map(t => s"SELECT * FROM anfe$t").mkString(" UNION ALL ")
        s"""WITH $sharedPartsCtes,
           |anfr0 AS MATERIALIZED (SELECT id, h // 268435456 AS bucket,
           |  CAST(29 - length(ltrim(bin(h % 268435456),'0')) AS BIGINT) AS max_rank
           |  FROM (SELECT id, CAST(('0x'||substr(md5('0|'||CAST(id AS VARCHAR)),1,8)) AS BIGINT) AS h
           |        FROM nodes)),
           |$rounds,
           |$ests
           |$union""".stripMargin
      }
    ),

    // ---- HITS hubs & authorities (Kleinberg '99) ----
    // Directed customer -> supplier graph (a lineitem links the
    // buyer to the supplying vendor): hubs are broad buyers,
    // authorities widely-bought suppliers. Micro-int scores with an
    // exact (raw·1e6) DIV total renormalization every round, so the
    // 2-round power pair unrolls verbatim in SQL — no float
    // fixpoint, no cross-engine drift, floor leak deterministic.
    QueryDef(
      "q_graph_hits",
      "2-round integer-exact HITS over the customer->supplier graph",
      (s, dir) => {
        val t = Tables(s, dir)
        // deliberately NOT spread (r16, measured): hits is the
        // fixed-latency line — its edge build feeds a distinct +
        // checkpoint whose cost is stage latency, not scan CPU, and
        // the extra exchange measured ~1 s SLOWER end to end
        val edges = t.orders
          .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey").as("src"), col("l_suppkey").as("dst"))
        GraphAnalytics.hits(edges, rounds = 2)
      },
      Some {
        val rounds = (1 to 2).map(hitsRoundSql).mkString(",\n")
        s"""WITH e AS MATERIALIZED (SELECT DISTINCT o_custkey AS src, l_suppkey AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |hnodes AS MATERIALIZED (SELECT DISTINCT id FROM
           |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
           |h0 AS (SELECT id, CAST(1000000 AS BIGINT) AS h FROM hnodes),
           |$rounds
           |SELECT hnodes.id, coalesce(h2.h, 0) AS hub_micro,
           |       coalesce(a2.a, 0) AS auth_micro
           |FROM hnodes LEFT JOIN h2 USING (id) LEFT JOIN a2 USING (id)""".stripMargin
      }
    )
  )

  /** One HyperANF round as SQL: bucketwise max of own + neighbor
    * registers.
    */
  private def anfRoundSql(t: Int): String =
    s"""anfr$t AS MATERIALIZED (SELECT id, bucket, max(max_rank) AS max_rank FROM (
       |    SELECT id, bucket, max_rank FROM anfr${t - 1}
       |    UNION ALL SELECT e.v AS id, r.bucket, r.max_rank
       |    FROM ed e JOIN anfr${t - 1} r ON r.id = e.u
       |  ) GROUP BY id, bucket)""".stripMargin

  /** Per-vertex two-regime HLL estimate of round `t`'s registers,
    * micro-rounded (mirrors hyperANF's est() step-for-step).
    */
  private def anfEstSql(t: Int): String =
    s"""anfe$t AS (SELECT id, CAST($t AS BIGINT) AS t,
       |   CAST(round(round(CASE
       |     WHEN 0.7213/(1.0+1.079/16)*16*16/(z + (16 - nz)) <= 40.0 AND nz < 16
       |     THEN 16.0 * ln(16.0 / (16 - nz))
       |     ELSE 0.7213/(1.0+1.079/16)*16*16/(z + (16 - nz)) END, 6)*1000000, 0) AS BIGINT)
       |     AS ball_est_micro
       |   FROM (SELECT id, sum(power(CAST(2.0 AS DOUBLE), -max_rank)) AS z, count(*) AS nz
       |         FROM anfr$t GROUP BY id))""".stripMargin

  /** One HITS round as SQL: authorities from `h{t-1}`, hubs from the
    * new `a{t}`, each side renormalized `(raw*1e6) // tot`.
    */
  private def hitsRoundSql(t: Int): String =
    s"""ar$t AS MATERIALIZED (SELECT e.dst AS id, CAST(sum(h) AS BIGINT) AS raw
       |  FROM e JOIN h${t - 1} ON e.src = h${t - 1}.id GROUP BY e.dst),
       |at$t AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM ar$t),
       |a$t AS MATERIALIZED (SELECT id, (raw * 1000000) // tot AS a FROM ar$t, at$t),
       |hr$t AS MATERIALIZED (SELECT e.src AS id, CAST(sum(a) AS BIGINT) AS raw
       |  FROM e JOIN a$t ON e.dst = a$t.id GROUP BY e.src),
       |ht$t AS (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM hr$t),
       |h$t AS MATERIALIZED (SELECT id, (raw * 1000000) // tot AS h FROM hr$t, ht$t)""".stripMargin

  /** One deterministic-walk hop as SQL: `s{t-1}` → `c{t}`/`s{t}`. */
  private def walkStepSql(t: Int): String =
    s"""c$t AS MATERIALIZED (SELECT start, v FROM (
       |   SELECT s.start, e.v,
       |          row_number() OVER (PARTITION BY s.start ORDER BY
       |            CAST(('0x' || substr(md5('$t|' || s.start || '|' || s.cur || '|' || e.v), 1, 8)) AS BIGINT), e.v) AS rn
       |   FROM s${t - 1} s JOIN ed e ON e.u = s.cur) WHERE rn = 1),
       |s$t AS (SELECT start, v AS cur FROM c$t)""".stripMargin
}
