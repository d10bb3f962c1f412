package graft.queries

import org.apache.spark.sql.functions._

import graft.core.TpchGraph
import graft.model.PropertyValue.PVText
import graft.model.PropValues
import graft.operators.{QueryStep, Traversal}
import graft.operators.QueryStep.{RelationStep, IN, OUT, BOTH}
import graft.operators.Traversal._

/** Graph operators (queryStep + Traversal DSL) exercised over the
  * deterministic [[TpchGraph]] view, each with a DuckDB SQL oracle
  * derived from the same arithmetic (SURVEY §2.3).
  */
object GraphQueries extends QueryModule {

  import TpchGraph._

  /** Deterministic COW rewrite used by the mutation gate queries:
    * part names 'red X' become 'crimson X' ('crimson' never occurs as
    * a natural first word in the corpus, so the rename is
    * collision-free and exactly SQL-replicable as
    * `'crimson ' || substr(p_name, 5)`).
    */
  private[queries] def renameRedParts(props: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform_values(props, (k, vs) =>
      when(k === "name", transform(vs, v => {
        val t = v.getField("vText")
        struct(
          v.getField("vType").as("vType"),
          when(t.startsWith("red "),
            concat(lit("crimson "), t.substr(lit(5), length(t)))).otherwise(t).as("vText"),
          v.getField("vInt").as("vInt"),
          v.getField("vBin").as("vBin"),
          v.getField("vJson").as("vJson"))
      })).otherwise(vs))

  /** Edge-side COW rewrite used by the edge-mutation gate query:
    * 'returnflag' values 'R' become 'RET' ('RET' never occurs as a
    * natural returnflag, so the retag is collision-free and exactly
    * SQL-replicable as a CASE over l_returnflag).
    */
  private[queries] def retagReturnflag(props: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform_values(props, (k, vs) =>
      when(k === "returnflag", transform(vs, v => {
        val t = v.getField("vText")
        struct(
          v.getField("vType").as("vType"),
          when(t === "R", lit("RET")).otherwise(t).as("vText"),
          v.getField("vInt").as("vInt"),
          v.getField("vBin").as("vBin"),
          v.getField("vJson").as("vJson"))
      })).otherwise(vs))

  /** Predicate: node has a 'name' value starting with 'red '. */
  private[queries] def hasRedName: org.apache.spark.sql.Column =
    exists(coalesce(col("props").getItem("name"), array()),
      v => v.getField("vText").startsWith("red "))

  /** Publish the sf-dir graph once per session as EXTERNAL bucketed
    * tables (nodes by id, edges by src, dst mirror) and reopen through
    * the catalog — the cluster-scale layout SCALE.md designs, under
    * the same oracle gate as the in-memory snapshot. Memoized per
    * (SparkContext, dir): the publish is ingest cost (benched
    * separately as `ingest`); the gate/bench queries measure the
    * query-side payoff — the expansion join plans with zero Exchange
    * because both sides arrive pre-hashed on the join key.
    * Bucket count is sized for test SFs; at 100 TB it scales with the
    * data (thousands), chosen once at publish time.
    */
  private def bucketedName(s: org.apache.spark.sql.SparkSession, dir: String): String =
    SessionPublish.once(s, "bsnap|" + dir) {
      val base = "graft_bsnap_" + SessionPublish.token(dir)
      // Sized by bytes-per-bucket at publish time
      // (GraphSnapshot.autoBuckets). A/B at 100x SF (ROUND6.md): with
      // writer files aligned one-per-bucket, more buckets now pay as
      // the data grows (16: 1.59s, 32: 1.36s, 64: 1.37s on the
      // bucketed step query) — but at test SFs the 16-bucket floor
      // wins, so size by data volume, never by core count.
      val snap = TpchGraph.snapshot(s, dir)
      snap.writeBucketed(base, snap.autoBuckets(),
        mirrorByDst = true, path = Some(SessionPublish.tempDir("graft-bucketed")))
      base
    }

  private[queries] def bucketedSnapshot(
      s: org.apache.spark.sql.SparkSession, dir: String): graft.core.GraphSnapshot =
    graft.core.GraphSnapshot.openBucketed(s, bucketedName(s, dir))

  private[queries] def bucketedDstMirror(
      s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    s.table(s"${bucketedName(s, dir)}_edges_dst")

  // step-query oracles, shared verbatim by the plain and bucketed
  // variants — same semantics, different storage layout
  private def stepOutLimitOracle: String =
    s"""SELECT o_custkey + $CUST AS src_id,
       |       o_orderkey + $E_PLACED AS rel_id,
       |       o_orderkey + $ORDER AS tgt_id
       |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey DESC) AS rn
       |      FROM orders) WHERE rn <= 2""".stripMargin

  private def stepBothOracle: String =
    s"""SELECT l_orderkey + $ORDER AS src_id, 'OUT' AS direction, count(*) AS n
       |FROM lineitem GROUP BY l_orderkey
       |UNION ALL
       |SELECT o_orderkey + $ORDER AS src_id, 'IN' AS direction, 1 AS n
       |FROM orders""".stripMargin

  override def queries: Seq[QueryDef] = Seq(
    // ---- graph-level COW property update (updateObject analog) ----
    QueryDef(
      "q_graph_update_props",
      "updateNodeProps: COW rename of red parts; live first-word histogram",
      (s, dir) => {
        val g  = TpchGraph.snapshot(s, dir)
        val g2 = g.updateNodeProps(col("label") === "part" && hasRedName, 1L, renameRedParts)
        g2.live.nodes.filter(col("label") === "part")
          .select(explode(col("props").getItem("name")).as("v"))
          .select(split(col("v.vText"), " ").getItem(0).as("first_word"))
          .groupBy(col("first_word")).agg(count(lit(1)).as("n"))
      },
      Some("""SELECT CASE WHEN p_name LIKE 'red %' THEN 'crimson'
             |            ELSE split_part(p_name, ' ', 1) END AS first_word,
             |       count(*) AS n
             |FROM part GROUP BY 1""".stripMargin)
    ),

    // ---- graph-level COW property update on EDGES ----
    // (edgeProperties, STMGraph API.hs:181-190 — relation-side mirror
    // of the node mutation above): returned 'contains' edges get
    // their returnflag retagged 'R' -> 'RET'; live histogram after.
    QueryDef(
      "q_graph_update_edge_props",
      "updateEdgeProps: COW retag of returned lineitem edges; live returnflag histogram",
      (s, dir) => {
        val g = TpchGraph.snapshot(s, dir)
        val hasR = PropValues.hasValue(col("props"), "returnflag", PVText("R"))
        val g2 = g.updateEdgeProps(col("label") === "contains" && hasR, 1L, retagReturnflag)
        g2.live.edges.filter(col("label") === "contains")
          .select(explode(col("props").getItem("returnflag")).as("v"))
          .select(col("v.vText").as("flag"))
          .groupBy(col("flag")).agg(count(lit(1)).as("n"))
      },
      Some("""SELECT CASE WHEN l_returnflag = 'R' THEN 'RET' ELSE l_returnflag END AS flag,
             |       count(*) AS n
             |FROM lineitem GROUP BY 1""".stripMargin)
    ),

    // ---- graph-level cascading delete (deleteObject analog) ----
    // Deleting the AUTOMOBILE customers closes their versions AND
    // every live incident edge (placed, customer-side in_nation);
    // edges not touching a victim are untouched.
    QueryDef(
      "q_graph_delete_cascade",
      "deleteNodes cascade: live edge counts by label after deleting a customer segment",
      (s, dir) => {
        val g    = TpchGraph.snapshot(s, dir)
        val auto = PropValues.hasValue(col("props"), "mktsegment", PVText("AUTOMOBILE"))
        val g2   = g.deleteNodes(col("label") === "customer" && auto, 1L)
        g2.live.edges.groupBy(col("label")).agg(count(lit(1)).as("n"))
      },
      Some("""SELECT 'placed' AS label, count(*) AS n
             |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |  WHERE c.c_mktsegment <> 'AUTOMOBILE'
             |UNION ALL SELECT 'in_nation',
             |  (SELECT count(*) FROM customer WHERE c_mktsegment <> 'AUTOMOBILE')
             |  + (SELECT count(*) FROM supplier)
             |UNION ALL SELECT 'contains', count(*) FROM lineitem
             |UNION ALL SELECT 'supplies', count(*) FROM lineitem
             |UNION ALL SELECT 'in_region', count(*) FROM nation""".stripMargin)
    ),

    // ---- publish → reopen round-trip through real parquet ----
    // The checkpoint/open lifecycle (§2.1) under the oracle gate, not
    // just specs: write the label-partitioned snapshot to a temp dir,
    // reopen with the pinned schemas, count live entities — must
    // equal counts computed straight from the source tables.
    QueryDef(
      "q_snapshot_roundtrip",
      "write + open snapshot round-trip: live entity counts by label",
      (s, dir) => {
        val out = java.nio.file.Files.createTempDirectory("graft-gate-snap").toString
        TpchGraph.snapshot(s, dir).write(out)
        val re = graft.core.GraphSnapshot.open(s, out)
        re.live.nodes.groupBy(col("label")).agg(count(lit(1)).as("n"))
          .select(concat(lit("node:"), col("label")).as("entity"), col("n"))
          .unionAll(
            re.live.edges.groupBy(col("label")).agg(count(lit(1)).as("n"))
              .select(concat(lit("edge:"), col("label")).as("entity"), col("n")))
      },
      Some("""SELECT 'node:customer' AS entity, count(*) AS n FROM customer
             |UNION ALL SELECT 'node:nation', count(*) FROM nation
             |UNION ALL SELECT 'node:supplier', count(*) FROM supplier
             |UNION ALL SELECT 'node:order', count(*) FROM orders
             |UNION ALL SELECT 'node:part', count(*) FROM part
             |UNION ALL SELECT 'node:region', count(*) FROM region
             |UNION ALL SELECT 'edge:placed', count(*) FROM orders
             |UNION ALL SELECT 'edge:in_nation', (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
             |UNION ALL SELECT 'edge:contains', count(*) FROM lineitem
             |UNION ALL SELECT 'edge:supplies', count(*) FROM lineitem
             |UNION ALL SELECT 'edge:in_region', count(*) FROM nation""".stripMargin)
    ),

    // ---- motif chain: (customer)-[placed]->(order)-[contains]->(part) ----
    // Every lineitem row realizes exactly one such path; the pattern
    // compiles to two label-filtered edge scans + one join.
    QueryDef(
      "q_motif_chain",
      "2-hop chain pattern summary: paths, distinct endpoints",
      (s, dir) => {
        val g = TpchGraph.snapshot(s, dir)
        graft.operators.Motif.paths(g, Seq(
          graft.operators.Motif.Hop(relLabel = Some("placed"),
            srcLabel = Some("customer"), dstLabel = Some("order")),
          graft.operators.Motif.Hop(relLabel = Some("contains"),
            srcLabel = Some("order"), dstLabel = Some("part"))))
          .agg(count(lit(1)).as("n_paths"),
            countDistinct(col("n0")).as("n_customers"),
            countDistinct(col("n2")).as("n_parts"))
      },
      Some("""SELECT count(*) AS n_paths,
             |  count(DISTINCT o.o_custkey) AS n_customers,
             |  count(DISTINCT l.l_partkey) AS n_parts
             |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey""".stripMargin)
    ),

    // ---- queryStep OUT with per-source newest-first limit ----
    // The reference's rsLimit semantics: newest edge (highest id)
    // wins per source (QueryTest.hs:49-50).
    QueryDef(
      "q_step_out_limit",
      "1-hop OUT expansion, per-source limit 2, newest first",
      (s, dir) => {
        val g = TpchGraph.snapshot(s, dir)
        QueryStep(g, g.nodes.filter(col("label") === "customer"),
          RelationStep(relTypes = Seq("placed"), direction = OUT, limit = Some(2)))
          .select(col("src_id"), col("rel_id"), col("tgt_id"))
      },
      Some(stepOutLimitOracle)
    ),

    // ---- the same OUT expansion over the PUBLISHED BUCKETED layout ----
    // (SCALE.md's headline claim under the gate: nodes bucketed by id,
    // edges by src ⇒ the expansion join is a shuffle-free sort-merge
    // join over pre-hashed buckets; semantics must be identical to
    // q_step_out_limit, per HGraphStorage Query.hs:42-82.)
    QueryDef(
      "q_step_out_limit_bucketed",
      "1-hop OUT expansion over the published bucketed snapshot (zero-shuffle join)",
      (s, dir) => {
        val g = bucketedSnapshot(s, dir)
        QueryStep(g, g.nodes.filter(col("label") === "customer"),
          RelationStep(relTypes = Seq("placed"), direction = OUT, limit = Some(2)))
          .select(col("src_id"), col("rel_id"), col("tgt_id"))
      },
      Some(stepOutLimitOracle)
    ),

    // ---- queryStep IN with target-type filter on the edge scan ----
    QueryDef(
      "q_step_in",
      "1-hop IN expansion into nation nodes, filtered on edge labels only",
      (s, dir) => {
        val g = TpchGraph.snapshot(s, dir)
        QueryStep(g, g.nodes.filter(col("label") === "nation"),
          RelationStep(relTypes = Seq("in_nation"), direction = IN,
            tgtTypes = Seq("customer", "supplier")))
          .groupBy(col("src_id"), col("tgt_label"))
          .agg(count(lit(1)).as("n"))
      },
      Some(s"""SELECT c_nationkey + $NATION AS src_id, 'customer' AS tgt_label, count(*) AS n
              |FROM customer GROUP BY c_nationkey
              |UNION ALL
              |SELECT s_nationkey + $NATION AS src_id, 'supplier' AS tgt_label, count(*) AS n
              |FROM supplier GROUP BY s_nationkey""".stripMargin)
    ),

    // ---- queryStep BOTH: concatenation, duplicates preserved ----
    QueryDef(
      "q_step_both",
      "BOTH = OUT ++ IN concatenated per order node",
      (s, dir) => {
        val g = TpchGraph.snapshot(s, dir)
        QueryStep(g, g.nodes.filter(col("label") === "order"), RelationStep(direction = BOTH))
          .groupBy(col("src_id"), col("direction"))
          .agg(count(lit(1)).as("n"))
      },
      Some(stepBothOracle)
    ),

    // ---- BOTH-direction expansion over the bucketed layout + dst mirror ----
    // the IN half expands from the dst-bucketed edge copy, so both
    // halves' expansion joins are shuffle-free (the adjacency
    // duplication trade: storage, not shuffle)
    QueryDef(
      "q_step_both_bucketed",
      "BOTH expansion over bucketed snapshot; IN half from the dst mirror",
      (s, dir) => {
        val g = bucketedSnapshot(s, dir)
        QueryStep(g, g.nodes.filter(col("label") === "order"),
          RelationStep(direction = BOTH), edgesByDst = Some(bucketedDstMirror(s, dir)))
          .groupBy(col("src_id"), col("direction"))
          .agg(count(lit(1)).as("n"))
      },
      Some(stepBothOracle)
    ),

    // ---- traversal: Ns >> Has >> OutE >> Values ----
    QueryDef(
      "q_trav_has_oute",
      "traversal: customers in BUILDING segment -> placed edges, status prop",
      (s, dir) => {
        val g = TpchGraph.snapshot(s, dir)
        val t = Composed(Seq(Ns, Has("mktsegment", PVText("BUILDING")), OutE(Seq("placed")),
          Values(Seq("status"))))
        Traversal.run(g, t).df.select(col("id"), col("name"), col("vText"))
      },
      Some(s"""SELECT o.o_orderkey + $E_PLACED AS id, 'status' AS name, o.o_orderstatus AS vText
              |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
              |WHERE c.c_mktsegment = 'BUILDING'""".stripMargin)
    ),

    // ---- traversal: Out with wildcard vs named types ----
    QueryDef(
      "q_trav_out_wildcard",
      "traversal: one customer's OUT neighbors over all edge types ('*')",
      (s, dir) => {
        val g = TpchGraph.snapshot(s, dir)
        val t = Composed(Seq(Ns, NID(Seq(CUST + 1L)), Out(Seq("*"))))
        Traversal.run(g, t).df.select(col("id"), col("label"))
      },
      Some(s"""SELECT o_orderkey + $ORDER AS id, 'order' AS label FROM orders WHERE o_custkey = 1
              |UNION ALL
              |SELECT c_nationkey + $NATION AS id, 'nation' AS label FROM customer WHERE c_custkey = 1""".stripMargin)
    ),

    // ---- traversal: Both preserves duplicates ----
    // nation 1 <- customers/suppliers (IN over in_nation) ++ -> region
    // (OUT over in_region): a multiset — counted to make it stable.
    QueryDef(
      "q_trav_both_dups",
      "traversal: Both concatenates In ++ Out preserving duplicates",
      (s, dir) => {
        val g = TpchGraph.snapshot(s, dir)
        val t = Composed(Seq(Ns, NID(Seq(NATION + 1L)), Both(Seq("*"))))
        Traversal.run(g, t).df.groupBy(col("label")).agg(count(lit(1)).as("n"))
      },
      Some("""SELECT label, count(*) AS n FROM (
              |  SELECT 'customer' AS label FROM customer WHERE c_nationkey = 1
              |  UNION ALL SELECT 'supplier' FROM supplier WHERE s_nationkey = 1
              |  UNION ALL SELECT 'region') GROUP BY label""".stripMargin)
    ),

    // ---- traversal: Values with unknown names -> empty lists ----
    QueryDef(
      "q_trav_values",
      "traversal: Values keeps entities; unknown names yield null rows",
      (s, dir) => {
        val g = TpchGraph.snapshot(s, dir)
        val t = Composed(Seq(Ns, NID(Seq(REGION + 0L, REGION + 1L)),
          Values(Seq("name", "no_such_prop"))))
        Traversal.run(g, t).df.select(col("id"), col("name"), col("vText"))
      },
      Some(s"""SELECT r_regionkey + $REGION AS id, 'name' AS name, r_name AS vText
              |FROM region WHERE r_regionkey IN (0, 1)""".stripMargin)
    ),

    // ---- 2-hop traversal composition ----
    QueryDef(
      "q_trav_2hop",
      "traversal: customer -> placed orders -> contained parts (2 hops)",
      (s, dir) => {
        val g = TpchGraph.snapshot(s, dir)
        val t = Composed(Seq(Ns, NID(Seq(CUST + 1L, CUST + 2L, CUST + 3L)),
          Out(Seq("placed")), Out(Seq("contains"))))
        // duplicates preserved (a part in two orders appears twice)
        Traversal.run(g, t).df.groupBy(col("id")).agg(count(lit(1)).as("n"))
      },
      Some(s"""SELECT l_partkey + $PART AS id, count(*) AS n
              |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              |WHERE o_custkey IN (1, 2, 3)
              |GROUP BY l_partkey""".stripMargin)
    ),

    // ---- EID: edge-id membership; nonexistent ids dropped ----
    QueryDef(
      "q_trav_eid",
      "traversal: EID filters the edge set; missing ids are dropped",
      (s, dir) => {
        val g = TpchGraph.snapshot(s, dir)
        val ids = (1 to 7).map(ln => E_CONTAINS + 1L * 8 + ln) :+ 999L
        val t = Composed(Seq(Es, EID(ids)))
        Traversal.run(g, t).df.select(col("id"), col("dst"))
      },
      Some(s"""SELECT l_orderkey * 8 + l_linenumber + $E_CONTAINS AS id,
              |       l_partkey + $PART AS dst
              |FROM lineitem WHERE l_orderkey = 1""".stripMargin)
    ),

    // ---- traversal rooted at Es: edge scan + Has + projection ----
    QueryDef(
      "q_trav_es_has",
      "traversal: all edges filtered by typed property, id projection",
      (s, dir) => {
        val g = TpchGraph.snapshot(s, dir)
        val t = Composed(Seq(Es, Has("via", PVText("supplier"))))
        Traversal.run(g, t).df.select(col("id"), col("src"), col("dst"))
      },
      Some(s"""SELECT s_suppkey + $E_SUPP_NAT AS id, s_suppkey + $SUPP AS src,
              |       s_nationkey + $NATION AS dst
              |FROM supplier""".stripMargin)
    ),

    // ---- filterRelations: both endpoints materialized + predicate ----
    // HGraphStorage API.hs:339-351: relation joined to both endpoint
    // objects, arbitrary predicate over all three.
    QueryDef(
      "q_filter_relations",
      "edges with both endpoint nodes joined and prop predicates on each side",
      (s, dir) => {
        val g = TpchGraph.snapshot(s, dir).live
        val e = g.edges.filter(col("label") === "contains" &&
          PropValues.hasValue(col("props"), "returnflag", PVText("R")))
        val src = g.nodes.select(col("id").as("src"), col("props").as("src_props"))
        val dst = g.nodes.select(col("id").as("dst"), col("props").as("dst_props"))
        e.join(src, "src").join(dst, "dst")
          .filter(PropValues.hasValue(col("dst_props"), "brand", PVText("Brand#13")))
          .select(e("id").as("rel_id"), col("src").as("src_id"), col("dst").as("dst_id"))
      },
      Some(s"""SELECT l_orderkey * 8 + l_linenumber + $E_CONTAINS AS rel_id,
              |       l_orderkey + $ORDER AS src_id, l_partkey + $PART AS dst_id
              |FROM lineitem JOIN part ON l_partkey = p_partkey
              |WHERE l_returnflag = 'R' AND p_brand = 'Brand#13'""".stripMargin)
    ),

    // ---- traversal: AllValues over customers (union of names) ----
    QueryDef(
      "q_trav_allvalues",
      "traversal: AllValues materializes every property of the entity",
      (s, dir) => {
        val g = TpchGraph.snapshot(s, dir)
        val t = Composed(Seq(Ns, NID(Seq(CUST + 1L, CUST + 2L)), AllValues))
        Traversal.run(g, t).df.select(col("id"), col("name"), col("vText"))
      },
      Some(s"""SELECT c_custkey + $CUST AS id, 'name' AS name, c_name AS vText
              |FROM customer WHERE c_custkey IN (1, 2)
              |UNION ALL
              |SELECT c_custkey + $CUST, 'mktsegment', c_mktsegment
              |FROM customer WHERE c_custkey IN (1, 2)
              |UNION ALL
              |SELECT c_custkey + $CUST, 'acctbal', CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS VARCHAR)
              |FROM customer WHERE c_custkey IN (1, 2)""".stripMargin)
    ),

    // ---- model dictionary (type dictionaries, SURVEY §1.1.4) ----
    QueryDef(
      "q_model_dict",
      "type dictionary derived from the snapshot: kinds, names, ids",
      (s, dir) => {
        val g = TpchGraph.snapshot(s, dir)
        graft.core.Model.fromSnapshot(s, g)
          .select(col("kind"), col("id"), col("name"),
            coalesce(col("dataType").cast("int"), lit(-1)).as("data_type"))
      },
      // the dictionary is a pure function of the graph mapping: same
      // entries at every scale factor
      Some("""SELECT kind, CAST(row_number() OVER (PARTITION BY kind ORDER BY name, dt) AS INT) AS id,
             |       name, dt AS data_type
             |FROM (
             |  SELECT 'node' AS kind, x.name, -1 AS dt FROM (VALUES ('customer'),('nation'),('order'),('part'),('region'),('supplier')) x(name)
             |  UNION ALL
             |  SELECT 'edge', x.name, -1 FROM (VALUES ('contains'),('in_nation'),('in_region'),('placed'),('supplies')) x(name)
             |  UNION ALL
             |  SELECT 'prop', x.name, 0 FROM (VALUES ('acctbal'),('brand'),('linestatus'),('mktsegment'),('name'),('priority'),('returnflag'),('status'),('via')) x(name))""".stripMargin)
    ),

    // ---- traversal: node counts by label (nbNodes analog) ----
    QueryDef(
      "q_graph_counts",
      "graph view: node and edge counts by label",
      (s, dir) => {
        val g = TpchGraph.snapshot(s, dir)
        g.nodes.groupBy(col("label")).agg(count(lit(1)).as("n"))
          .select(concat(lit("node:"), col("label")).as("entity"), col("n"))
          .unionAll(
            g.edges.groupBy(col("label")).agg(count(lit(1)).as("n"))
              .select(concat(lit("edge:"), col("label")).as("entity"), col("n")))
      },
      Some("""SELECT 'node:customer' AS entity, count(*) AS n FROM customer
             |UNION ALL SELECT 'node:nation', count(*) FROM nation
             |UNION ALL SELECT 'node:supplier', count(*) FROM supplier
             |UNION ALL SELECT 'node:order', count(*) FROM orders
             |UNION ALL SELECT 'node:part', count(*) FROM part
             |UNION ALL SELECT 'node:region', count(*) FROM region
             |UNION ALL SELECT 'edge:placed', count(*) FROM orders
             |UNION ALL SELECT 'edge:in_nation', (SELECT count(*) FROM customer) + (SELECT count(*) FROM supplier)
             |UNION ALL SELECT 'edge:contains', count(*) FROM lineitem
             |UNION ALL SELECT 'edge:supplies', count(*) FROM lineitem
             |UNION ALL SELECT 'edge:in_region', count(*) FROM nation""".stripMargin)
    )
  )
}
