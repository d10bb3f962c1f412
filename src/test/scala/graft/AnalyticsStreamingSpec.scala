package graft

import org.apache.spark.sql.functions._

import graft.analytics.GraphAnalytics
import graft.core.GraphBuilder
import graft.model.PropertyValue._
import graft.pipeline.Dedup
import graft.streaming.EventStream

class AnalyticsStreamingSpec extends GraftSuite {
  import spark.implicits._

  private lazy val g = {
    // two components: (a-b-c) and (d-e)
    val b = new GraphBuilder
    val a1 = b.addNode("t"); val a2 = b.addNode("t"); val a3 = b.addNode("t")
    val d = b.addNode("t"); val e = b.addNode("t")
    b.addEdge(a1, a2, "r"); b.addEdge(a2, a3, "r"); b.addEdge(d, e, "r")
    b.snapshot(spark)
  }

  test("addEdge on an unknown endpoint id is a described error") {
    val b = new GraphBuilder
    val n = b.addNode("t")
    val e1 = intercept[IllegalArgumentException](b.addEdge(n, 999L, "r"))
    assert(e1.getMessage.contains("unknown dst node id 999"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException](b.addEdge(999L, n, "r"))
    assert(e2.getMessage.contains("unknown src node id 999"), e2.getMessage)
  }

  test("connected components find both components with min-id labels") {
    val cc = GraphAnalytics.connectedComponents(spark, g)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(1L) == 1L && cc(2L) == 1L && cc(3L) == 1L)
    assert(cc(4L) == 4L && cc(5L) == 4L)
  }

  test("DataFrame HashMin CC agrees with GraphX, including isolated vertices") {
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hashMin(pairs: Seq[(Long, Long)]) =
      labels(Dedup.clusterPairs(pairs.toDF("da", "db"), maxDriverPairs = 0))
    assert(hashMin(Seq((1L, 2L), (2L, 3L), (4L, 5L))) ==
      labels(GraphAnalytics.connectedComponents(spark, g)))

    // a 6-chain stored with reversed edges, then an isolated vertex:
    // GraphX labels the isolate alone; HashMin only sees edge endpoints
    val b2 = new GraphBuilder
    val chain = (1 to 6).map(_ => b2.addNode("t"))
    val reversed = chain.sliding(2).map { case Seq(x, y) => b2.addEdge(y, x, "r"); (y, x) }.toList
    b2.addNode("t")
    val gx = labels(GraphAnalytics.connectedComponents(spark, b2.snapshot(spark)))
    assert(gx == (1L to 6L).map(_ -> 1L).toMap + (7L -> 7L),
      "edge direction is ignored; min id wins; isolates are singletons")
    assert(hashMin(reversed) == gx - 7L)
    // two parts, one with a cycle back to its smallest id
    assert(hashMin(Seq((5L, 3L), (3L, 9L), (9L, 5L), (20L, 30L))) ==
      Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L, 30L -> 20L))
  }

  test("pageRank: normalized static ranks match the DAG closed form") {
    val pr = GraphAnalytics.pageRank(spark, g, 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // unnormalized closed form 0.15 / 0.2775 / 0.385875, scaled to sum=|V|
    val un = Map(1L -> 0.15, 2L -> 0.2775, 3L -> 0.385875, 4L -> 0.15, 5L -> 0.2775)
    val scale = 5.0 / un.values.sum
    un.foreach { case (id, r) =>
      assert(math.abs(pr(id) - r * scale) < 1e-9, s"vertex $id")
    }
  }

  /** Reference BFS: a GraphX Pregel run over the served GraphX view of
    * `g`, minimum hop distance from `srcs` within `maxHops`.
    */
  private def pregelHops(srcs: Set[Long], maxHops: Int, reverse: Boolean): Map[Long, Int] = {
    val base = GraphAnalytics.toGraphX(g)
    (if (reverse) base.reverse else base)
      .mapVertices((id, _) => if (srcs.contains(id)) 0 else Int.MaxValue)
      .pregel(Int.MaxValue, maxIterations = maxHops)(
        (_, dist, msg) => math.min(dist, msg),
        t =>
          if (t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr) Iterator((t.dstId, t.srcAttr + 1))
          else Iterator.empty,
        (a, b) => math.min(a, b))
      .vertices.filter(_._2 != Int.MaxValue).collect().toMap
  }

  private val hopCases = Seq(
    (Set(1L), 2, false) -> Map(1L -> 0, 2L -> 1, 3L -> 2),
    (Set(3L), 2, true) -> Map(3L -> 0, 2L -> 1, 1L -> 2),
    (Set(1L), 1, false) -> Map(1L -> 0, 2L -> 1), // maxHops bounds the frontier
    (Set(1L, 4L), 2, false) -> Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 0, 5L -> 1))

  test("Pregel hop distances, forward and reverse, bounded") {
    for (((srcs, hops, rev), want) <- hopCases)
      assert(pregelHops(srcs, hops, rev) == want, s"sources=$srcs maxHops=$hops reverse=$rev")
  }

  test("DataFrame BFS (hopDistancesDF) matches Pregel on all scenarios") {
    for (((srcs, hops, rev), want) <- hopCases) {
      val df = GraphAnalytics.hopDistancesDF(spark, g, srcs, hops, rev)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(df == pregelHops(srcs, hops, rev) && df == want,
        s"sources=$srcs maxHops=$hops reverse=$rev")
    }
    // sources not present in the graph contribute nothing
    assert(GraphAnalytics.hopDistancesDF(spark, g, Set(99L), 2).collect().isEmpty)
  }

  test("graph cache evicts exactly the least-recently-used entry") {
    import org.apache.spark.storage.StorageLevel
    // distinct graphs (different node counts -> different plan hashes)
    def mk(n: Int) = {
      val b = new GraphBuilder
      val ids = (1 to n).map(_ => b.addNode("t"))
      ids.sliding(2).foreach { case Seq(x, y) => b.addEdge(x, y, "r"); case _ => }
      b.snapshot(spark)
    }
    val gs = (10 to 18).map(mk) // 9 graphs; cache bound is 8
    val first = GraphAnalytics.toGraphX(gs(0))
    (1 until 8).foreach(i => GraphAnalytics.toGraphX(gs(i)))
    // touch g0 again: g1 becomes the LRU entry
    GraphAnalytics.toGraphX(gs(0))
    val second = GraphAnalytics.toGraphX(gs(1))
    GraphAnalytics.toGraphX(gs(8)) // 9th insert evicts exactly one entry

    assert(GraphAnalytics.isCached(gs(0)), "recently-touched graph survives")
    assert(GraphAnalytics.isCached(gs(1)), "second-recently-touched graph survives")
    assert(!GraphAnalytics.isCached(gs(2)), "the actual LRU entry is evicted")
    assert((3 to 8).forall(i => GraphAnalytics.isCached(gs(i))), "everything else survives")
    assert(first.vertices.getStorageLevel != StorageLevel.NONE, "hot graph stays persisted")
    assert(second.vertices.getStorageLevel != StorageLevel.NONE)
    // and the evicted handle was unpersisted, not leaked
    GraphAnalytics.invalidate(gs(8))
    assert(!GraphAnalytics.isCached(gs(8)))
  }

  test("streaming dedup drops duplicate deliveries within the watermark") {
    import org.apache.spark.sql.streaming.Trigger
    def src = EventStream.eventsStream(spark, sf0001)
    // simulate at-least-once delivery: every event arrives twice
    val doubled = src.union(src)
    val q = EventStream.dedupedEvents(doubled)
      .groupBy().count()
      .writeStream.outputMode("complete").format("memory").queryName("dedup_ev")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("dedup_ev").collect().head.getLong(0)
    val distinct = graft.sources.Tables(spark, sf0001).events.count()
    assert(streamed == distinct, s"doubled deliveries must dedup to $distinct, got $streamed")
  }

  test("delta-append upsert sink: O(batches) delta files, merge-on-read, compaction") {
    import graft.core.GraphSnapshot
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val events = graft.sources.Tables(spark, sf0001).events
    val users = events.select("user_id").distinct().count()

    val q = EventStream.upsertUsersIntoSnapshot(spark, sf0001, dir)
    q.awaitTermination(120000)
    // the sink wrote ONLY delta files — no base republish per batch
    assert(!new java.io.File(s"$dir/nodes").exists(), "no full-table rewrite")
    def deltaDirs = Option(new java.io.File(s"$dir/node_deltas").listFiles())
      .map(_.count(_.isDirectory)).getOrElse(0)
    assert(deltaDirs == 1, "AvailableNow over the finite source = one batch = one delta")
    assert(GraphSnapshot.openWithDeltas(spark, dir).nbNodes == users,
      "one live user node per distinct user")

    // a later batch touches only its own rows: one new delta dir,
    // upserted users get a fresh version whose predecessor derives
    // tx_max = the successor's tx_min
    val batch2 = events.filter(col("user_id") % 10 === 0)
    val reupserted = batch2.select("user_id").distinct().count()
    EventStream.upsertUserBatch(batch2, tx = 2L, dir)
    assert(deltaDirs == 2, "second batch appends exactly one delta")
    val g2 = GraphSnapshot.openWithDeltas(spark, dir)
    assert(g2.nbNodes == users, "upsert closes + re-appends, no live duplicates")
    assert(g2.nodes.filter(col("tx_max") === 2L).count() == reupserted,
      "predecessors of re-upserted users derive tx_max = 2")

    // batch replay (same tx) overwrites its own delta dir — idempotent
    EventStream.upsertUserBatch(batch2, tx = 2L, dir)
    assert(deltaDirs == 2 && GraphSnapshot.openWithDeltas(spark, dir).nbNodes == users)

    // compaction folds deltas into a published base: plain open serves
    // identical live rows with zero merge work, manifest included
    val expected = GraphSnapshot.openWithDeltas(spark, dir).live.nodes
      .select("id", "tx_min").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    GraphSnapshot.compactDeltas(spark, dir)
    assert(!new java.io.File(s"$dir/node_deltas").exists(), "deltas removed")
    val compacted = GraphSnapshot.open(spark, dir)
    assert(compacted.live.nodes.select("id", "tx_min").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == expected,
      "compaction preserves the live set exactly")
    assert(compacted.nodes.count() == users + reupserted,
      "horizon 0 keeps full version history")
    assert(GraphSnapshot.readManifest(dir).exists(_.contains(s""""n_nodes": $users""")))

    // a horizon past the closing tx drops the dead predecessors
    val dir2 = java.nio.file.Files.createTempDirectory("graft-upsert2").toString
    EventStream.upsertUserBatch(events, tx = 1L, dir2)
    EventStream.upsertUserBatch(batch2, tx = 2L, dir2)
    GraphSnapshot.compactDeltas(spark, dir2, horizon = 3L)
    assert(GraphSnapshot.open(spark, dir2).nodes.count() == users,
      "dead pre-horizon versions dropped, live set intact")
  }

  test("edge deltas: streamed node+edge upserts replay to the in-place graph") {
    import graft.core.GraphSnapshot
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert-e").toString
    val events = graft.sources.Tables(spark, sf0001).events

    val q = EventStream.upsertInteractionsIntoSnapshot(spark, sf0001, dir)
    q.awaitTermination(120000)
    assert(new java.io.File(s"$dir/edge_deltas").exists(), "edge leg written")

    // expected live edges, computed in-place from the same batch
    def expectedEdges(batch: org.apache.spark.sql.DataFrame) = batch
      .groupBy(col("user_id"), col("event_type")).count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val g1 = GraphSnapshot.openWithDeltas(spark, dir).live
    def liveEdges(g: graft.core.GraphSnapshot) = g.edges
      .select(col("src"), col("props").getItem("count").getItem(0).getField("vInt").cast("long"),
        col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val typeIds = g1.nodes.filter(col("label") === "etype")
      .select(col("id"), col("props").getItem("name").getItem(0).getField("vText"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val streamed1 = liveEdges(g1).map { case (u, n, d) => (u, typeIds(d), n) }.toSet
    assert(streamed1 == expectedEdges(events), "one live edge per (user, type), batch counts")

    // a later batch closes ONLY the pairs it touches
    val batch2 = events.filter(col("user_id") % 10 === 0)
    val touched = batch2.select("user_id", "event_type").distinct().count()
    EventStream.upsertInteractionBatch(batch2, tx = 2L, dir)
    val g2 = GraphSnapshot.openWithDeltas(spark, dir)
    assert(g2.edges.filter(col("tx_max") === 2L).count() == touched,
      "predecessors of re-upserted pairs derive tx_max = 2")
    assert(g2.live.edges.count() == expectedEdges(events).size, "no live duplicates")

    // DeletedEdge analog: tombstones close without successors
    val dead = batch2.groupBy(col("user_id"), col("event_type")).count()
      .select(xxhash64(lit("did"), col("user_id"), col("event_type")).as("id"),
        col("user_id").as("src"), lit("user").as("srcLabel"),
        EventStream.typeNodeId.as("dst"), lit("etype").as("dstLabel"),
        lit("did").as("label"),
        graft.model.PropValues.propsMap(
          "count" -> graft.model.PropValues.pvInt(lit(0L))).as("props"),
        lit(true).as("deleted"))
    EventStream.upsertEdgeBatch(dead, tx = 3L, dir)
    val g3 = GraphSnapshot.openWithDeltas(spark, dir)
    assert(g3.live.edges.count() == expectedEdges(events).size - touched,
      "tombstoned pairs are no longer live")

    // compaction folds BOTH delta dirs; plain open serves the same graph
    val expectLiveE = g3.live.edges.select("id", "tx_min").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectLiveN = g3.live.nodes.select("id", "tx_min").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    GraphSnapshot.compactDeltas(spark, dir)
    assert(!new java.io.File(s"$dir/node_deltas").exists())
    assert(!new java.io.File(s"$dir/edge_deltas").exists())
    val folded = GraphSnapshot.open(spark, dir)
    assert(folded.live.edges.select("id", "tx_min").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == expectLiveE)
    assert(folded.live.nodes.select("id", "tx_min").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == expectLiveN)

    // a horizon past the tombstones drops dead edge versions entirely
    GraphSnapshot.compactDeltas(spark, dir, horizon = 4L)
    val pruned = GraphSnapshot.open(spark, dir)
    assert(pruned.edges.count() == pruned.live.edges.count(),
      "post-horizon compaction keeps only live edge versions")
  }

  test("stream-stream interval join equals the batch range join") {
    import org.apache.spark.sql.streaming.Trigger
    val q = EventStream.streamIntervalJoin(spark, sf0001)
      .writeStream.outputMode("append").format("memory").queryName("ss_join")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("ss_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val e = graft.sources.Tables(spark, sf0001).events
      .selectExpr("user_id", "event_type", "ts div 1000000000 AS sec")
    val batch = graft.operators.TemporalJoin.range(
      e.filter(org.apache.spark.sql.functions.col("event_type") === "view")
        .select(org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.col("sec").as("v_sec")),
      e.filter(org.apache.spark.sql.functions.col("event_type") === "purchase")
        .select(org.apache.spark.sql.functions.col("user_id"),
          org.apache.spark.sql.functions.col("sec").as("p_sec")),
      Seq("user_id"), "v_sec", "p_sec", 1L, 1800L, Nil)
      .select("user_id", "v_sec", "p_sec").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
  }

  test("HLL registers maintain incrementally over a stream, equal to batch") {
    // register max is a streaming-native aggregate: each micro-batch
    // folds into 2^b rows of state, so approx-distinct runs over an
    // unbounded stream with constant state — no watermark needed
    import org.apache.spark.sql.streaming.Trigger
    val schema = spark.read.parquet(s"$sf0001/documents.parquet").schema
    val src = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sf0001)
      .select(explode(graft.pipeline.TextOps.shingles(col("text"), 3)).as("s"))
    val q = graft.pipeline.Sketch.hllRegisters(src, col("s"))
      .writeStream.outputMode("complete").format("memory").queryName("hll_stream")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val streamed = spark.table("hll_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = graft.pipeline.Sketch.hllRegisters(
      graft.sources.Tables(spark, sf0001).documents
        .select(explode(graft.pipeline.TextOps.shingles(col("text"), 3)).as("s")),
      col("s")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming windowed counts equal the batch transformation") {
    val q = EventStream.runToMemory(spark, sf0001, "ev_counts")
    q.awaitTermination(120000)
    val streamed = spark.table("ev_counts")
      .select("window_start", "event_type", "n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = EventStream.windowedCounts(graft.sources.Tables(spark, sf0001).events)
      .select("window_start", "event_type", "n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }
}
