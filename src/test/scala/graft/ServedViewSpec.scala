package graft

import org.apache.spark.sql.functions._

import graft.core.{GraphBuilder, GraphSnapshot}
import graft.streaming.EventStream

/** Lifecycle of the merge-on-read view `GraphSnapshot.openWithDeltas`
  * serves: one materialized view per store state, rebuilt when a
  * commit, a republish or a purge changes the state, never freed under
  * a reader that still holds it.
  */
class ServedViewSpec extends GraftSuite {
  import spark.implicits._

  /** A published base of `n` "t" nodes (ids 1..n) on a chain of edges. */
  private def store(n: Int = 4): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-served").toString
    val b = new GraphBuilder
    val ids = (1 to n).map(_ => b.addNode("t"))
    ids.zip(ids.drop(1)).foreach { case (x, y) => b.addEdge(x, y, "r") }
    b.snapshot(spark).write(dir)
    dir
  }

  private def commitUsers(dir: String, tx: Long, users: Long*): Unit =
    EventStream.upsertUserBatch(users.toDF("user_id"), tx, dir)

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  /** Descriptions of the jobs a listener saw start while `f` ran. */
  private def jobDescriptions(f: => Unit): Seq[String] = {
    val sentinel = "served-view-spec:sentinel"
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      f
      // the listener bus delivers in order: once a job run after `f`
      // arrives, every job `f` ran has arrived before it
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1)).count() finally sc.setJobDescription(null)
      Iterator.continually(seen.poll(10, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(d => d != null && d != sentinel).toSeq
    } finally sc.removeSparkListener(l)
  }

  test("an unchanged store state is served from one view; reads do no merge work") {
    val dir = store()
    commitUsers(dir, 1L, 100L, 101L)
    var g1: GraphSnapshot = null
    val descs = jobDescriptions { g1 = GraphSnapshot.openWithDeltas(spark, dir) }
    assert(descs.nonEmpty && descs.forall(_ == "openWithDeltas:refresh"),
      s"the rebuild's jobs carry the refresh description: $descs")
    val g2 = GraphSnapshot.openWithDeltas(spark, dir)
    assert((g1.nodes eq g2.nodes) && (g1.edges eq g2.edges), "same state, same view")
    val plan = g2.live.nodes.filter(col("id") === 100L).queryExecution.executedPlan.toString
    Seq("Window", "Exchange", "FileScan").foreach { op =>
      assert(!plan.contains(op), s"a read of the served view runs no $op:\n$plan")
    }
    assert(ids(g2.live.nodes) == Set(1L, 2L, 3L, 4L, 100L, 101L))
  }

  test("a re-open after a commit sees the new delta; only the changed table rebuilds") {
    val dir = store()
    commitUsers(dir, 1L, 100L)
    val g1 = GraphSnapshot.openWithDeltas(spark, dir)
    assert(ids(g1.live.nodes) == Set(1L, 2L, 3L, 4L, 100L))
    commitUsers(dir, 2L, 100L, 200L)
    val g2 = GraphSnapshot.openWithDeltas(spark, dir)
    assert(g2.nodes ne g1.nodes, "a node delta rebuilds the node view")
    assert(g2.edges eq g1.edges, "no edge delta: the edge view is kept")
    assert(ids(g2.live.nodes) == Set(1L, 2L, 3L, 4L, 100L, 200L))
    assert(g2.nodes.filter(col("id") === 100L && col("tx_max") === 2L).count() == 1,
      "the re-upserted user's predecessor is closed at the new commit")
    // a replay of the same tx rewrites its delta under new file names
    commitUsers(dir, 2L, 100L, 300L)
    val g3 = GraphSnapshot.openWithDeltas(spark, dir)
    assert(ids(g3.live.nodes) == Set(1L, 2L, 3L, 4L, 100L, 300L), "the replayed batch, not the first")
  }

  test("a reader holding a superseded view finishes without error") {
    val dir = store()
    commitUsers(dir, 1L, 100L)
    val held = GraphSnapshot.openWithDeltas(spark, dir).live.nodes.filter(col("id") >= 4L)
    commitUsers(dir, 2L, 200L)
    assert(ids(GraphSnapshot.openWithDeltas(spark, dir).live.nodes).contains(200L))
    // push the dir's entry out of the LRU as well, then let the JVM
    // collect whatever is unreferenced
    (1 to 9).foreach(_ => GraphSnapshot.openWithDeltas(spark, store(1)))
    System.gc()
    assert(ids(held) == Set(4L, 100L), "the held view still reads, as of its own state")
  }

  test("compactDeltas republishes the base; the next open rebuilds from it") {
    val dir = store()
    commitUsers(dir, 1L, 100L, 101L)
    commitUsers(dir, 2L, 100L)
    val g1 = GraphSnapshot.openWithDeltas(spark, dir)
    assert(g1.nodes.count() == 4 + 3)
    GraphSnapshot.compactDeltas(spark, dir, horizon = 3L)
    assert(!new java.io.File(s"$dir/node_deltas").exists(), "deltas removed")
    val g2 = GraphSnapshot.openWithDeltas(spark, dir)
    assert(g2.nodes ne g1.nodes)
    assert(g2.nodes.count() == 4 + 2, "the dead pre-horizon version is gone from the view")
    def rows(g: GraphSnapshot) = g.nodes.select("id", "tx_min", "tx_max").collect().map(_.toString).sorted.toSeq
    assert(rows(g2) == rows(GraphSnapshot.open(spark, dir)), "the view is the new base")
    assert(ids(g1.live.nodes) == Set(1L, 2L, 3L, 4L, 100L, 101L), "the old view still reads")
  }

  test("a user's persist() of an opened frame is never matched to a later state") {
    val dir = store()
    commitUsers(dir, 1L, 100L)
    val p = GraphSnapshot.openWithDeltas(spark, dir).live.nodes.persist()
    try {
      assert(ids(p) == Set(1L, 2L, 3L, 4L, 100L))
      commitUsers(dir, 2L, 200L)
      val later = GraphSnapshot.openWithDeltas(spark, dir).live.nodes
      val cached = later.queryExecution.withCachedData.collectFirst {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
      }
      assert(cached.isEmpty, "the later state's plan uses no cached relation")
      assert(ids(later) == Set(1L, 2L, 3L, 4L, 100L, 200L))
    } finally p.unpersist()
  }
}
