package graft

import org.apache.spark.sql.functions._

import graft.analytics.GraphAnalytics

/** k-core peeling (GraphAnalytics.kCore): hand-checked cores on
  * crafted graphs, the cascade case, fixpoint semantics, and bounds.
  */
class KCoreSpec extends GraftSuite {
  import spark.implicits._

  private def core(edges: Seq[(Long, Long)], k: Int): (Map[Long, Long], Int) = {
    val (df, rounds) = GraphAnalytics.kCore(edges.toDF("src", "dst"), k)
    (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  test("triangle with a pendant: 2-core drops the pendant only") {
    // 1-2-3 triangle, 4 hangs off 3
    val (got, _) = core(Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)), 2)
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("peeling cascades: a path dissolves one end per round") {
    // path 1-2-3-4-5 has no 2-core; each round peels the current ends
    val (got, rounds) = core(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), 2)
    assert(got === Map.empty[Long, Long])
    assert(rounds >= 2, s"cascade should take multiple rounds, took $rounds")
  }

  test("within-core degrees are recomputed, not input degrees") {
    // K4 plus a pendant on vertex 1: the 3-core is K4 with degree 3
    // each — including vertex 1, whose input degree was 4
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val (got, _) = core(k4 :+ (1L, 9L), 3)
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("k=1 keeps every non-isolated vertex; duplicate/reversed edges collapse") {
    val (got, rounds) = core(Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)), 1)
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    assert(rounds === 1) // first round changes nothing -> fixpoint
  }

  test("maxIters failure is loud") {
    val path = (1L to 12L).sliding(2).map { case Seq(a, b) => (a, b) }.toSeq
    val e = intercept[IllegalArgumentException] {
      GraphAnalytics.kCore(path.toDF("src", "dst"), 2, maxIters = 2)._1.collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("freeCheckpoint actually unpersists (a LogicalRDD match miss must fail HERE, not leak)") {
    // the release sites (kCore, BF, MIS, LPA, PPR) all pattern-match
    // the analyzed plan against LogicalRDD; if a Spark upgrade or a
    // wrapped plan stops that firing, freeCheckpoint silently no-ops
    // and every iterative round's blocks pile up in the block manager.
    // This probe fails loudly in BOTH halves: the plan shape and the
    // storage status.
    val df = spark.range(0, 1000).toDF("id")
      .localCheckpoint(true)
    val rdd = df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      case other => fail(s"eager localCheckpoint now analyzes to ${other.getClass.getName}, " +
        "not LogicalRDD — freeCheckpoint is a silent no-op; update the match")
    }
    assert(spark.sparkContext.getPersistentRDDs.contains(rdd.id),
      "an eager localCheckpoint must pin its RDD (probe precondition)")
    GraphAnalytics.freeCheckpoint(df)
    assert(rdd.getStorageLevel === org.apache.spark.storage.StorageLevel.NONE,
      "freeCheckpoint must unpersist the checkpointed RDD")
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id),
      "the released RDD must leave the block-manager registry")
  }
}
