package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.analytics.GraphAnalytics
import graft.core.GraphBuilder
import graft.operators.Components
import graft.pipeline.Dedup

/** The round driver every iterative graph operator runs on: what a
  * call leaves cached, how its jobs are described, and its loud bound.
  */
class SuperstepSpec extends GraftSuite {
  import spark.implicits._

  private def sc = spark.sparkContext

  // a 12-path (≈6 peel rounds), a triangle that survives the 2-core,
  // and weights for the weighted operators
  private def edges: DataFrame =
    ((1L to 12L).sliding(2).map { case Seq(a, b) => (a, b, 1 + a % 3) }.toSeq ++
      Seq((100L, 101L, 2L), (101L, 102L, 1L), (100L, 102L, 3L))).toDF("src", "dst", "w")

  private lazy val snapshot = {
    val b = new GraphBuilder
    val ids = (1 to 6).map(_ => b.addNode("t"))
    ids.sliding(2).foreach { case Seq(x, y) => b.addEdge(x, y, "r") }
    b.snapshot(spark)
  }

  private val operators: Seq[(String, DataFrame => DataFrame)] = Seq(
    "multiSourceDistances" -> (e => GraphAnalytics.multiSourceDistances(e, Seq(1L, 100L))._1),
    "maximalIndependentSet" -> (e => GraphAnalytics.maximalIndependentSet(e)._1),
    "kCore" -> (e => GraphAnalytics.kCore(e, 2)._1),
    "labelPropagation" -> (e => GraphAnalytics.labelPropagation(e, 3)),
    "personalizedPageRank" -> (e => GraphAnalytics.personalizedPageRank(e, 1L, 3)),
    "personalizedPageRankWeighted" -> (e => GraphAnalytics.personalizedPageRankWeighted(e, 1L, 3)),
    "hits" -> (e => GraphAnalytics.hits(e, 3)),
    "hyperANF" -> (e => GraphAnalytics.hyperANF(e, 3)),
    "deterministicWalks" -> (e => GraphAnalytics.deterministicWalks(e, 3)),
    "featurePropagation" -> (e => GraphAnalytics.featurePropagation(e,
      e.select($"src".as("id")).distinct().withColumn("f", $"id" % 5), 2)),
    "hopDistancesDF" -> (_ => GraphAnalytics.hopDistancesDF(spark, snapshot, Set(1L), 3)),
    "minLabel" -> (e => Dedup.clusterPairs(e.select($"src".as("da"), $"dst".as("db")),
      maxDriverPairs = 0)))

  /** The RDDs of the checkpoints a frame's plan reads. */
  private def behind(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  test("every iterative operator leaves cached only the checkpoints behind its result") {
    // suites run one at a time in the forked test JVM, so the
    // persistent-RDD registry delta belongs to the call
    for ((name, op) <- operators) {
      val before = sc.getPersistentRDDs.keySet.toSet
      val out = op(edges)
      val added = sc.getPersistentRDDs.keySet.toSet -- before
      val kept = behind(out)
      assert(added == kept, s"$name: ${(added -- kept).size} superseded or static " +
        s"checkpoints leaked, ${(kept -- added).size} read ones missing")
      // a freed local checkpoint cannot recompute: reading proves the
      // kept frames are the ones the result needs
      assert(out.collect().nonEmpty, name)
      added.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    }
  }

  test("every round's jobs carry <op>:r<N>, and the caller's description comes back") {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(job: SparkListenerJobStart): Unit =
        Option(job.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    sc.setJobDescription("caller")
    try {
      val (_, rounds) = GraphAnalytics.kCore(edges, 2)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      eventually(timeout(20.seconds)) {
        assert((0 until rounds).forall(r => seen.contains(s"kCore:r$r")),
          s"$rounds rounds, descriptions seen: $seen")
      }
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
  }

  test("a loop that does not converge within maxIters fails loudly") {
    val chain = edges.select($"src".as("u"), $"dst".as("v"))
    val e = intercept[IllegalArgumentException] {
      Components.minLabel(chain.select($"u".as("id")).union(chain.select($"v".as("id"))).distinct(),
        chain, maxIters = 2)
    }
    assert(e.getMessage.contains("minLabel did not converge in 2 rounds"), e.getMessage)
  }
}
