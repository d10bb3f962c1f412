package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

import graft.core.GraphSnapshot
import graft.operators.Mvcc

/** Differential property test of the merge-on-read view: on random
  * version histories the view `GraphSnapshot.openWithDeltas` serves
  * equals a plain-Scala `coalesce(tx_max, lead(tx_min))` merge, row for
  * row — cold, reused and refreshed — and every reader tx sees the
  * versions the history makes visible to it.
  */
class MergeOnReadPropertySpec extends GraftSuite {

  /** One stored version; `v` names it ("id@tx_min"). */
  private case class V(id: Long, v: String, txMin: Long, txMax: Option[Long])

  /** A published base, the commits after it (one delta per tx), and
    * how many commits are visible at the cold open. `crashed` of them
    * (a prefix) are already folded into the base, their deltas left
    * behind: the crash between compaction's republish and its delete.
    */
  private case class History(base: Seq[V], commits: Seq[(Long, Seq[V])], cold: Int, crashed: Int)

  private def version(id: Long, tx: Long, txMax: Option[Long]) = V(id, s"$id@$tx", tx, txMax)

  /** Per id, 0-3 base versions at distinct txs in 1..3, each closed by
    * its successor; the last one live or closed (deleted) later.
    */
  private def genBase(id: Long): Gen[Seq[V]] = for {
    n <- Gen.choose(0, 3)
    txs <- Gen.pick(n, 1L to 3L).map(_.toSeq.sorted)
    deleted <- Gen.oneOf(true, false)
  } yield txs.zipAll(txs.drop(1).map(Some(_)), 0L, None).collect {
    case (t, Some(next)) => version(id, t, Some(next))
    case (t, None) if t > 0 => version(id, t, if (deleted && t < 3) Some(3L) else None)
  }

  /** Commit `tx` upserts one or more ids; a quarter are tombstones. */
  private def genCommit(tx: Long, ids: Seq[Long]): Gen[(Long, Seq[V])] = for {
    touched <- Gen.atLeastOne(ids)
    kinds <- Gen.listOfN(touched.size, Gen.frequency(3 -> false, 1 -> true))
  } yield tx -> touched.toSeq.sorted.zip(kinds).map { case (id, dead) =>
    version(id, tx, if (dead) Some(tx) else None)
  }

  // few ids and several commits, so ids carry several versions and a
  // crash often leaves a base copy that compaction already closed
  private val genHistory: Gen[History] = for {
    nIds <- Gen.choose(1, 3)
    ids = (1L to nIds.toLong)
    base <- Gen.sequence[Seq[Seq[V]], Seq[V]](ids.map(genBase)).map(_.flatten)
    nCommits <- Gen.choose(2, 5)
    commits <- Gen.sequence[Seq[(Long, Seq[V])], (Long, Seq[V])](
      (1 to nCommits).map(i => genCommit(3L + i, ids)))
    cold <- Gen.choose(0, nCommits - 1)
    crashed <- Gen.frequency(1 -> Gen.const(0), 3 -> Gen.choose(cold.min(2), cold))
  } yield History(base, commits, cold, crashed)

  /** The merge rule in plain Scala: per id in tx_min order (ties: the
    * open copy first), a version without tx_max closes at its
    * successor's tx_min.
    */
  private def merge(rows: Seq[V]): Seq[V] =
    rows.groupBy(_.id).values.toSeq.flatMap { vs =>
      val sorted = vs.sortBy(r => (r.txMin, r.txMax.isDefined, r.txMax.getOrElse(0L)))
      sorted.zip(sorted.drop(1).map(r => Option(r.txMin)) :+ None)
        .map { case (r, next) => r.copy(txMax = r.txMax.orElse(next)) }
    }.sortBy(r => (r.id, r.txMin, r.txMax))

  /** Mvcc.visibleAt in plain Scala. */
  private def visibleAt(rows: Seq[V], tx: Long): Seq[(Long, String)] =
    rows.filter(r => r.txMin <= tx && r.txMax.forall(_ > tx)).map(r => (r.id, r.v)).sorted

  private def props(v: String) = Map("v" -> Seq(Row(0.toByte, v, null, null, null)))

  private def nodeRow(r: V) = Row(r.id, "t", props(r.v), r.txMin, r.txMax.orNull)
  private def edgeRow(r: V) = Row(r.id, r.id, "t", r.id, "t", "r", props(r.v), r.txMin, r.txMax.orNull)

  private def frame(rows: Seq[Row], schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def writeDelta(dir: String, tx: Long, rows: Seq[V]): Unit =
    if (rows.nonEmpty) {
      frame(rows.map(nodeRow), GraphSnapshot.nodeSchema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/node_deltas/delta_$tx")
      frame(rows.map(edgeRow), GraphSnapshot.edgeSchema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/edge_deltas/delta_$tx")
    }

  private def served(df: DataFrame): Seq[V] =
    df.select(col("id"), col("props").getItem("v").getItem(0).getField("vText"),
        col("tx_min"), col("tx_max")).collect()
      .map(r => V(r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toSeq.sortBy(r => (r.id, r.txMin, r.txMax))

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, rng.Seed(seed)).get

  test("property: the served view equals the plain-Scala merge, cold, reused and refreshed") {
    // histories whose crash left an open delta copy beside a base copy
    // compaction had closed: the tie the merge's order must resolve
    var closedDuplicates = 0
    (1L to 16L).foreach { seed =>
      val h = sample(genHistory, seed)
      val dir = java.nio.file.Files.createTempDirectory("graft-merge-prop").toString
      val deltas = (n: Int) => h.commits.take(n).flatMap(_._2)
      // the base as written; with a crash it already holds the merged
      // versions of the first `crashed` commits
      val base = if (h.crashed > 0) merge(h.base ++ deltas(h.crashed)) else h.base
      if (deltas(h.crashed).exists(d => d.txMax.isEmpty &&
          base.exists(b => b.id == d.id && b.txMin == d.txMin && b.txMax.isDefined)))
        closedDuplicates += 1
      GraphSnapshot(frame(base.map(nodeRow), GraphSnapshot.nodeSchema),
        frame(base.map(edgeRow), GraphSnapshot.edgeSchema)).write(dir)
      h.commits.take(h.cold).foreach { case (tx, rows) => writeDelta(dir, tx, rows) }

      def check(phase: String, g: GraphSnapshot, committed: Int): Unit = {
        val what = s"seed $seed ($phase): $h"
        val want = merge(base ++ deltas(committed))
        assert(served(g.nodes) == want, s"nodes, $what")
        assert(served(g.edges) == want, s"edges, $what")
        // every reader tx sees what the history WITHOUT the crash
        // duplicates makes visible to it, through its own predicate
        val truth = merge(h.base ++ deltas(committed))
        (1L to 3L + h.commits.size + 1).foreach { tx =>
          val seen = served(g.nodes.filter(Mvcc.visibleAt(tx))).map(r => (r.id, r.v)).sorted
          assert(seen == visibleAt(truth, tx),
            s"visible at tx $tx, $what")
        }
      }

      val cold = GraphSnapshot.openWithDeltas(spark, dir)
      check("cold", cold, h.cold)
      val reused = GraphSnapshot.openWithDeltas(spark, dir)
      assert((reused.nodes eq cold.nodes) && (reused.edges eq cold.edges), s"seed $seed: reused")
      check("reused", reused, h.cold)
      h.commits.drop(h.cold).foreach { case (tx, rows) => writeDelta(dir, tx, rows) }
      check("refreshed", GraphSnapshot.openWithDeltas(spark, dir), h.commits.size)
    }
    assert(closedDuplicates >= 3, s"only $closedDuplicates histories exercise a closed crash copy")
  }
}
