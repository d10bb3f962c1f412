package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, rng}

import graft.analytics.GraphAnalytics
import graft.core.{GraphBuilder, GraphSnapshot}
import graft.pipeline.Dedup

/** Differential property test of the iterative graph operators: on
  * seeded random graphs with self-loops, duplicate and reversed edges,
  * isolated vertices, disconnected parts and degree and label ties,
  * each operator returns exactly the rows of a few lines of plain
  * Scala (MIS: a set that is independent and maximal). A released
  * local checkpoint cannot recompute, so freeing a round that is still
  * read fails these comparisons loudly.
  */
class GraphOpsPropertySpec extends GraftSuite {
  import spark.implicits._

  /** Vertices 1..n; directed edges (src, dst, w) with w in 1..4. */
  private case class G(n: Int, edges: Seq[(Long, Long, Long)]) {
    def pairs: Seq[(Long, Long)] = edges.map(e => (e._1, e._2))
    def df: DataFrame = edges.toDF("src", "dst", "w")
    /** Undirected simple neighbour sets; self-loops dropped. */
    lazy val nbrs: Map[Long, Set[Long]] = pairs.filter(e => e._1 != e._2)
      .flatMap(e => Seq(e, e.swap)).groupMap(_._1)(_._2).map { case (v, ns) => v -> ns.toSet }
    def snapshot: GraphSnapshot = {
      val b = new GraphBuilder
      (1 to n).foreach(_ => b.addNode("t"))
      pairs.foreach { case (s, d) => b.addEdge(s, d, "r") }
      b.snapshot(spark)
    }
  }

  // each edge stays inside the lower or the upper half of the ids, so
  // most graphs fall into several parts
  private val genGraph: Gen[G] = for {
    n <- Gen.choose(1, 10)
    v = Gen.choose(1L, n.toLong)
    half = (n + 1) / 2L
    inHalf = Gen.oneOf(Seq(Gen.choose(1L, half), Gen.choose(half.min(n - 1) + 1, n.toLong)))
      .flatMap(h => Gen.zip(h, h))
    m <- Gen.choose(0, 2 * n)
    base <- Gen.listOfN(m, inHalf)
    dups <- Gen.choose(0, m).map(base.take)
    revs <- Gen.choose(0, m).map(k => base.takeRight(k).map(_.swap))
    nLoops <- Gen.choose(0, 2)
    loops <- Gen.listOfN(nLoops, v.map(x => (x, x)))
    all = base ++ dups ++ revs ++ loops
    ws <- Gen.listOfN(all.size, Gen.choose(1L, 4L))
  } yield G(n, all.zip(ws).map { case ((s, d), w) => (s, d, w) })

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, rng.Seed(seed))

  private lazy val graphs: Seq[(Long, G)] = (1L to 10L).map(s => s -> sample(genGraph, s))

  /** One vertex of `g` per seed, drawn from the seed. */
  private def vertexOf(g: G, seed: Long): Long = sample(Gen.choose(1L, g.n.toLong), seed * 31)

  private def rows2(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("the seeded graphs exercise loops, duplicates, reversals, isolates and several parts") {
    val gs = graphs.map(_._2)
    assert(gs.count(_.pairs.exists(e => e._1 == e._2)) >= 3, "self-loops")
    assert(gs.count(g => g.pairs.distinct.size < g.pairs.size) >= 3, "duplicate edges")
    assert(gs.count(g => g.pairs.exists(e => e._1 != e._2 && g.pairs.contains(e.swap))) >= 3,
      "reversed edges")
    assert(gs.count(g => (1L to g.n.toLong).exists(!g.nbrs.contains(_))) >= 3, "isolated vertices")
    assert(gs.count(g => components(g.nbrs.toSeq.flatMap { case (u, ns) => ns.map(u -> _) })
      .values.toSet.size >= 2) >= 3, "disconnected parts")
  }

  /** Peel below-k vertices to the fixpoint; rounds = peels + the
    * final round that finds nothing to peel (0 for an empty graph).
    */
  private def refKCore(g: G, k: Int): (Map[Long, Long], Int) = {
    if (g.nbrs.isEmpty) return (Map.empty, 0)
    var alive = g.nbrs.keySet
    def deg(v: Long): Int = g.nbrs(v).count(alive)
    var peels = 0
    while (alive.exists(deg(_) < k)) {
      alive = alive.filterNot(deg(_) < k)
      alive = alive.filter(deg(_) > 0)
      peels += 1
    }
    (alive.map(v => v -> deg(v).toLong).toMap, peels + 1)
  }

  test("property: kCore and its rounds equal the plain-Scala peel") {
    for ((seed, g) <- graphs; k <- 1 to 3) {
      val (df, rounds) = GraphAnalytics.kCore(g.df, k)
      val got = rows2(df)
      assert((got.toMap, rounds) == refKCore(g, k), s"seed $seed k $k: $g")
      assert(got.size == got.toMap.size, s"seed $seed k $k: duplicate ids")
    }
  }

  /** Synchronous LPA: most frequent neighbour label, ties to the smallest. */
  private def refLpa(g: G, rounds: Int): Map[Long, Long] =
    (1 to rounds).foldLeft(g.nbrs.map { case (v, _) => v -> v }) { (lab, _) =>
      lab.map { case (v, _) =>
        v -> g.nbrs(v).toSeq.groupMapReduce(lab)(_ => 1)(_ + _).maxBy { case (l, c) => (c, -l) }._1
      }
    }

  test("property: labelPropagation equals the plain-Scala synchronous LPA") {
    for ((seed, g) <- graphs; rounds <- 1 to 3) {
      val got = rows2(GraphAnalytics.labelPropagation(g.df, rounds))
      assert(got.toMap == refLpa(g, rounds) && got.size == got.toMap.size,
        s"seed $seed rounds $rounds: $g")
    }
  }

  /** Integer PPR over (u, v, w) entries: each entry carries
    * floor(ppr·d·w / (1000·W(u))) of a nonzero score; W(u) = Σ w(u, ·).
    */
  private def refPpr(entries: Seq[(Long, Long, Long)], seed: Long, rounds: Int,
      d: Int = 850): Map[Long, Long] = {
    val strength = entries.groupMapReduce(_._1)(_._3)(_ + _)
    val restart = (1000L - d) * 1000L
    val r0 = strength.map { case (v, _) => v -> (if (v == seed) 1000000L else 0L) }
    (1 to rounds).foldLeft(r0) { (r, _) =>
      val contrib = entries.filter(e => r(e._1) > 0).groupMapReduce(_._2) { case (u, _, w) =>
        math.floor((r(u) * d * w).toDouble / (strength(u) * 1000L).toDouble).toLong
      }(_ + _)
      r.map { case (v, _) => v -> ((if (v == seed) restart else 0L) + contrib.getOrElse(v, 0L)) }
    }.filter(_._2 > 0)
  }

  test("property: personalizedPageRank and the weighted form are integer-exact") {
    for ((seed, g) <- graphs; rounds <- Seq(1, 3)) {
      val src = vertexOf(g, seed)
      val simple = g.nbrs.toSeq.flatMap { case (u, ns) => ns.toSeq.map(v => (u, v, 1L)) }
      val got = rows2(GraphAnalytics.personalizedPageRank(g.df, src, rounds))
      assert(got.toMap == refPpr(simple, src, rounds) && got.size == got.toMap.size,
        s"seed $seed source $src rounds $rounds: $g")
      // weighted: every entry counts, duplicates included
      val entries = g.edges.filter(e => e._1 != e._2)
        .flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
      val gotW = rows2(GraphAnalytics.personalizedPageRankWeighted(g.df, src, rounds))
      assert(gotW.toMap == refPpr(entries, src, rounds) && gotW.size == gotW.toMap.size,
        s"weighted, seed $seed source $src rounds $rounds: $g")
    }
  }

  /** HITS on distinct directed edges (self-loops kept): authorities
    * from hubs, then hubs from the new authorities, each renormalized
    * to (raw·1e6) DIV total.
    */
  private def refHits(g: G, rounds: Int): Map[Long, (Long, Long)] = {
    val e = g.pairs.distinct
    val nodes = e.flatMap(x => Seq(x._1, x._2)).toSet
    def norm(raw: Map[Long, Long]) = {
      val tot = raw.values.sum
      raw.map { case (v, x) => v -> x * 1000000L / tot }
    }
    var h = nodes.map(_ -> 1000000L).toMap
    var a = Map.empty[Long, Long]
    (1 to rounds).foreach { _ =>
      a = norm(e.filter(x => h.contains(x._1)).groupMapReduce(_._2)(x => h(x._1))(_ + _))
      h = norm(e.filter(x => a.contains(x._2)).groupMapReduce(_._1)(x => a(x._2))(_ + _))
    }
    nodes.map(v => v -> (h.getOrElse(v, 0L), a.getOrElse(v, 0L))).toMap
  }

  test("property: hits equals the plain-Scala integer recurrence") {
    for ((seed, g) <- graphs; rounds <- Seq(1, 3)) {
      val got = GraphAnalytics.hits(g.df, rounds).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toSeq
      assert(got.toMap == refHits(g, rounds) && got.size == got.toMap.size,
        s"seed $seed rounds $rounds: $g")
    }
  }

  /** Synchronous Bellman-Ford from every source over the undirected
    * weighted entries; rounds include the final unchanged one.
    */
  private def refDistances(g: G, sources: Seq[Long]): (Map[(Long, Long), Long], Int) = {
    val und = g.edges.filter(e => e._1 != e._2)
      .flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }.groupMap(_._1)(e => (e._2, e._3))
    var dist = sources.map(s => (s, s) -> 0L).toMap
    var rounds = 0
    var done = false
    while (!done) {
      val relax = for (((s, u), d) <- dist.toSeq; (v, w) <- und.getOrElse(u, Nil)) yield (s, v) -> (d + w)
      val next = (dist.toSeq ++ relax).groupMapReduce(_._1)(_._2)(math.min)
      rounds += 1
      done = next == dist
      dist = next
    }
    (dist, rounds)
  }

  test("property: multiSourceDistances and its rounds equal plain-Scala Bellman-Ford") {
    for ((seed, g) <- graphs) {
      val sources = sample(Gen.choose(1, 3).flatMap(k =>
        Gen.pick(k.min(g.n), 1L to g.n.toLong)), seed * 17).toSeq.sorted
      val (df, rounds) = GraphAnalytics.multiSourceDistances(g.df, sources)
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toSeq
      assert((got.toMap, rounds) == refDistances(g, sources) && got.size == got.toMap.size,
        s"seed $seed sources $sources: $g")
    }
  }

  /** Directed BFS from the sources that are vertices, within maxHops. */
  private def refHops(g: G, sources: Set[Long], maxHops: Int, reverse: Boolean): Map[Long, Int] = {
    val adj = g.pairs.map(e => if (reverse) e.swap else e).groupMap(_._1)(_._2)
    var frontier = sources.filter(s => s >= 1 && s <= g.n)
    var reached = frontier.map(_ -> 0).toMap
    (1 to maxHops).foreach { d =>
      frontier = frontier.flatMap(adj.getOrElse(_, Nil)).filterNot(reached.contains)
      reached ++= frontier.map(_ -> d)
    }
    reached
  }

  test("property: hopDistancesDF forward and reverse equals plain-Scala BFS") {
    for ((seed, g) <- graphs; reverse <- Seq(false, true)) {
      val snap = g.snapshot
      // a ghost id beyond the vertices joins every other source set
      val sources = Set(vertexOf(g, seed)) ++ (if (seed % 2 == 0) Set(g.n + 7L) else Set.empty)
      for (hops <- Seq(1, 3)) {
        val got = GraphAnalytics.hopDistancesDF(spark, snap, sources, hops, reverse)
          .collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq
        assert(got.toMap == refHops(g, sources, hops, reverse) && got.size == got.toMap.size,
          s"seed $seed sources $sources hops $hops reverse $reverse: $g")
      }
    }
  }

  /** Connected components of the pair graph: id -> smallest member. */
  private def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = pairs.flatMap(e => Seq(e, e.swap)).groupMap(_._1)(_._2)
    adj.keys.map { v =>
      var seen = Set(v)
      var front = Set(v)
      while (front.nonEmpty) {
        front = front.flatMap(adj(_)).diff(seen)
        seen ++= front
      }
      v -> seen.min
    }.toMap
  }

  test("property: clusterPairs through distributed HashMin equals union-find components") {
    for ((seed, g) <- graphs) {
      val got = rows2(Dedup.clusterPairs(g.pairs.toDF("da", "db"), maxDriverPairs = 0))
      assert(got.toMap == components(g.pairs) && got.size == got.toMap.size, s"seed $seed: $g")
    }
  }

  test("property: maximalIndependentSet is independent and maximal") {
    for ((seed, g) <- graphs) {
      val mis = GraphAnalytics.maximalIndependentSet(g.df)._1.as[Long].collect().toSeq
      val set = mis.toSet
      assert(mis.size == set.size, s"seed $seed: duplicate members")
      assert(set.subsetOf(g.nbrs.keySet), s"seed $seed: members outside the edge endpoints")
      assert(set.forall(v => !g.nbrs(v).exists(set)), s"seed $seed: not independent: $g")
      assert(g.nbrs.keySet.diff(set).forall(v => g.nbrs(v).exists(set)),
        s"seed $seed: not maximal: $g")
    }
  }
}
