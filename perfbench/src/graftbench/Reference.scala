package graftbench

import scala.collection.mutable

/** Plain-Scala reference implementations the batch workloads' outputs
  * are checked against. They follow each operator's documented
  * contract (rounding, tie-breaks, integer arithmetic) on the same
  * generated input.
  */
object Reference {
  type Edge = (Long, Long)

  /** Undirected simple adjacency (self-loops dropped). */
  def undirected(es: Seq[Edge]): Map[Long, Set[Long]] =
    es.filter { case (a, b) => a != b }.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).toSet }

  /** k-core: (surviving vertex -> core degree, rounds incl. the final no-op round). */
  def kCore(es: Seq[Edge], k: Int): (Map[Long, Int], Int) = {
    var adj = undirected(es)
    var peels = 0
    var below = adj.filter(_._2.size < k).keySet
    while (below.nonEmpty) {
      adj = adj.removedAll(below).map { case (v, ns) => v -> (ns -- below) }.filter(_._2.nonEmpty)
      peels += 1
      below = adj.filter(_._2.size < k).keySet
    }
    (adj.map { case (v, ns) => v -> ns.size }, peels + 1)
  }

  /** Synchronous LPA: most frequent neighbour label, ties to the smallest. */
  def labelPropagation(es: Seq[Edge], rounds: Int): Map[Long, Long] = {
    val adj = undirected(es)
    var lab = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lab = adj.map { case (v, ns) =>
        val counts = ns.toSeq.groupBy(lab).map { case (l, xs) => l -> xs.size }
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lab
  }

  /** Integer micro-unit personalized PageRank (damping 850 permille). */
  def personalizedPageRank(es: Seq[Edge], seed: Long, rounds: Int): Map[Long, Long] = {
    val adj = undirected(es)
    val d = 850L
    var r = adj.keys.map(v => v -> (if (v == seed) 1000000L else 0L)).toMap
    for (_ <- 1 to rounds) {
      val contrib = mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((u, ns) <- adj if r(u) > 0; v <- ns)
        contrib(v) += math.floor((r(u) * d).toDouble / (ns.size * 1000L).toDouble).toLong
      r = adj.keys.map(v => v -> ((if (v == seed) (1000L - d) * 1000L else 0L) + contrib(v))).toMap
    }
    r.filter(_._2 > 0)
  }

  /** Integer HITS: id -> (hub_micro, auth_micro). */
  def hits(es: Seq[Edge], rounds: Int): Map[Long, (Long, Long)] = {
    val e = es.distinct
    val nodes = e.flatMap { case (a, b) => Seq(a, b) }.distinct
    def norm(raw: Map[Long, Long]): Map[Long, Long] = {
      val tot = raw.values.sum
      raw.map { case (v, x) => v -> (x * 1000000L) / tot }
    }
    var h: Map[Long, Long] = nodes.map(_ -> 1000000L).toMap
    var a: Map[Long, Long] = Map.empty
    for (_ <- 1 to rounds) {
      a = norm(e.filter(x => h.contains(x._1)).groupBy(_._2).map { case (v, xs) => v -> xs.map(x => h(x._1)).sum })
      h = norm(e.filter(x => a.contains(x._2)).groupBy(_._1).map { case (u, xs) => u -> xs.map(x => a(x._2)).sum })
    }
    nodes.map(v => v -> (h.getOrElse(v, 0L), a.getOrElse(v, 0L))).toMap
  }

  /** Connected components: node -> smallest id in its component. */
  def components(nodes: Seq[Long], es: Seq[Edge]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    nodes.foreach(find)
    for ((a, b) <- es) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    nodes.map(v => v -> find(v)).toMap
  }

  /** Synchronous Bellman-Ford from each source over the undirected
    * weighted graph: ((src, id) -> dist, rounds until no change).
    */
  def multiSourceDistances(es: Seq[(Long, Long, Long)], sources: Seq[Long]): (Map[(Long, Long), Long], Int) = {
    val und = es.filter(x => x._1 != x._2).flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }.groupBy(_._1)
    var dist = sources.distinct.map(s => (s, s) -> 0L).toMap
    var rounds = 0
    var changed = true
    while (changed) {
      val next = mutable.Map.empty[(Long, Long), Long] ++= dist
      for (((s, u), d) <- dist; (_, v, w) <- und.getOrElse(u, Nil)) {
        val nd = d + w
        if (next.get((s, v)).forall(nd < _)) next((s, v)) = nd
      }
      rounds += 1
      changed = next.size != dist.size || next.exists { case (k, d) => dist(k) != d }
      dist = next.toMap
    }
    (dist, rounds)
  }

  // ---- text ----

  def tokens(text: String): Array[String] = text.split(" ", -1)

  /** Distinct word 3-gram shingles (the whole text when shorter). */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val ts = tokens(text)
    (1 to math.max(ts.length - (n - 1), 1)).map(i => ts.slice(i - 1, i - 1 + n).mkString(" ")).toSet
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** TextOps.hash32(0, s): the first 32 bits of md5("0|s"). */
  def hash32(s: String): Long = java.lang.Long.parseLong(md5Hex(s"0|$s").take(8), 16)

  /** Jaccard of shingle sets, rounded to 4 places like Dedup's verification. */
  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    BigDecimal((x intersect y).size.toDouble / (x union y).size)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Dedup.decontaminate: id -> (n_shared, n_bench_docs). */
  def decontaminate(train: Seq[Gen.Doc], bench: Seq[Gen.Doc]): Map[Long, (Long, Long)] = {
    val benchOf = bench.flatMap(b => shingles(b.text).map(_ -> b.id)).groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2).toSet }
    train.flatMap { d =>
      val hit = shingles(d.text).filter(benchOf.contains)
      if (hit.isEmpty) None else Some(d.id -> (hit.size.toLong, hit.flatMap(benchOf).size.toLong))
    }.toMap
  }

  /** TextOps.alphaMixture: id -> (source, rank, quota, selected). */
  def alphaMixture(docs: Seq[Gen.Doc], keepPermille: Long): Map[Long, (String, Long, Long, Long)] = {
    val bySrc = docs.groupBy(_.source)
    val w = bySrc.map { case (s, xs) => s -> math.floor(math.sqrt(xs.size.toDouble)).toLong }
    val n = docs.size.toLong
    val k = (keepPermille * n + 999) / 1000
    val wTot = w.values.sum
    bySrc.flatMap { case (s, xs) =>
      val quota = math.min(k * w(s) / wTot, xs.size.toLong)
      xs.sortBy(d => (hash32(d.id.toString), d.id)).zipWithIndex.map { case (d, i) =>
        d.id -> (s, i + 1L, quota, if (i + 1 <= quota) 1L else 0L)
      }
    }
  }
}
