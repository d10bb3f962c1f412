package graftbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generation. Everything a workload feeds into graft is
  * derived here from `--seed`, so the same seed yields byte-identical
  * inputs (and the same [[Digest]]).
  */
object Gen {

  final case class Region(key: Int, name: String)
  final case class Nation(key: Int, name: String, region: Int)
  final case class Customer(key: Long, name: String, nation: Int, acctbalCents: Long, segment: String)
  final case class Supplier(key: Long, name: String, nation: Int)
  final case class Part(key: Long, name: String, brand: String)
  final case class Order(key: Long, cust: Long, status: String, priority: String)
  final case class Line(order: Long, line: Int, part: Long, supp: Long, returnflag: String,
      linestatus: String)

  final case class Tpch(regions: Seq[Region], nations: Seq[Nation], customers: Seq[Customer],
      suppliers: Seq[Supplier], parts: Seq[Part], orders: Seq[Order], lines: Seq[Line])

  final case class Doc(id: Long, text: String, source: String)

  private val words = Vector("almond", "antique", "aquamarine", "azure", "beige", "bisque",
    "black", "blanched", "blue", "blush", "brown", "burlywood", "burnished", "chartreuse",
    "chiffon", "chocolate", "coral", "cornflower", "cornsilk", "cream", "cyan", "dark", "deep",
    "dim", "dodger", "drab", "firebrick", "floral", "forest", "frosted", "gainsboro", "ghost",
    "goldenrod", "green", "grey", "honeydew", "hot", "indian", "ivory", "khaki", "lace",
    "lavender", "lawn", "lemon", "light", "lime", "linen", "magenta", "maroon", "medium",
    "metallic", "midnight", "mint", "misty", "moccasin", "navajo", "navy", "olive", "orange",
    "orchid", "pale", "papaya", "peach", "peru", "pink", "plum", "powder", "puff", "purple",
    "red", "rose", "rosy", "royal", "saddle", "salmon", "sandy", "seashell", "sienna", "sky",
    "slate", "smoke", "snow", "spring", "steel", "tan", "thistle", "tomato", "turquoise",
    "violet", "wheat", "white", "yellow")

  private val segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Stream `k` of the run's seed: independent, reproducible sub-streams
    * for each consumer (graph tables, key streams, writer payloads, ...).
    */
  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream * 7919L + 17L)

  /** The TPC-H-shaped graph source: `nCust` customers with ~`ordersPer`
    * orders each, 1-7 lines per order over `nPart` parts (Zipf-popular)
    * and `nSupp` suppliers. Part names are unique (they carry the key),
    * so the part-name index is a unique index.
    */
  def tpch(seed: Long, nCust: Int, nPart: Int, nSupp: Int, ordersPer: Int): Tpch = {
    val r = rng(seed, 1)
    def word() = words(r.nextInt(words.size))
    val regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => Region(i, n) }
    val nations = (0 until 25).map(i => Nation(i, s"NATION_$i", i % 5))
    val customers = (1 to nCust).map(k =>
      Customer(k.toLong, f"Customer#$k%09d", r.nextInt(25), r.nextLong(-99999L, 999999L),
        segments(r.nextInt(segments.size))))
    val suppliers = (1 to nSupp).map(k => Supplier(k.toLong, f"Supplier#$k%09d", r.nextInt(25)))
    val parts = (1 to nPart).map(k =>
      Part(k.toLong, s"${word()} ${word()} ${word()} $k", s"Brand#${1 + r.nextInt(5)}${1 + r.nextInt(5)}"))
    val partPick = new Zipf(nPart, 0.8, r)
    val orders = Vector.newBuilder[Order]
    val lines = Vector.newBuilder[Line]
    var ok = 0L
    for (c <- customers; _ <- 0 until (1 + r.nextInt(2 * ordersPer - 1))) {
      ok += 1
      orders += Order(ok, c.key, if (r.nextInt(3) == 0) "F" else "O", priorities(r.nextInt(5)))
      for (ln <- 1 to 1 + r.nextInt(7))
        lines += Line(ok, ln, 1L + partPick.next(), 1L + r.nextInt(nSupp),
          if (r.nextBoolean()) "R" else "N", if (r.nextBoolean()) "O" else "F")
    }
    Tpch(regions, nations, customers, suppliers, parts, orders.result(), lines.result())
  }

  /** Curation corpus: `nBase` documents over a fixed vocabulary in
    * `nSources` sources of Zipf-skewed size, replicated `copies` times
    * with a per-copy token suffix (ScaleUp's scheme: each copy is a
    * distinct corpus with the same statistics). Into each copy go exact
    * duplicates, lightly edited near-duplicates, and short documents
    * below the quality threshold. `nBench` benchmark documents (source
    * "bench") are built from spans of training documents, so
    * decontamination has work to do.
    */
  def corpus(seed: Long, nBase: Int, copies: Int, nSources: Int, nBench: Int): Seq[Doc] = {
    val r = rng(seed, 2)
    val srcPick = new Zipf(nSources, 1.0, r)
    def text(n: Int) = Seq.fill(n)(words(r.nextInt(words.size))).mkString(" ")
    val base = (0 until nBase).map { i =>
      val kind = r.nextInt(20)
      val len = if (kind == 0) 3 + r.nextInt(6) else 12 + r.nextInt(60)
      (s"src${srcPick.next()}", kind, len)
    }
    val out = Vector.newBuilder[Doc]
    var id = 0L
    for (c <- 0 until copies) {
      val texts = scala.collection.mutable.ArrayBuffer.empty[String]
      for ((src, kind, len) <- base) {
        val t =
          if (kind == 1 && texts.nonEmpty) texts(r.nextInt(texts.size)) // exact duplicate
          else if (kind == 2 && texts.nonEmpty) { // near-duplicate: one token replaced
            val toks = texts(r.nextInt(texts.size)).split(" ")
            toks(r.nextInt(toks.length)) = words(r.nextInt(words.size))
            toks.mkString(" ")
          } else text(len)
        texts += t
        val suffixed = if (c == 0) t else t.split(" ").map(w => s"${w}_$c").mkString(" ")
        out += Doc(id, suffixed, src)
        id += 1
      }
    }
    val train = out.result()
    val bench = (0 until nBench).map { i =>
      val from = train(r.nextInt(train.size)).text.split(" ")
      val span = if (i % 2 == 0 && from.length >= 3) from.slice(0, 3).mkString(" ") + " " else ""
      Doc(id + i, span + text(12 + r.nextInt(10)), "bench")
    }
    train ++ bench
  }

  /** Seeded Zipf(n, s) over ranks 0..n-1, rank -> key through a seeded
    * permutation so the hot keys differ per seed.
    */
  final class Zipf(n: Int, s: Double, r: SplittableRandom) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    private val perm = {
      val a = (0 until n).toArray
      for (i <- n - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    def next(): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      perm(math.min(n - 1, if (i >= 0) i else -i - 1))
    }
  }

  /** Order-sensitive digest of generated inputs. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(x: Any): this.type = { md.update(String.valueOf(x).getBytes("UTF-8")); md.update(10.toByte); this }
    def addAll(xs: Iterable[Any]): this.type = { xs.foreach(add); this }
    def hex: String = md.digest().take(8).map("%02x".format(_)).mkString
  }
}
