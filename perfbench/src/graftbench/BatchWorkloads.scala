package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.GraphAnalytics
import graft.core.GraphSnapshot
import graft.pipeline.{Dedup, TextOps}
import graft.sources.Tables

/** One part of a batch job: its input set-up, its steps, and the check
  * of their outputs against a plain-Scala reference.
  */
trait BatchPart {
  /** One set-up pass into `dir` (the caller times it). */
  def setupPass(ctx: Ctx, dir: String): Unit

  /** Expected answers for the input, computed once after set-up (not
    * part of `setup_s`). Returns the input digest.
    */
  def prepare(): String

  /** Run the part's steps on `dir` (each through `step`); the returned
    * check runs after the clock stops.
    */
  def batch(ctx: Ctx, dir: String, out: String, step: Steps): () => Option[String]

  def layers(req: Trace.Req, layers: Layers): Unit
  def detail: Seq[(String, Any)]
}

/** Times the steps of one batch: each is a span (named after its layer
  * and operator) and a latency sample.
  */
final class Steps {
  val samples = mutable.ArrayBuffer.empty[(String, Double)]
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = Trace.span(name)(body)
    samples += name -> (System.nanoTime() - t0) / 1e6
    out
  }
}

/** A batch workload: set-up passes, untimed warm-up batches, then
  * whole batches (input to complete result) while one more is expected
  * to end inside the window, at least one. The latency samples are
  * whole batches (`job_s`); the steps are the per-layer spans.
  */
final class BatchWorkload(parts: BatchPart*) extends Workload {
  val SetupPasses = 3
  /** After one batch the next still runs ~10% faster (JIT, Spark's
    * caches); after two the timed batches are level.
    */
  val WarmupBatches = 2

  def run(spark: SparkSession, a: Main.Args, ctx: Ctx): Outcome = {
    val layers = new Layers
    def dir(p: Int) = s"${ctx.work}/batch-$p"
    val passS = (0 until SetupPasses).map { p =>
      val t0 = System.nanoTime()
      parts.foreach(_.setupPass(ctx, dir(p)))
      (System.nanoTime() - t0) / 1e9
    }
    val base = dir(SetupPasses - 1)
    val digest = parts.map(_.prepare()).mkString("-")

    def batch(i: Int, steps: Steps): () => Option[String] = {
      val checks = parts.map(_.batch(ctx, base, s"$base/out-$i", steps))
      () => {
        val res = checks.view.flatMap(_()).headOption
        graft.core.Sidecar.delete(s"$base/out-$i", recursive = true)
        res
      }
    }

    val w0 = System.nanoTime()
    for (w <- 1 to WarmupBatches)
      batch(-w, new Steps)().foreach(why => throw new IllegalStateException(s"warm-up batch wrong: $why"))
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = ctx.setupSeconds(Stats.median(passS), warmS)
    ctx.sampleHeap()

    val batches = mutable.ArrayBuffer.empty[OpSample]
    val stepSamples = mutable.ArrayBuffer.empty[OpSample]
    val sparkWindow = mutable.ArrayBuffer.empty[(SparkStats, SparkStats)]
    val start = System.nanoTime()
    val deadline = start + (a.seconds * 1e9).toLong
    var busyNs = 0L
    var i = 0
    // a traced run makes at least one traced and one untraced batch,
    // for the tracing overhead
    while (i < (if (a.trace) 2 else 1) || System.nanoTime() + busyNs / i <= deadline) {
      val steps = new Steps
      val traced = a.trace && i % 2 == 0
      val before = Trace.totals
      val ((res, ns), req) = Trace.request(traced) {
        val t0 = System.nanoTime()
        val r = try Right(batch(i, steps)) catch { case e: Exception => Left(e) }
        (r, System.nanoTime() - t0)
      }
      // the batch's Spark work, before its answer check adds the benchmark's own
      sparkWindow += before -> Trace.totals
      busyNs += ns
      val ok = ctx.account(a.workload, res.map(check => check()))
      batches += OpSample("batch", ns / 1e6, ok, req.isDefined)
      stepSamples ++= steps.samples.map { case (n, ms) => OpSample(n, ms, ok, req.isDefined) }
      req.foreach(r => parts.foreach(_.layers(r, layers)))
      ctx.sampleHeap()
      i += 1
    }
    val windowS = (System.nanoTime() - start) / 1e9
    if (a.trace) { layers.window(sparkWindow.toSeq); layers.overhead(stepSamples.toSeq) }
    layers.add("core.session.ms", Session.sessionMs)
    val batchMs = batches.toSeq.map(_.latencyMs(windowS))
    // steps per second of batch time: heap samples and answer checks
    // between batches are the benchmark's, not the system's
    Outcome(ctx, digest, setupS,
      p50Ms = Stats.median(batchMs), p90Ms = Stats.pct(batchMs, 90),
      opsPerS = stepSamples.count(_.ok) / (busyNs / 1e9),
      Seq("job_s" -> Stats.median(batchMs) / 1000, "batches" -> batches.size, "batch_ms" -> batches.toSeq.map(_.ms),
        "step_ms" -> stepSamples.groupBy(_.kind).map { case (k, v) => k -> Stats.median(v.toSeq.map(_.ms)) },
        "setup_s" -> setupS, "setup_pass_s" -> passS, "warmup_s" -> warmS, "window_s" -> windowS) ++
        parts.flatMap(_.detail),
      layers.result)
  }
}

object BatchParts {
  def rows(spark: SparkSession, schema: StructType, rs: Seq[Row], files: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rs, files), schema)

  /** Spark work of the step named `name` in a traced batch. */
  def sparkLayers(name: String, req: Trace.Req, layers: Layers): SparkStats = {
    val st = req.spark(_ == name)
    layers.add(s"$name.ms", req.ms(name))
    layers.add(s"$name.jobs", st.jobs.toDouble)
    layers.add(s"$name.shuffle_bytes", st.shuffleBytes.toDouble)
    layers.add(s"$name.executor_cpu_ms", st.cpuMs)
    st
  }

  def cmp[K, V](what: String, got: Map[K, V], want: Map[K, V]): Option[String] =
    if (got == want) None
    else {
      val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k)).take(3)
      Some(s"$what: ${got.size} rows vs ${want.size} expected; e.g. " +
        bad.map(k => s"$k: ${got.get(k)} vs ${want.get(k)}").mkString("; "))
    }
}

object AnalyticsScale {
  val Customers = 160
  val Parts = 260
  val Suppliers = 30
  val OrdersPerCustomer = 2
  val Files = 4
  /** Rounds asked of the fixed-round operators. */
  val LpaRounds = 2
  val PprRounds = 2
  val HitsRounds = 2
  val Sources = 3
  val SupplierBase = 1000000L
}

/** Graph analytics: kCore, labelPropagation, personalizedPageRank,
  * hits, connectedComponents and multiSourceDistances over edge lists
  * generated in set-up as multi-file parquet: co-purchase pairs
  * (customers sharing a part), the >=2-shared weighted variant, and
  * customer -> supplier. The k of the k-core is the median co-purchase
  * degree; the PPR seed and the distance sources are seeded picks.
  */
final class AnalyticsPart(seed: Long) extends BatchPart {
  import AnalyticsScale._
  import BatchParts._

  private val t = Gen.tpch(seed + 1, Customers, Parts, Suppliers, OrdersPerCustomer)
  private val custOf = t.orders.map(o => o.key -> o.cust).toMap
  private val pairs = t.lines.map(l => (custOf(l.order), l.part)).distinct.groupBy(_._2).values
    .toSeq.flatMap { cs => val s = cs.map(_._1).sorted; for (a <- s; b <- s if a < b) yield (a, b) }
  private val copurchase = pairs.distinct.sorted
  private val shared = pairs.groupBy(identity).toSeq.filter(_._2.size >= 2)
    .map { case ((a, b), xs) => (a, b, math.max(1L, 11L - math.min(10L, xs.size.toLong))) }.sorted
  private val custSupp = t.lines.map(l => (custOf(l.order), SupplierBase + l.supp)).sorted
  private val k = { val d = Reference.undirected(copurchase).values.map(_.size).toSeq.sorted; d(d.size / 2) }
  private val sharedNodes = shared.flatMap(x => Seq(x._1, x._2)).distinct.sorted
  private val pick = Gen.rng(seed, 30)
  private val pprSeed = sharedNodes(pick.nextInt(sharedNodes.size))
  private val sources = Seq.fill(Sources)(sharedNodes(pick.nextInt(sharedNodes.size))).distinct
  private val ccNodes = (sharedNodes ++ (1L to Customers)).distinct.sorted // isolated customers too
  private val sharedPairs = shared.map(x => (x._1, x._2))

  def setupPass(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    val pair = StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))
    rows(spark, pair, copurchase.map(x => Row(x._1, x._2)), Files).write.parquet(s"$dir/copurchase")
    rows(spark, pair.add("w", LongType), shared.map(x => Row(x._1, x._2, x._3)), Files).write.parquet(s"$dir/shared")
    rows(spark, pair, custSupp.map(x => Row(x._1, x._2)), Files).write.parquet(s"$dir/cust_supp")
    // the shared-parts graph as a published snapshot, for connectedComponents
    GraphSnapshot(
      rows(spark, GraphSnapshot.nodeSchema, ccNodes.map(v => Row(v, "customer", null, 0L, null)), Files),
      rows(spark, GraphSnapshot.edgeSchema, shared.zipWithIndex.map { case ((s, d, _), i) =>
        Row(i.toLong, s, "customer", d, "customer", "shares", null, 0L, null) }, Files)
    ).write(s"$dir/cc")
  }

  private lazy val wantCore = Reference.kCore(copurchase, k)
  private lazy val wantLpa = Reference.labelPropagation(sharedPairs, LpaRounds)
  private lazy val wantPpr = Reference.personalizedPageRank(sharedPairs, pprSeed, PprRounds)
  private lazy val wantHits = Reference.hits(custSupp, HitsRounds)
  private lazy val wantCc = Reference.components(ccNodes, sharedPairs)
  private lazy val wantDist = Reference.multiSourceDistances(shared, sources)

  def prepare(): String = {
    Seq(wantCore, wantLpa, wantPpr, wantHits, wantCc, wantDist) // computed before the window
    new Gen.Digest().addAll(copurchase).addAll(shared).addAll(custSupp).hex
  }

  @volatile private var rounds: Seq[(String, Double)] = Nil

  def batch(ctx: Ctx, dir: String, out: String, step: Steps): () => Option[String] = {
    val spark = ctx.spark
    val copurchaseDf = spark.read.parquet(s"$dir/copurchase")
    val sharedDf = spark.read.parquet(s"$dir/shared")
    val custSuppDf = spark.read.parquet(s"$dir/cust_supp")
    val (core, coreRounds) = step("analytics.kCore") {
      val (df, r) = GraphAnalytics.kCore(copurchaseDf, k)
      (df.collect(), r)
    }
    val lpa = step("analytics.labelPropagation")(GraphAnalytics.labelPropagation(sharedDf, LpaRounds).collect())
    val ppr = step("analytics.personalizedPageRank")(
      GraphAnalytics.personalizedPageRank(sharedDf, pprSeed, PprRounds).collect())
    val hits = step("analytics.hits")(GraphAnalytics.hits(custSuppDf, HitsRounds).collect())
    val cc = step("analytics.connectedComponents") {
      val g = GraphSnapshot.open(spark, s"$dir/cc")
      val res = GraphAnalytics.connectedComponents(spark, g).collect()
      GraphAnalytics.invalidate(g) // every batch starts from its input, not a cached graph
      res
    }
    val (dist, distRounds) = step("analytics.multiSourceDistances") {
      val (df, r) = GraphAnalytics.multiSourceDistances(sharedDf, sources)
      (df.collect(), r)
    }
    rounds = Seq("kCore" -> coreRounds.toDouble, "multiSourceDistances" -> distRounds.toDouble)
    () =>
      cmp("kCore", core.map(r => r.getLong(0) -> r.getLong(1).toInt).toMap, wantCore._1)
        .orElse(if (coreRounds == wantCore._2) None else Some(s"kCore rounds $coreRounds vs ${wantCore._2}"))
        .orElse(cmp("labelPropagation", lpa.map(r => r.getLong(0) -> r.getLong(1)).toMap, wantLpa))
        .orElse(cmp("personalizedPageRank", ppr.map(r => r.getLong(0) -> r.getLong(1)).toMap, wantPpr))
        .orElse(cmp("hits", hits.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap, wantHits))
        .orElse(cmp("connectedComponents", cc.map(r => r.getLong(0) -> r.getLong(1)).toMap, wantCc))
        .orElse(cmp("multiSourceDistances", dist.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap,
          wantDist._1))
        .orElse(if (distRounds == wantDist._2) None
          else Some(s"multiSourceDistances rounds $distRounds vs ${wantDist._2}"))
  }

  def layers(req: Trace.Req, l: Layers): Unit = {
    for (op <- Seq("kCore", "labelPropagation", "personalizedPageRank", "hits", "connectedComponents",
        "multiSourceDistances"))
      l.add(s"analytics.$op.gc_ms", sparkLayers(s"analytics.$op", req, l).gcMs.toDouble)
    // rounds only where the API returns them (the others run the rounds asked)
    rounds.foreach { case (op, r) => l.add(s"analytics.$op.rounds", r) }
  }

  def detail: Seq[(String, Any)] = Seq("kcore_k" -> k,
    "edges" -> Map("copurchase" -> copurchase.size, "shared" -> shared.size, "cust_supp" -> custSupp.size),
    "rounds" -> rounds.toMap)
}

object CurationScale {
  val BaseDocs = 300
  val Copies = 3
  val Sources = 12
  val BenchDocs = 30
  val Files = 4
  val NearThreshold = 0.8
  val KeepPermille = 400
  val MinTokens = 10
}

/** Curation: quality -> exact -> nearDuplicates -> decontaminate ->
  * alphaMixture over a seeded, token-suffixed replication of a
  * generated corpus, each stage's output persisted.
  */
final class CurationPart(seed: Long) extends BatchPart {
  import CurationScale._
  import BatchParts._

  private val docs = Gen.corpus(seed, BaseDocs, Copies, Sources, BenchDocs)
  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType)))

  def setupPass(ctx: Ctx, dir: String): Unit =
    rows(ctx.spark, docSchema, docs.map(d => Row(d.id, d.text, d.source)), Files)
      .write.parquet(s"$dir/documents.parquet")

  private val (train, bench) = docs.partition(_.source != "bench")
  private lazy val quality = train.filter(d => Reference.tokens(d.text).length >= MinTokens)
  private lazy val exact =
    quality.groupBy(d => Reference.md5Hex(d.text)).values.map(_.minBy(_.id)).toSeq.sortBy(_.id)
  private val byId = docs.map(d => d.id -> d).toMap

  def prepare(): String = {
    exact // computed before the window
    new Gen.Digest().addAll(docs).hex
  }

  @volatile private var lshPrecision = 0.0

  def batch(ctx: Ctx, dir: String, out: String, step: Steps): () => Option[String] = {
    val spark = ctx.spark
    def persist(df: DataFrame, path: String): DataFrame = {
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    val all = step("sources.Tables")(Tables(spark, dir).documents)
    val benchDf = all.filter(col("source") === "bench")
    val q = step("pipeline.quality")(persist(
      all.filter(col("source") =!= "bench" && size(TextOps.tokens(col("text"))) >= MinTokens), s"$out/quality"))
    val ex = step("pipeline.exact")(persist(
      q.join(Dedup.exactIndex(q, "doc_id", col("text")).select(col("keep_id").as("doc_id")), Seq("doc_id"),
        "left_semi"), s"$out/exact"))
    val (pairs, near) = step("pipeline.nearDuplicates") {
      val pairs = persist(Dedup.nearDuplicates(ex, "doc_id", col("text"), NearThreshold), s"$out/near_pairs")
      (pairs, persist(ex.join(pairs.select(col("db").as("doc_id")), Seq("doc_id"), "left_anti"), s"$out/near"))
    }
    val (cont, clean) = step("pipeline.decontaminate") {
      val cont = persist(Dedup.decontaminate(near.unionByName(benchDf), "doc_id", col("text"),
        col("source") === "bench"), s"$out/contaminated")
      (cont, persist(near.join(cont.select(col("id").as("doc_id")), Seq("doc_id"), "left_anti"), s"$out/clean"))
    }
    val mix = step("pipeline.alphaMixture")(
      persist(TextOps.alphaMixture(clean, "source", "doc_id", KeepPermille), s"$out/mixture").collect())
    () => {
      def ids(df: DataFrame) = df.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
      val gotPairs = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
      // verification is exact given the LSH candidates: every candidate
      // at or above the threshold, with its rounded Jaccard, and no other
      val cand = Dedup.lshCandidates(ex, "doc_id", col("text")).collect().map(r => (r.getLong(0), r.getLong(1)))
      lshPrecision = gotPairs.size.toDouble / math.max(1, cand.length)
      val wantPairs = cand.toSeq.map { case (x, y) => (x, y, Reference.jaccard(byId(x).text, byId(y).text)) }
        .filter(_._3 >= NearThreshold).sorted
      val dropped = wantPairs.map(_._2).toSet
      val nearDocs = exact.filterNot(d => dropped(d.id))
      val wantCont = Reference.decontaminate(nearDocs, bench)
      val cleanDocs = nearDocs.filterNot(d => wantCont.contains(d.id))
      val gotCont = cont.collect().map(r =>
        r.getAs[Long]("id") -> (r.getAs[Long]("n_shared"), r.getAs[Long]("n_bench_docs"))).toMap
      val gotMix = mix.map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("source"), r.getAs[Long]("rnk"),
        r.getAs[Long]("quota"), r.getAs[Long]("selected"))).toMap
      GraphOps.diff("quality", ids(q), quality.map(_.id).sorted)
        .orElse(GraphOps.diff("exact", ids(ex), exact.map(_.id)))
        .orElse(GraphOps.diff("nearDuplicates", gotPairs, wantPairs))
        .orElse(GraphOps.diff("near survivors", ids(near), nearDocs.map(_.id)))
        .orElse(cmp("decontaminate", gotCont, wantCont))
        .orElse(GraphOps.diff("clean", ids(clean), cleanDocs.map(_.id)))
        .orElse(cmp("alphaMixture", gotMix, Reference.alphaMixture(cleanDocs, KeepPermille)))
    }
  }

  def layers(req: Trace.Req, l: Layers): Unit = {
    for (s <- Seq("quality", "exact", "nearDuplicates", "decontaminate", "alphaMixture"))
      sparkLayers(s"pipeline.$s", req, l)
    l.add("sources.Tables.ms", req.ms("sources.Tables"))
    l.add("sources.Tables.jobs", req.spark(_ == "sources.Tables").jobs.toDouble)
    l.add("pipeline.Dedup.lsh_precision", lshPrecision)
  }

  def detail: Seq[(String, Any)] = Seq("docs" -> docs.size, "lsh_precision" -> lshPrecision)
}
