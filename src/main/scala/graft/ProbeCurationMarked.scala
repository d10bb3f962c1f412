package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, TextOps, Tombstones}

/** Composed-curation marker-tax probe (SCALE.md evidence, the r15
  * verdict's item 6): `q_pipeline_pretrain_incremental`'s shape —
  * exact-keeper filter, then banded near-dup mine, plus the winnow
  * overlap leg — run END-TO-END against published stores carrying
  * LIVE tombstone backlogs on every input (exact full index, band
  * table, winnow index). Each store's marker tax was probed ALONE in
  * r15 (ProbeMarkers: cardinality invisible, fragmentation ≈ +0.3 s
  * per 100 batch files); this probe answers whether the taxes COMPOSE
  * additively through the real pipeline plan or interact (e.g. three
  * anti-joins under one AQE re-plan), and re-checks the compaction
  * cadence rule (~100 batch files / ~1% marked rows) on the composed
  * read.
  *
  * Usage: `runMain graft.ProbeCurationMarked <dir> [reps]` where
  * `dir` holds `documents.parquet` (1x = sf0.1; point at the 10x/100x
  * replicas for the scale rows). Shapes: no markers, 1% of corpus ids
  * in 10 batch files per store, the same 1% in 100 files per store;
  * then every store compacts and the composed mine re-runs on the
  * fresh layouts. Every rep prints (criterion-report rule); medians
  * go to SCALE.md.
  */
object ProbeCurationMarked {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.core.Graft.session("graft-probe-curation-marked",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 7 =!= 3)
    val batch = docs.filter(col("doc_id") % 7 === 3)
    val n = corpus.count()

    val root = java.nio.file.Files.createTempDirectory("graft-curation-marked").toString
    val exactP = s"$root/exact"; val bandsP = s"$root/bands"
    val winnowP = s"$root/winnow"; val survP = s"$root/survivors"
    val t0 = System.nanoTime()
    Dedup.exactIndexFull(corpus, "doc_id", col("text"))
      .write.mode("overwrite").parquet(exactP)
    Dedup.bandTable(corpus, "doc_id", col("text"))
      .write.mode("overwrite").parquet(bandsP)
    TextOps.winnow(corpus.select(col("doc_id").as("id"), col("text")),
        "id", col("text"), 3, 4)
      .write.mode("overwrite").parquet(winnowP)
    corpus.write.mode("overwrite").parquet(survP)
    println(f"""{"probe":"curation_marked","event":"publish","docs":$n,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")

    /** The composed incremental mine, off the stores' LIVE views. */
    def mine(exact: String, bands: String, winnow: String): (Long, Long) = {
      // exact: batch doc survives iff it IS the keeper among corpus ∪ batch
      val keepers = Dedup.exactKeepers(Tombstones.live(spark, exact, "id"))
        .select(col("content_hash"), col("keep_id"))
      val exKeep = Dedup.exactDuplicatesIncremental(keepers, batch,
          "doc_id", col("text"))
        .filter(col("id") === col("keep_id"))
        .select(col("id").as("doc_id"))
      val exB = batch.join(exKeep, Seq("doc_id"), "left_semi")
        .localCheckpoint(true)
      // near-dup: banded batch vs the marker-bearing band table; the
      // corpus verify side honors the same takedowns
      val corpusLive = Tombstones.applyTo(
        spark.read.parquet(survP), bands, "doc_id")
      val pairs = Dedup.nearDuplicatesIncremental(corpusLive,
        Tombstones.live(spark, bands, "id"), exB, "doc_id", col("text"), 0.7)
      val survivors = exB.join(
        pairs.select(col("db").as("doc_id")).distinct(), Seq("doc_id"), "left_anti")
      val nSurv = survivors.count()
      // winnow leg: batch fingerprint matches vs the marked index
      val nWin = TextOps.winnowMatches(
        Tombstones.live(spark, winnow, "id"),
        batch.select(col("doc_id").as("id"), col("text")),
        "id", col("text"), 3, 4).count()
      (nSurv, nWin)
    }

    def timeMine(tag: String, exact: String, bands: String,
        winnow: String): Unit = (1 to reps).foreach { _ =>
      val s = System.nanoTime()
      val (a, b) = mine(exact, bands, winnow)
      println(f"""{"probe":"curation_marked","shape":"$tag%s","survivors":$a,"winnow_matches":$b,"sec":${(System.nanoTime() - s) / 1e9}%.2f}""")
    }

    def addBacklog(batches: Int): Unit = {
      val pct1 = math.max((n / 100L).toInt, 1)
      val per = math.max((pct1 + batches - 1) / batches, 1)
      (0 until batches).foreach { i =>
        val lo = i.toLong * per
        val ids = spark.range(lo, lo + per)
        // same ids marked on all three stores — a takedown takes a doc
        // out of every index it feeds
        Tombstones.delete(exactP, ids.select(col("id")), "id"): Unit
        Tombstones.delete(bandsP, ids.select(col("id").as("doc_id")), "doc_id"): Unit
        Tombstones.delete(winnowP, ids.select(col("id")), "id"): Unit
      }
    }
    def clearAll(): Unit =
      Seq(exactP, bandsP, winnowP).foreach(Tombstones.clear)

    timeMine("none", exactP, bandsP, winnowP)
    clearAll(); addBacklog(10)
    timeMine("1pct_10batches", exactP, bandsP, winnowP)
    clearAll(); addBacklog(100)
    timeMine("1pct_100batches", exactP, bandsP, winnowP)

    // the maintenance window buys the taxes back on every store
    val tC = System.nanoTime()
    Tombstones.compact(spark, exactP, s"$root/exact2", "id")
    Tombstones.compact(spark, bandsP, s"$root/bands2", "id")
    Tombstones.compact(spark, winnowP, s"$root/winnow2", "id")
    println(f"""{"probe":"curation_marked","event":"compact_all","sec":${(System.nanoTime() - tC) / 1e9}%.2f}""")
    timeMine("compacted", s"$root/exact2", s"$root/bands2", s"$root/winnow2")
    spark.stop()
  }
}
