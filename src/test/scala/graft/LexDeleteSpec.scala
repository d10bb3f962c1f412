package graft

import org.apache.spark.sql.functions._

import graft.pipeline.Retrieval

/** Lexical-index takedowns (Retrieval.deleteDocs): deleted index ≡
  * republish without the deleted docs (BM25 and phrase), unseen and
  * repeated deletes are no-ops, and an index without tombstones keeps
  * a join-free read plan.
  */
class LexDeleteSpec extends GraftSuite {
  import spark.implicits._

  private def docs = graft.sources.Tables(spark, sf001).documents
    .select(col("doc_id"), col("text"))

  private val terms = Seq("slow", "hash", "batch")

  private def bm25(root: String): Seq[(Long, Double, Long)] =
    Retrieval.searchIndex(spark, root, terms, 10)
      .as[(Long, Double, Long)].collect().sortBy(_._3).toSeq

  test("delete == republish-without, for BM25 and phrase, exactly") {
    val root = graft.queries.SessionPublish.tempDir("lexdel") + "/idx"
    Retrieval.publishIndex(docs, "doc_id", col("text"), root, buckets = 8)
    // take down some docs that actually rank for the query
    val victims = Retrieval.searchIndex(spark, root, terms, 3)
      .select("id").as[Long].collect().toSeq
    Retrieval.deleteDocs(spark, root, victims)

    val clean = graft.queries.SessionPublish.tempDir("lexdel-clean") + "/idx"
    Retrieval.publishIndex(docs.filter(!col("doc_id").isin(victims: _*)),
      "doc_id", col("text"), clean, buckets = 8)

    assert(bm25(root) === bm25(clean),
      "deleted index must score like a republish without the victims")
    val phA = Retrieval.phraseSearchIndex(spark, root, terms)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    val phB = Retrieval.phraseSearchIndex(spark, clean, terms)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(phA === phB)
    assert(Retrieval.readLexMeta(root)("n").toLong ===
      docs.count() - victims.size, "counters must track the live corpus")
  }

  test("unseen ids and repeated deletes are no-ops") {
    val root = graft.queries.SessionPublish.tempDir("lexdel-noop") + "/idx"
    Retrieval.publishIndex(docs, "doc_id", col("text"), root, buckets = 8)
    val before = Retrieval.readLexMeta(root)
    Retrieval.deleteDocs(spark, root, Seq(999999L, 888888L))
    assert(Retrieval.readLexMeta(root) === before, "unseen ids must be a no-op")
    Retrieval.deleteDocs(spark, root, Seq(1L))
    val after1 = Retrieval.readLexMeta(root)
    Retrieval.deleteDocs(spark, root, Seq(1L))
    assert(Retrieval.readLexMeta(root) === after1,
      "a repeated delete must not double-correct counters")
  }

  test("the takedown dl lookup is a bucket-pruned doclens read, never a postings scan") {
    val root = graft.queries.SessionPublish.tempDir("lexdel-prune") + "/idx"
    Retrieval.publishIndex(docs, "doc_id", col("text"), root, buckets = 8)
    val victims = Seq(1L, 9L) // both in db = 1 (id mod 8)
    val dbs = victims.map(math.floorMod(_, 8L)).distinct
    // static scan shape, AQE off (repo-wide pattern, LexIndexSpec)
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans = try {
      Retrieval.doclensLookup(spark, s"$root/doclens", victims, dbs)
        .queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
    assert(scans.nonEmpty)
    val total = spark.read.parquet(s"$root/doclens").select(col("db")).distinct().count()
    assert(scans.forall(_.selectedPartitions.partitionCount <= dbs.size),
      "the lookup must read only the victims' id buckets")
    assert(scans.forall(_.selectedPartitions.partitionCount < total),
      s"must prune: $total doclens buckets exist")
    // and the values agree with the postings-derived truth
    val got = Retrieval.victimDls(spark, root, victims)
    val want = spark.read.parquet(s"$root/postings")
      .filter(col("id").isin(victims: _*))
      .groupBy(col("id")).agg(max(col("dl")).as("dl"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("a post-compact takedown uses the rebuilt doclens and stays exact") {
    val r = graft.queries.SessionPublish.tempDir("lexdel-postcompact")
    var first: Seq[Long] = Nil
    graft.core.Versions.publish(r) { v1 =>
      Retrieval.publishIndex(docs, "doc_id", col("text"), v1, buckets = 8)
      first = Retrieval.searchIndex(spark, v1, terms, 1)
        .select("id").as[Long].collect().toSeq
      Retrieval.deleteDocs(spark, v1, first)
    }
    Retrieval.compactIndexVersioned(spark, r)
    val live = graft.core.Versions.currentPath(r).get
    assert(graft.core.Sidecar.listNames(s"$live/doclens").nonEmpty,
      "compaction must rebuild the doclens sidecar")
    val next = Retrieval.searchIndex(spark, live, terms, 2)
      .select("id").as[Long].collect().toSeq
    Retrieval.deleteDocs(spark, live, next)

    val clean = graft.queries.SessionPublish.tempDir("lexdel-postcompact-clean") + "/idx"
    Retrieval.publishIndex(
      docs.filter(!col("doc_id").isin((first ++ next): _*)),
      "doc_id", col("text"), clean, buckets = 8)
    assert(bm25(live) === bm25(clean),
      "compact-then-delete must equal a republish without all victims")
  }

  test("a streamed-in doc's takedown is bucket-pruned (doclens_stream), pre-compact") {
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val streamed = docs.filter(col("doc_id") % 3 === 0)
    val root = graft.queries.SessionPublish.tempDir("lexdel-streamed") + "/idx"
    Retrieval.publishIndex(base, "doc_id", col("text"), root, buckets = 8)
    val ckpt = graft.queries.SessionPublish.tempDir("lexdel-streamed-ckpt")
    assert(graft.streaming.LexStream.appendBatch(spark, streamed, ckpt, 0L,
      "doc_id", col("text"), root).nonEmpty, "the batch must commit")
    assert(graft.core.Sidecar.listNames(s"$root/doclens_stream").nonEmpty,
      "a committed stream batch must stage its doclens rows")

    // victims are STREAMED ids: their dl lookup must come from the
    // batch-keyed stream sidecar, bucket-pruned — never a postings scan
    val victims = streamed.select("doc_id").as[Long].collect().sorted.take(2).toSeq
    val dbs = victims.map(math.floorMod(_, 8L)).distinct
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val scans = try {
      Retrieval.doclensLookup(spark, s"$root/doclens_stream", victims, dbs)
        .queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
    assert(scans.nonEmpty)
    val total = spark.read.parquet(s"$root/doclens_stream")
      .select(col("db")).distinct().count()
    assert(scans.forall(_.selectedPartitions.partitionCount <= dbs.size),
      "the streamed dl lookup must read only the victims' id buckets")
    assert(scans.forall(_.selectedPartitions.partitionCount < total),
      s"must prune: $total stream doclens buckets exist")
    // and victimDls resolves them from the stream sidecar
    assert(Retrieval.victimDls(spark, root, victims).keySet === victims.toSet)

    // the takedown itself stays exact: delete == republish-without
    Retrieval.deleteDocs(spark, root, victims)
    val clean = graft.queries.SessionPublish.tempDir("lexdel-streamed-clean") + "/idx"
    Retrieval.publishIndex(docs.filter(!col("doc_id").isin(victims: _*)),
      "doc_id", col("text"), clean, buckets = 8)
    assert(bm25(root) === bm25(clean))
  }

  test("zero-token docs survive compaction: their takedown still corrects counters") {
    val empty = Seq((9999991L, "")).toDF("doc_id", "text")
    val corpus = docs.unionByName(empty)
    val r = graft.queries.SessionPublish.tempDir("lexdel-zerotok")
    graft.core.Versions.publish(r) { v1 =>
      Retrieval.publishIndex(corpus, "doc_id", col("text"), v1, buckets = 8)
    }
    Retrieval.compactIndexVersioned(spark, r)
    val live = graft.core.Versions.currentPath(r).get
    val nBefore = Retrieval.readLexMeta(live)("n").toLong
    assert(nBefore === corpus.count(), "publish counts the empty doc in n")
    // pre-fix, the empty doc vanished from the postings-only doclens
    // rebuild and this delete silently no-opped, leaking n
    Retrieval.deleteDocs(spark, live, Seq(9999991L))
    assert(Retrieval.readLexMeta(live)("n").toLong === nBefore - 1,
      "deleting a zero-token doc after a compact must still decrement n")
    val clean = graft.queries.SessionPublish.tempDir("lexdel-zerotok-clean") + "/idx"
    Retrieval.publishIndex(docs, "doc_id", col("text"), clean, buckets = 8)
    assert(bm25(live) === bm25(clean),
      "post-compact delete of the empty doc must equal a republish without it")
  }

  test("every writer keeps doclens ∪ doclens_stream equal to the postings' (id, max dl)") {
    // the takedown dl lookup reads ONLY the two doclens sidecars, so
    // each writer must record exactly the (id, dl) rows its postings hold
    def lens(root: String): Seq[(Long, Long)] =
      Seq(s"$root/doclens", s"$root/doclens_stream")
        .filter(graft.core.Sidecar.listNames(_).nonEmpty)
        .map(spark.read.parquet(_).select(col("id"), col("dl")))
        .reduce(_ unionByName _)
        .as[(Long, Long)].collect().toSeq.sorted
    def postingsLens(root: String): Seq[(Long, Long)] =
      spark.read.parquet(s"$root/postings")
        .groupBy(col("id")).agg(max(col("dl")).as("dl"))
        .as[(Long, Long)].collect().toSeq.sorted
    def check(root: String, step: String): Unit = {
      val (got, want) = (lens(root), postingsLens(root))
      val (missing, extra) = (want.diff(got), got.diff(want))
      assert(want.nonEmpty && missing.isEmpty && extra.isEmpty,
        s"after $step: doclens lacks ${missing.size} rows (${missing.take(3)}), " +
          s"holds ${extra.size} extra (${extra.take(3)})")
    }
    val part = (k: Int) => docs.filter(col("doc_id") % 3 === k)
    val r = graft.queries.SessionPublish.tempDir("lexdel-invariant")
    graft.core.Versions.publish(r) { v1 =>
      Retrieval.publishIndex(part(0), "doc_id", col("text"), v1, buckets = 8)
    }
    val v1 = graft.core.Versions.currentPath(r).get
    check(v1, "publishIndex")
    Retrieval.appendIndex(part(1), "doc_id", col("text"), v1)
    check(v1, "appendIndex")
    val ckpt = graft.queries.SessionPublish.tempDir("lexdel-invariant-ckpt")
    assert(graft.streaming.LexStream.appendBatch(spark, part(2), ckpt, 0L,
      "doc_id", col("text"), v1).nonEmpty, "the batch must commit")
    check(v1, "a LexStream batch")
    Retrieval.compactIndexVersioned(spark, r)
    val v2 = graft.core.Versions.currentPath(r).get
    assert(v2 != v1)
    check(v2, "compactIndexVersioned")
    assert(lens(v2).map(_._1) === docs.select("doc_id").as[Long].collect().toSeq.sorted)
  }

  test("no tombstones -> no anti-join in the read plan") {
    val root = graft.queries.SessionPublish.tempDir("lexdel-plan") + "/idx"
    Retrieval.publishIndex(docs, "doc_id", col("text"), root, buckets = 8)
    val plan = Retrieval.searchIndex(spark, root, terms, 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("LeftAnti"), "tombstone-free reads must stay join-free")
  }
}
