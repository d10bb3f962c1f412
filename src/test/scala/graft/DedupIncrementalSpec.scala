package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Tombstones}
import graft.sources.Tables

/** Incremental near-dup mining must equal the full re-mine restricted
  * to pairs involving the new batch — the invariant that lets a 100 TB
  * pipeline band only the daily batch and join the standing band
  * index instead of re-mining the corpus.
  */
class DedupIncrementalSpec extends GraftSuite {

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select("da", "db", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("incremental == full re-mine filtered to batch-involving pairs (real docs)") {
    val docs = Tables(spark, sf0001).documents
    val corpus = docs.filter(col("doc_id") % 7 =!= 3)
    val batch = docs.filter(col("doc_id") % 7 === 3)

    val inc = Dedup.nearDuplicatesIncremental(
      corpus, Dedup.bandTable(corpus, "doc_id", col("text")), batch,
      "doc_id", col("text"), 0.7)

    val full = Dedup.nearDuplicates(docs, "doc_id", col("text"), 0.7)
      .filter(col("da") % 7 === 3 || col("db") % 7 === 3)

    val (gi, gf) = (pairSet(inc), pairSet(full))
    assert(gi == gf, s"incremental=$gi full-filtered=$gf")
    assert(gi.nonEmpty, "split should leave at least one batch-involving pair at sf0.001")
  }

  test("incremental through live tombstone markers == incremental against a survivor republish") {
    val docs = Tables(spark, sf0001).documents
    val corpus0 = docs.filter(col("doc_id") % 7 =!= 3)
    val batch = docs.filter(col("doc_id") % 7 === 3)
    val survivors = corpus0.filter(col("doc_id") % 5 =!= 0)

    // standing layout with LIVE markers (takedown absorbed, no compact)
    val path = graft.queries.SessionPublish.tempDir("bands-marked-inc") + "/bands"
    Dedup.bandTable(corpus0, "doc_id", col("text"))
      .write.mode("overwrite").parquet(path)
    Tombstones.delete(path,
      corpus0.filter(col("doc_id") % 5 === 0).select(col("doc_id")), "doc_id")

    val marked = pairSet(Dedup.nearDuplicatesIncremental(
      survivors, Tombstones.live(spark, path, "id"), batch,
      "doc_id", col("text"), 0.7))
    val republished = pairSet(Dedup.nearDuplicatesIncremental(
      survivors, Dedup.bandTable(survivors, "doc_id", col("text")), batch,
      "doc_id", col("text"), 0.7))
    assert(marked == republished,
      "mining through markers must equal mining against a survivor-only re-band")
    // non-vacuous: the takedown actually removed at least one pair
    val unmarked = pairSet(Dedup.nearDuplicatesIncremental(
      corpus0, Dedup.bandTable(corpus0, "doc_id", col("text")), batch,
      "doc_id", col("text"), 0.7))
    assert(marked != unmarked && marked.subsetOf(unmarked),
      s"expected the markers to remove pairs: marked=${marked.size} unmarked=${unmarked.size}")
  }

  test("batch-batch and batch-corpus pairs surface; corpus-corpus pairs never re-form") {
    val corpus = spark.createDataFrame(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"), // near-dup of 1
      (3L, "completely different content with other words entirely")
    )).toDF("id", "text")
    val batch = spark.createDataFrame(Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // near-dup of 1/2
      (11L, "alpha beta gamma delta epsilon zeta eta kappa"), // near-dup of 10
      (12L, "unrelated batch document about something else plainly")
    )).toDF("id", "text")

    val got = pairSet(Dedup.nearDuplicatesIncremental(
      corpus, Dedup.bandTable(corpus, "id", col("text")), batch,
      "id", col("text"), 0.5))

    assert(got.forall { case (a, b, _) => a >= 10 || b >= 10 },
      s"corpus-corpus pair leaked into $got")
    assert(got.exists { case (a, b, _) => a >= 10 && b >= 10 }, "batch-batch pair missing")
    assert(got.exists { case (a, b, _) => a < 10 && b >= 10 }, "batch-corpus pair missing")
    // and the excluded corpus-corpus pair really is a near-dup the full
    // mine would find — proving the exclusion is deliberate, not recall loss
    val full = pairSet(Dedup.nearDuplicates(
      corpus.unionByName(batch), "id", col("text"), 0.5))
    assert(full.contains((1L, 2L, full.find(p => p._1 == 1L && p._2 == 2L).get._3)))
    assert(got == full.filter { case (a, b, _) => a >= 10 || b >= 10 })
  }

  test("the driver-small path works for non-Long id types") {
    val corpus = spark.createDataFrame(Seq(
      ("a", "alpha beta gamma delta epsilon zeta eta theta"),
      ("b", "completely different content with other words entirely")
    )).toDF("doc", "text")
    val batch = spark.createDataFrame(Seq(
      ("x", "alpha beta gamma delta epsilon zeta eta iota")
    )).toDF("doc", "text")
    val got = Dedup.nearDuplicatesIncremental(
      corpus, Dedup.bandTable(corpus, "doc", col("text")), batch,
      "doc", col("text"), 0.5)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("a", "x")), s"string-id pair mining failed: $got")
  }

  test("small candidate sets push endpoint ids into the corpus parquet scan") {
    val docs = Tables(spark, sf0001).documents
    val corpus = docs.filter(col("doc_id") % 7 =!= 3)
    val batch = docs.filter(col("doc_id") % 7 === 3)
    val inc = Dedup.nearDuplicatesIncremental(
      corpus, Dedup.bandTable(corpus, "doc_id", col("text")), batch,
      "doc_id", col("text"), 0.7)
    // verification must READ the corpus proportionally to the
    // candidates: the collected endpoint ids reach the documents scan
    // as a pushed In filter (row-group pruning), not a post-scan join
    val plan = inc.queryExecution.executedPlan.toString
    assert(plan.contains("In(doc_id, ["),
      s"endpoint ids must be pushed into the scan:\n$plan")

    // above the cap the distributed semi-join path takes over, with
    // identical pairs
    val fallback = Dedup.nearDuplicatesIncremental(
      corpus, Dedup.bandTable(corpus, "doc_id", col("text")), batch,
      "doc_id", col("text"), 0.7, maxDriverPairs = 0)
    assert(!fallback.queryExecution.executedPlan.toString.contains("In(doc_id, ["))
    assert(pairSet(inc) == pairSet(fallback))
  }

  test("incremental EXACT dedup == full canonicalize restricted to the batch, both id orders") {
    import org.apache.spark.sql.functions._
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001").documents
    val corpus = docs.filter(col("doc_id") % 7 =!= 3)
    val batch = docs.filter(col("doc_id") % 7 === 3)
    val idx = graft.pipeline.Dedup.exactIndex(corpus, "doc_id", col("text"))
    val got = graft.pipeline.Dedup.exactDuplicatesIncremental(idx, batch, "doc_id", col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val full = graft.pipeline.Dedup.canonicalize(docs, "doc_id", col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = batch.select(col("doc_id")).collect().map(_.getLong(0))
      .map(id => id -> full(id)).toMap
    assert(got == want, "incremental decision must equal the full re-mine on batch ids")

    // a batch id UNDERCUTTING the standing keeper: the least() fold
    // must pick the batch id, exactly as a full re-mine would
    val c2 = spark.createDataFrame(Seq((10L, "same text"), (11L, "same text"), (12L, "other")))
      .toDF("doc_id", "text")
    val b2 = spark.createDataFrame(Seq((3L, "same text"), (20L, "same text"), (21L, "fresh")))
      .toDF("doc_id", "text")
    val got2 = graft.pipeline.Dedup.exactDuplicatesIncremental(
        graft.pipeline.Dedup.exactIndex(c2, "doc_id", col("text")), b2, "doc_id", col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got2 == Map(3L -> 3L, 20L -> 3L, 21L -> 21L),
      s"batch id 3 undercuts corpus keeper 10 and must win: $got2")
  }

  test("band-table takedown == re-band of the survivors; post-delete mine == survivor mine") {
    val docs = Tables(spark, sf0001).documents
    val tomb = docs.filter(col("doc_id") % 5 === 0)
    val survivors = docs.filter(col("doc_id") % 5 =!= 0)
    def bandRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val deleted = Tombstones.without(
      Dedup.bandTable(docs, "doc_id", col("text")), "id", tomb, "doc_id")
    assert(bandRows(deleted) ===
      bandRows(Dedup.bandTable(survivors, "doc_id", col("text"))),
      "anti-join must equal the from-scratch re-band bit-for-bit")
    val got = pairSet(Dedup.nearDuplicatesFromBands(
      deleted, survivors, "doc_id", col("text"), 0.7))
    val want = pairSet(Dedup.nearDuplicates(survivors, "doc_id", col("text"), 0.7))
    assert(got === want, "mining through the takedown table == survivor re-mine")
    assert(want.nonEmpty, "fixture must actually have surviving near-dup pairs")
  }

  test("exact full-index takedown: keepers fall to the surviving minimum, empty hashes drop") {
    val full = graft.pipeline.Dedup.exactIndexFull(
      spark.createDataFrame(
          Seq((1L, "dup"), (2L, "dup"), (3L, "only-tombstoned"), (4L, "solo")))
        .toDF("doc_id", "text"), "doc_id", col("text"))
    val kept = graft.pipeline.Dedup.exactKeepers(
      Tombstones.without(full, "id",
        spark.createDataFrame(Seq(Tuple1(1L), Tuple1(3L))).toDF("doc_id"), "doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val md5of = (s: String) => java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(kept === Set((md5of("dup"), 1L, 2L), (md5of("solo"), 1L, 4L)),
      s"keeper 1 must fall to 2, hash of doc 3 must vanish: $kept")
  }

  test("exact-index store lifecycle: delete-then-compact == compact-then-delete == survivor reindex") {
    val docs = Tables(spark, sf0001).documents
    val tomb = docs.filter(col("doc_id") % 5 === 0)
    val survivors = docs.filter(col("doc_id") % 5 =!= 0)
    def keepers(df: org.apache.spark.sql.DataFrame) =
      Dedup.exactKeepers(df).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = keepers(Dedup.exactIndexFull(survivors, "doc_id", col("text")))
    assert(want.nonEmpty, "fixture must have surviving content")

    def publishFull(tag: String): String = {
      val r = graft.queries.SessionPublish.tempDir(s"exact-compact-$tag") + "/index"
      graft.core.Versions.publish(r) { v =>
        Dedup.exactIndexFull(docs, "doc_id", col("text"))
          .write.mode("overwrite").parquet(v)
      }
      r
    }

    // order 1: delete (O(batch) tombstone markers) then compact
    val r1 = publishFull("dc")
    Tombstones.delete(graft.core.Versions.currentPath(r1).get, tomb, "doc_id")
    assert(keepers(Tombstones.live(spark, graft.core.Versions.currentPath(r1).get, "id"))
      === want, "pre-compact live read must already equal the survivor reindex")
    Tombstones.compactVersioned(spark, r1)(Tombstones.compact(spark, _, _, "id"))
    val v1 = graft.core.Versions.currentPath(r1).get
    assert(keepers(spark.read.parquet(v1)) === want,
      "delete-then-compact == survivor reindex (bare scan, no anti-join)")
    assert(Tombstones.ids(spark, v1).isEmpty,
      "the compacted layout must start tombstone-free")

    // order 2: compact first (a pure rewrite), then delete (markers pending)
    val r2 = publishFull("cd")
    Tombstones.compactVersioned(spark, r2)(Tombstones.compact(spark, _, _, "id"))
    Tombstones.delete(graft.core.Versions.currentPath(r2).get, tomb, "doc_id")
    assert(keepers(Tombstones.live(spark, graft.core.Versions.currentPath(r2).get, "id"))
      === want, "compact-then-delete == survivor reindex")
  }

  test("band-table store lifecycle: delete + versioned compact == survivor re-band, both orders") {
    val docs = Tables(spark, sf0001).documents
    val tomb = docs.filter(col("doc_id") % 5 === 0)
    val survivors = docs.filter(col("doc_id") % 5 =!= 0)
    def bandRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val want = bandRows(Dedup.bandTable(survivors, "doc_id", col("text")))
    assert(want.nonEmpty)

    def publishBands(tag: String): String = {
      val r = graft.queries.SessionPublish.tempDir(s"bands-compact-$tag") + "/bands"
      graft.core.Versions.publish(r) { v =>
        Dedup.bandTable(docs, "doc_id", col("text")).write.mode("overwrite").parquet(v)
      }
      r
    }

    val r1 = publishBands("dc") // delete then compact
    Tombstones.delete(graft.core.Versions.currentPath(r1).get, tomb, "doc_id")
    assert(bandRows(Tombstones.live(spark, graft.core.Versions.currentPath(r1).get, "id"))
      === want, "pre-compact live view == survivor re-band")
    Tombstones.compactVersioned(spark, r1)(Tombstones.compact(spark, _, _, "id"))
    val v1 = graft.core.Versions.currentPath(r1).get
    assert(bandRows(spark.read.parquet(v1)) === want,
      "delete-then-compact == survivor re-band (bare scan)")
    assert(Tombstones.ids(spark, v1).isEmpty,
      "compacted band layout starts tombstone-free")

    val r2 = publishBands("cd") // compact then delete
    Tombstones.compactVersioned(spark, r2)(Tombstones.compact(spark, _, _, "id"))
    Tombstones.delete(graft.core.Versions.currentPath(r2).get, tomb, "doc_id")
    assert(bandRows(Tombstones.live(spark, graft.core.Versions.currentPath(r2).get, "id"))
      === want, "compact-then-delete == survivor re-band")
  }

  test("CDC: merged chunk index == full republish; incremental == full mine on batch hashes") {
    import graft.pipeline.Cdc
    val docs = Tables(spark, sf0001).documents
    val corpus = docs.filter(col("doc_id") % 5 =!= 2)
    val batch = docs.filter(col("doc_id") % 5 === 2)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    val merged = Cdc.mergeChunkIndex(
      Cdc.chunkIndex(corpus, "doc_id", col("text"), 32),
      Cdc.chunkIndex(batch, "doc_id", col("text"), 32))
    val full = Cdc.chunkIndex(docs, "doc_id", col("text"), 32)
    assert(rows(merged.select(col("chunk_md5"), col("n_copies"), col("n_docs")))
      === rows(full.select(col("chunk_md5"), col("n_copies"), col("n_docs"))))

    val inc = Cdc.sharedChunksIncremental(
      Cdc.chunkIndex(corpus, "doc_id", col("text"), 32), batch, "doc_id", col("text"), 32)
    val batchHashes = Cdc.chunks(batch, "doc_id", col("text"), 32)
      .select(col("chunk_md5")).distinct()
    val fullShared = Cdc.sharedChunks(docs, "doc_id", col("text"), 32)
      .join(batchHashes, Seq("chunk_md5"), "left_semi")
    assert(rows(inc.select(col("chunk_md5"), col("n_copies"), col("n_docs")))
      === rows(fullShared.select(col("chunk_md5"), col("n_copies"), col("n_docs"))))
  }
}
