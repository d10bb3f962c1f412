package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{TextOps, Tombstones}

/** Winnowing fingerprint index lifecycle (TextOps.winnow /
  * winnowMatches / winnowOverlapPairs): per-doc purity makes the
  * incremental append exactly the republish; matching is df-capped
  * and position-evidenced (the MOSS read path).
  */
class WinnowIndexSpec extends GraftSuite {
  import spark.implicits._

  // doc 1 and 2 share an 8-token run (>= w+k-1 = 6 guarantees a shared
  // fingerprint); doc 3 is unrelated; doc 4 repeats 1's run verbatim
  private val shared = "alpha beta gamma delta epsilon zeta eta theta"
  private def corpus = Seq(
    (1L, s"intro words here $shared tail one"),
    (2L, s"$shared completely different ending tokens"),
    (3L, "nothing in common with anything else at all whatsoever today")
  ).toDF("doc_id", "text")
  private def batch = Seq(
    (10L, s"prefix $shared suffix"),
    (11L, "unrelated batch document with its own private vocabulary")
  ).toDF("doc_id", "text")

  test("incremental append equals republish (winnowing is per-doc pure)") {
    val full = TextOps.winnow(corpus.unionAll(batch), "doc_id", col("text"), k = 3, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val appended = TextOps.winnow(corpus, "doc_id", col("text"), k = 3, w = 4)
      .unionAll(TextOps.winnow(batch, "doc_id", col("text"), k = 3, w = 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(appended === full, "appending batch fingerprints must equal a full republish")
  }

  test("winnowMatches: shared runs surface with position evidence, unrelated docs do not") {
    val index = TextOps.winnow(corpus, "doc_id", col("text"), k = 3, w = 4)
    val got = TextOps.winnowMatches(index, batch, "doc_id", col("text"),
      k = 3, w = 4, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    assert(got.keySet === Set((10L, 1L), (10L, 2L)),
      s"batch doc 10 shares the run with corpus docs 1 and 2 only: $got")
    got.foreach { case (_, (nShared, bPos, cPos)) =>
      assert(nShared >= 2 && bPos >= 1 && cPos >= 1)
    }
    // guaranteed-detection property: the shared run is >= w+k-1 tokens
    assert(got((10L, 1L))._1 >= 1)
  }

  test("the df cap drops over-common fingerprints at match time, index unchanged") {
    // every corpus doc carries the same boilerplate run -> its
    // fingerprints have df = 3 and a cap of 2 suppresses them
    val boiler = Seq(
      (1L, s"$shared one"), (2L, s"$shared two"), (3L, s"$shared three")
    ).toDF("doc_id", "text")
    val index = TextOps.winnow(boiler, "doc_id", col("text"), k = 3, w = 4)
    val b = Seq((20L, s"$shared probe")).toDF("doc_id", "text")
    val capped = TextOps.winnowMatches(index, b, "doc_id", col("text"),
      k = 3, w = 4, minShared = 1, maxDf = 2).collect()
    val uncapped = TextOps.winnowMatches(index, b, "doc_id", col("text"),
      k = 3, w = 4, minShared = 1, maxDf = 1000).collect()
    assert(uncapped.nonEmpty, "without the cap the boilerplate matches everything")
    assert(capped.length < uncapped.length,
      "df-capped matching must suppress fingerprints common to every corpus doc")
  }

  test("winnowOverlapPairs mines the corpus-wide pair set off one index") {
    val index = TextOps.winnow(corpus, "doc_id", col("text"), k = 3, w = 4)
    val pairs = TextOps.winnowOverlapPairs(index, "doc_id", minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)), s"only docs 1 and 2 share a run: $pairs")
  }

  test("winnowDelete is exactly a republish without the tombstoned docs; capped fps resurface") {
    // 4 docs carry the boilerplate run; with maxDf = 3 its fingerprints
    // are suppressed — until a takedown of doc 4 drops the df to 3 and
    // they RESURFACE (the cap recomputes over survivors)
    val docs = Seq(
      (1L, s"$shared one"), (2L, s"$shared two"), (3L, s"$shared three"),
      (4L, s"$shared four"), (9L, "totally unrelated content words here")
    ).toDF("doc_id", "text")
    val index = TextOps.winnow(docs, "doc_id", col("text"), k = 3, w = 4)
    val tomb = Seq(Tuple1(4L)).toDF("doc_id")
    val pruned = Tombstones.without(index, "doc_id", tomb, "doc_id")
    // delete == republish (per-doc purity), bit-for-bit
    val republished = TextOps.winnow(docs.filter(col("doc_id") =!= 4L), "doc_id",
      col("text"), k = 3, w = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(rows(pruned) === rows(republished))
    // before the takedown the boilerplate (df = 4 > 3) yields no pairs;
    // after (df = 3 <= 3) the surviving trio pairs up
    def pairs(idx: org.apache.spark.sql.DataFrame) =
      TextOps.winnowOverlapPairs(idx, "doc_id", minShared = 1, maxDf = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(index) === Set.empty, "over-common fps must be suppressed pre-takedown")
    assert(pairs(pruned) === Set((1L, 2L), (1L, 3L), (2L, 3L)),
      "the df cap must recompute over survivors after a takedown")
  }

  test("winnow store lifecycle: delete-then-compact == compact-then-delete == survivor re-winnow") {
    val all = corpus.unionAll(batch)
    val victims = Seq(2L, 10L)
    val want = TextOps.winnow(all.filter(!col("doc_id").isin(victims: _*)),
      "doc_id", col("text"), k = 3, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

    def readSet(path: String): Set[(Long, Long, String)] =
      Tombstones.live(spark, path, "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

    def freshRoot(tag: String): String = {
      val r = graft.queries.SessionPublish.tempDir(s"winnow-store-$tag") + "/index"
      graft.core.Versions.publish(r) { v1 =>
        TextOps.winnow(all, "doc_id", col("text"), k = 3, w = 4)
          .write.mode("overwrite").parquet(v1)
      }
      r
    }

    // order 1: marker delete, pre-compact live view already correct,
    // then versioned compact purges rows + markers
    val r1 = freshRoot("dc")
    Tombstones.delete(graft.core.Versions.currentPath(r1).get,
      victims.toDF("doc_id"), "doc_id")
    assert(readSet(graft.core.Versions.currentPath(r1).get) === want,
      "pre-compact live view must equal the survivor re-winnow")
    Tombstones.compactVersioned(spark, r1)(Tombstones.compact(spark, _, _, "doc_id"))
    val live1 = graft.core.Versions.currentPath(r1).get
    assert(readSet(live1) === want, "delete-then-compact == survivor re-winnow")
    assert(!graft.core.Sidecar.exists(s"$live1/_tombstones"),
      "the compacted layout must start tombstone-free")

    // order 2: compact first (pure rewrite), then marker delete
    val r2 = freshRoot("cd")
    Tombstones.compactVersioned(spark, r2)(Tombstones.compact(spark, _, _, "doc_id"))
    Tombstones.delete(graft.core.Versions.currentPath(r2).get,
      victims.toDF("doc_id"), "doc_id")
    assert(readSet(graft.core.Versions.currentPath(r2).get) === want,
      "compact-then-delete == survivor re-winnow")
  }

  test("maxDfPermille: the cap tracks the corpus fraction, not an absolute row count") {
    // 10 docs, 6 of which carry the boilerplate run (df = 6): an
    // absolute cap of 1000 passes it at ANY corpus size, while 500‰
    // means "more than half the corpus is boilerplate" at every scale
    val docs = ((1L to 6L).map(i => (i, s"$shared filler$i body$i")) ++
      (7L to 10L).map(i => (i, s"private vocabulary document number$i token$i words$i here$i")))
      .toDF("doc_id", "text")
    val index = TextOps.winnow(docs, "doc_id", col("text"), k = 3, w = 4)
    def pairs(permille: Option[Int], maxDf: Int = 1000) =
      TextOps.winnowOverlapPairs(index, "doc_id", minShared = 1,
        maxDf = maxDf, maxDfPermille = permille)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 500‰ of 10 docs = cap 5 < df 6: the boilerplate pairs vanish
    assert(pairs(Some(500)) === Set.empty,
      "fingerprints in >permille of the corpus must be suppressed")
    // 700‰ = cap 7 >= 6: identical to the absolute default
    assert(pairs(Some(700)) === pairs(None) && pairs(None).nonEmpty,
      "a permille cap above the observed df must change nothing")
    // the permille path on winnowMatches agrees with its absolute twin
    val b = Seq((20L, s"$shared probe")).toDF("doc_id", "text")
    val viaPermille = TextOps.winnowMatches(index, b, "doc_id", col("text"),
      k = 3, w = 4, minShared = 1, maxDfPermille = Some(500))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaAbsolute = TextOps.winnowMatches(index, b, "doc_id", col("text"),
      k = 3, w = 4, minShared = 1, maxDf = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPermille === viaAbsolute)
    intercept[IllegalArgumentException](
      TextOps.winnowOverlapPairs(index, "doc_id", maxDfPermille = Some(0)))
  }
}
