package graft

import org.apache.spark.sql.functions._

import graft.core.Sidecar
import graft.pipeline.{TextOps, Tombstones}
import graft.streaming.WinnowStream

/** Streaming winnow-index ingestion: the streamed index equals a
  * one-shot winnow of the union ROW-FOR-ROW (multiset — countDistinct
  * downstream would mask a double-applied batch, so the spec compares
  * raw rows and counts), a writer killed on either side of the marker
  * lands its batch exactly once, geometry drift is refused, and
  * marker takedowns work on the streamed layout.
  */
class WinnowStreamSpec extends GraftSuite {
  import spark.implicits._

  private def docs = graft.sources.Tables(spark, sf001).documents
    .select(col("doc_id"), col("text"))

  private val params = WinnowStream.Params(k = 3, w = 4)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, String)] =
    df.select(col("id"), col("pos"), col("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq.sorted

  private def oneShot(d: org.apache.spark.sql.DataFrame): Seq[(Long, Long, String)] =
    rowsOf(TextOps.winnow(d.select(col("doc_id").as("id"), col("text")),
      "id", col("text"), params.k, params.w))

  test("streamed index == one-shot winnow of the union, row for row") {
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val b1 = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 2 === 0)
    val b2 = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 2 =!= 0)

    val root = java.nio.file.Files.createTempDirectory("winnow-stream").toString + "/store"
    WinnowStream.publish(base, "doc_id", col("text"), params, root)

    val srcDir = java.nio.file.Files.createTempDirectory("winnow-stream-src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("winnow-stream-ckpt").toString
    b1.coalesce(1).write.mode("append").parquet(srcDir)
    b2.coalesce(1).write.mode("append").parquet(srcDir)

    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    WinnowStream.ingestDocuments(spark, srcDir, docs.schema, "doc_id", "text",
        params, root, ckpt, maxFilesPerTrigger = Some(1),
        onBatch = (id, _) => batches.synchronized { batches += id: Unit })
      .awaitTermination()
    assert(batches.toSet == Set(0L, 1L), s"expected two micro-batches, got $batches")

    assert(rowsOf(WinnowStream.live(spark, root)) === oneShot(docs),
      "streamed index must equal the one-shot winnow row-for-row")

    // replay of an applied (checkpoint, id) is a no-op
    assert(WinnowStream.appendBatch(spark, b1, ckpt, 0L, "doc_id", col("text"),
      params, root).isEmpty)
    assert(rowsOf(WinnowStream.live(spark, root)) === oneShot(docs),
      "a replayed batch must not duplicate rows")
  }

  test("a writer killed on either side of the marker lands the batch once") {
    val base = docs.filter(col("doc_id") % 3 =!= 0)
    val batch = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("id"), col("text"))
    val root = java.nio.file.Files.createTempDirectory("winnow-crash").toString + "/store"
    WinnowStream.publish(base, "doc_id", col("text"), params, root)
    val ckpt = java.nio.file.Files.createTempDirectory("winnow-crash-ckpt").toString
    val token = graft.queries.SessionPublish.token(ckpt)

    // CRASH BEFORE MARKER: staged rows invisible; the retry restages
    WinnowStream.stageBatch(batch, s"$root/_winnow_staging/${token}_0", params)
    assert(rowsOf(WinnowStream.live(spark, root)) ===
      oneShot(docs.filter(col("doc_id") % 3 =!= 0)),
      "staged-but-uncommitted rows must be invisible")
    assert(WinnowStream.appendBatch(spark, batch, ckpt, 0L, "id", col("text"),
      params, root).isDefined)
    assert(rowsOf(WinnowStream.live(spark, root)) === oneShot(docs),
      "retry after a pre-marker crash lands the batch exactly once")

    // CRASH AFTER MARKER (before promote): the retry reports a replay
    // but completes the move
    val batch2 = batch.select((col("id") + 900000L).as("id"), col("text"))
    WinnowStream.stageBatch(batch2, s"$root/_winnow_staging/${token}_1", params)
    Sidecar.writeString(s"$root/_winnow_applied/${token}_1", "")
    assert(WinnowStream.appendBatch(spark, batch2, ckpt, 1L, "id", col("text"),
      params, root).isEmpty, "a committed batch reports as a replay")
    assert(!Sidecar.exists(s"$root/_winnow_staging/${token}_1"),
      "recovery drops the staging directory")
    val doubled = docs.unionAll(docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 900000L).as("doc_id"), col("text")))
    assert(rowsOf(WinnowStream.live(spark, root)) === oneShot(doubled),
      "recovery completes the promote exactly once")
  }

  test("geometry drift and a missing sidecar are refused; takedowns work on the streamed layout") {
    val root = java.nio.file.Files.createTempDirectory("winnow-guard").toString + "/store"
    val small = docs.limit(10)
    intercept[IllegalArgumentException](WinnowStream.appendBatch(spark, small,
      "/tmp/nock", 0L, "doc_id", col("text"), params, root))
    WinnowStream.publish(docs, "doc_id", col("text"), params, root)
    intercept[IllegalArgumentException](WinnowStream.appendBatch(spark, small,
      "/tmp/nock", 0L, "doc_id", col("text"), WinnowStream.Params(k = 4, w = 4), root))

    // marker takedown on the streamed layout: live view == survivors
    Tombstones.delete(WinnowStream.indexPath(root),
      docs.filter(col("doc_id") % 7 === 0).select(col("doc_id").as("id")), "id")
    assert(rowsOf(WinnowStream.live(spark, root)) ===
      oneShot(docs.filter(col("doc_id") % 7 =!= 0)),
      "marker takedown must hide exactly the victims' fingerprints")
  }

  test("republishing over a store that had takedowns and streamed batches starts clean") {
    val root = java.nio.file.Files.createTempDirectory("winnow-repub").toString + "/store"
    WinnowStream.publish(docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", col("text"), params, root)
    // previous lifetime: a takedown and a committed stream batch
    Tombstones.delete(WinnowStream.indexPath(root),
      docs.filter(col("doc_id") % 7 === 0).select(col("doc_id").as("id")), "id")
    val ckpt = java.nio.file.Files.createTempDirectory("winnow-repub-ckpt").toString
    assert(WinnowStream.appendBatch(spark, docs.filter(col("doc_id") % 5 === 0),
      ckpt, 0L, "doc_id", col("text"), params, root).nonEmpty)
    assert(Sidecar.listNames(s"$root/_winnow_applied").nonEmpty, "fixture: marker exists")

    // republish the SAME root: the old lifetime's markers must not
    // hide fresh docs or make a restarted stream skip batches
    WinnowStream.publish(docs, "doc_id", col("text"), params, root)
    assert(rowsOf(WinnowStream.live(spark, root)) === oneShot(docs),
      "stale tombstones must not hide freshly republished docs")
    assert(Sidecar.listNames(s"$root/_winnow_applied").isEmpty,
      "stale applied-batch markers must not survive a republish")
  }
}
