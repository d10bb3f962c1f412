package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.core.Sidecar
import graft.pipeline.{TextOps, Tombstones}

/** Streaming ingestion into a published winnow fingerprint index —
  * the MOSS store's streaming leg, completing its lifecycle parity
  * with the other store families (LexStream postings, LmStream
  * counts, AnnStream vectors, DedupStream bands): publish → streamed
  * O(batch) appends → marker takedowns ([[Tombstones.delete]]
  * works on the streamed layout unchanged) → versioned compaction.
  *
  * Winnowing is per-doc pure ([[TextOps.winnow]] — WinnowIndexSpec
  * pins append ≡ republish), so a streamed batch's fingerprint rows
  * ARE the incremental index append, bit-for-bit; there are no
  * corpus-level counters to maintain (the df cap is a query-time
  * aggregate over the fed view), which makes this the simplest member
  * of the family: one staged table per batch under [[StagedCommit]]'s
  * staged-marker exactly-once protocol, nothing else.
  *
  * Geometry (k, w) is pinned in a sidecar at publish and verified on
  * every append: a batch winnowed with different parameters shares no
  * fingerprints with the standing index — matches silently vanish —
  * so mixing is refused loudly (the DedupStream band-geometry guard,
  * one family over). Batches must be id-disjoint from the published
  * corpus (the append-family contract); single-writer per root,
  * concurrent writers go through [[graft.core.Versions]] roots.
  */
object WinnowStream {

  /** Winnowing geometry, fixed at publish. */
  final case class Params(k: Int = 3, w: Int = 4)

  def indexPath(root: String): String = s"$root/index"
  private def metaPath(root: String)    = s"$root/_winnow_meta.properties"
  private def markerDir(root: String)   = s"$root/_winnow_applied"
  private def stagingDir(root: String)  = s"$root/_winnow_staging"

  /** Publish the store from a base corpus: the (id, pos, fp) index
    * plus the geometry sidecar every append is checked against.
    *
    * A republish over a PREVIOUS store lifetime at the same root
    * clears that lifetime's overlay state first: its tombstone
    * markers (they reference the OLD corpus — left in place they
    * would silently hide same-id docs of the fresh publish from
    * [[live]]) and its applied-batch markers + staging (a stream
    * restarted against the fresh corpus must not skip batches a dead
    * store consumed) — the fail-loud discipline the geometry sidecar
    * guard already follows.
    */
  def publish(docs: DataFrame, idCol: String, text: Column, params: Params,
      root: String): Unit = {
    graft.pipeline.Tombstones.clear(indexPath(root))
    Sidecar.delete(markerDir(root), recursive = true)
    Sidecar.delete(stagingDir(root), recursive = true)
    TextOps.winnow(docs.select(col(idCol).as("id"), text.as("text")),
        "id", col("text"), params.k, params.w)
      .write.mode("overwrite").parquet(indexPath(root))
    Sidecar.writeProps(metaPath(root), Seq(
      "kind" -> "winnow", "k" -> params.k.toString, "w" -> params.w.toString))
  }

  private def checkStore(root: String, params: Params): Unit = {
    val meta = Sidecar.readPropsExpected(metaPath(root)).getOrElse(
      throw new IllegalArgumentException(
        s"no winnow store sidecar at ${metaPath(root)} — publish the base corpus first"))
    require(meta.get("kind").contains("winnow"),
      s"sidecar at $root is kind=${meta.get("kind")}, not a winnow store")
    val want = Map("k" -> params.k.toString, "w" -> params.w.toString)
    val got = want.keys.map(key => key -> meta.getOrElse(key, "?")).toMap
    require(got == want,
      s"winnow store geometry mismatch at $root: published with $got but the append " +
        s"uses $want — fingerprints from different (k, w) never match, so mixed " +
        "geometries silently lose every cross-batch overlap; republish instead")
  }

  /** The staging half of one batch (exposed for the crash-window
    * spec): the batch's fingerprints, deterministic in the batch, so
    * a pre-marker crash restages identically.
    */
  private[graft] def stageBatch(batch: DataFrame, staging: String,
      params: Params): Unit =
    TextOps.winnow(batch, "id", col("text"), params.k, params.w)
      .write.mode("overwrite").parquet(s"$staging/index")

  /** One micro-batch: geometry check, then stage + marker + promote
    * under the exactly-once protocol. Returns the number of
    * fingerprint rows added, or None for a replay.
    */
  def appendBatch(spark: SparkSession, batch: DataFrame, checkpointDir: String,
      batchId: Long, idCol: String, text: Column, params: Params,
      root: String): Option[Long] = {
    checkStore(root, params)
    val b = batch.select(col(idCol).as("id"), text.as("text"))
    StagedCommit.run(markerDir(root), stagingDir(root), root, checkpointDir, batchId) {
      staging =>
        stageBatch(b, staging, params)
        spark.read.parquet(s"$staging/index").count()
    }
  }

  /** Live view of the streamed index: tombstone markers honored, ids
    * under the store's normalized `id` column.
    */
  def live(spark: SparkSession, root: String): DataFrame =
    Tombstones.live(spark, indexPath(root), "id")

  /** Watch `srcDir` for document parquet files and ingest each
    * micro-batch into the store at `root` (published by [[publish]]
    * with the same `params` — the sidecar guard applies). `schema` is
    * the stream's EXPLICIT schema; `checkpointDir` anchors source
    * tracking AND the append markers.
    */
  def ingestDocuments(spark: SparkSession, srcDir: String, schema: StructType,
      idCol: String, textCol: String, params: Params, root: String,
      checkpointDir: String, maxFilesPerTrigger: Option[Int] = None,
      onBatch: (Long, Long) => Unit = (_, _) => ()): StreamingQuery = {
    val rd = spark.readStream.schema(schema)
    val src = maxFilesPerTrigger.fold(rd)(n => rd.option("maxFilesPerTrigger", n))
      .parquet(srcDir)
    src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(spark, batch, checkpointDir, batchId, idCol, col(textCol),
          params, root)
          .foreach(onBatch(batchId, _))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
