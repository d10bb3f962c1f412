package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.pipeline.{Retrieval, TextOps}

/** Streaming ingestion into the published inverted index
  * ([[Retrieval.publishIndex]]) — the lexical member of the streaming
  * append family (AnnStream raw/PQ/SQ, DedupStream), under the same
  * [[StagedCommit]] staged-marker exactly-once protocol.
  *
  * Postings stage as `tb=<bucket>/` directories and promote into the
  * live postings root with atomic per-file renames. Corpus counters
  * (n, Σdl) cannot ride the in-place sidecar (a replayed bump would
  * double-count), so each batch writes ONE batch-keyed counter-delta
  * file after its promote: the filename is the (checkpoint, batch)
  * key and the content is deterministic in the batch, so replays
  * overwrite the same file with the same bytes — idempotent by
  * construction. The write runs on the replay path too, healing a
  * crash between promote and counter write. [[Retrieval.readLexMeta]]
  * folds the deltas into the base sidecar at read time (exact longs,
  * order-free), so a streamed index scores bit-identically to a batch
  * republish of the union — the [[Retrieval.appendIndex]] contract,
  * LexStreamSpec-pinned. A republish folds counters away. The
  * batch's (id, dl) doclens rows land under the same batch-keyed
  * discipline ([[Retrieval.doclensStreamDir]]), so takedowns of
  * streamed-in docs stay bucket-pruned ([[Retrieval.victimDls]]);
  * a compact folds the trees into the rebuilt base sidecar.
  *
  * Batches must be id-disjoint from the published corpus (the
  * append-family contract); single-writer per root, concurrent
  * writers go through a versioned root ([[graft.core.Versions]]).
  */
object LexStream {

  private def markerDir(root: String) = s"$root/_lex_applied"
  private def stagingDir(root: String) = s"$root/_lex_staging"

  /** The staging half of one batch (exposed for the crash-window
    * spec): the batch's postings, bucketed like the published layout.
    */
  private[graft] def stageBatch(batch: DataFrame, staging: String,
      buckets: Int): Unit =
    Retrieval.allPostings(batch, "id", col("text"))
      .withColumn("tb", Retrieval.tokenBucketCol(col("token"), buckets))
      .repartition(col("tb"))
      .sortWithinPartitions(col("tb"), col("token"))
      .write.mode("overwrite").partitionBy("tb").parquet(staging)

  /** One micro-batch: stage + marker + promote + counter delta.
    * Returns (docs, tokens) added, or None for a replay.
    *
    * Runs under the store's maintenance lock
    * ([[graft.core.MaintLock]]): a streamed batch landing inside a
    * [[Retrieval.compactIndexVersioned]] window would promote into
    * the OLD version after its snapshot — marked applied in the
    * checkpoint, absent from the flipped store, silently lost. With
    * the lock the batch raises StoreBusy instead; the stream's retry
    * after the flip re-appends it against the new version (markers
    * are per-version, so the replay guard does not skip it).
    */
  def appendBatch(spark: SparkSession, batch: DataFrame, checkpointDir: String,
      batchId: Long, idCol: String, text: Column, root: String): Option[(Long, Long)] =
    graft.core.MaintLock.withLock(root, "LexStream.appendBatch") {
      appendBatchLocked(spark, batch, checkpointDir, batchId, idCol, text, root)
    }

  private def appendBatchLocked(spark: SparkSession, batch: DataFrame,
      checkpointDir: String, batchId: Long, idCol: String, text: Column,
      root: String): Option[(Long, Long)] = {
    val meta = Retrieval.readLexMeta(root)
    val buckets = meta("buckets").toInt
    val b = batch.select(col(idCol).as("id"), text.as("text"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val st = b.agg(count(lit(1)),
        sum(size(TextOps.tokens(col("text"))).cast("long"))).head()
      val dn = st.getLong(0)
      val ddl = if (st.isNullAt(1)) 0L else st.getLong(1)
      val res = StagedCommit.run(markerDir(root), stagingDir(root),
          Retrieval.postingsPath(root), checkpointDir, batchId) { staging =>
        stageBatch(b, staging, buckets)
        (dn, ddl)
      }
      // after the promote on BOTH paths: batch-keyed, deterministic,
      // atomic rename — replays rewrite identical bytes
      val keyFile = StagedCommit.keyToFile(StagedCommit.batchKey(checkpointDir, batchId))
      // (id, dl) doclens rows for the batch, under a batch-keyed tree
      // (`bk=<key>/db=<id bucket>/`): a replay OVERWRITES the same
      // directory with the same bytes — idempotent like the counter
      // file — and the db partitioning keeps takedown dl lookups of
      // streamed-in docs bucket-pruned (Retrieval.victimDls), which
      // read only the doclens sidecars: a streamed doc whose rows are
      // missing here could not be taken down
      // (an all-empty batch writes nothing: a bk tree holding zero
      // parquet files would break schema inference on the stream root)
      if (dn > 0)
        b.select(col("id").cast("long").as("id"),
            size(TextOps.tokens(col("text"))).cast("long").as("dl"))
          .withColumn("db", pmod(col("id"), lit(buckets.toLong)))
          .repartition(col("db"))
          .write.mode("overwrite").partitionBy("db")
          .parquet(s"${Retrieval.doclensStreamDir(root)}/bk=$keyFile")
      graft.core.Sidecar.writeString(s"${Retrieval.countersDir(root)}/$keyFile",
        s"n=$dn\nsum_dl=$ddl\n")
      res
    } finally { b.unpersist(blocking = false): Unit }
  }

  /** Watch `srcDir` for document parquet and ingest each micro-batch
    * into the index at `root`. `schema` is the stream's explicit
    * schema; `checkpointDir` anchors source tracking AND the append
    * markers.
    */
  def ingestDocuments(spark: SparkSession, srcDir: String, schema: StructType,
      idCol: String, textCol: String, root: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      onBatch: (Long, (Long, Long)) => Unit = (_, _) => ()): StreamingQuery = {
    val rd = spark.readStream.schema(schema)
    val src = maxFilesPerTrigger.fold(rd)(n => rd.option("maxFilesPerTrigger", n))
      .parquet(srcDir)
    src.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(spark, batch, checkpointDir, batchId, idCol, col(textCol), root)
          .foreach(onBatch(batchId, _))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
