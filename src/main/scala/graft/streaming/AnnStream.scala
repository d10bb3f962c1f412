package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.core.Sidecar
import graft.pipeline.Ivf

/** Streaming ANN ingestion: micro-batches of embeddings append into a
  * published cell-partitioned IVF layout with FROZEN centroids —
  * `foreachBatch` → staged [[Ivf.stagePartitioned]] + marker +
  * [[Ivf.promoteStaged]], the streaming leg of the O(batch) ingestion
  * story (graph deltas: [[EventStream]]; text bands / embed buckets:
  * the incremental miners). Per micro-batch cost is O(batch); probes
  * see appended vectors on their next partition listing; each batch's
  * [[Ivf.IvfDrift]] feeds `onDrift` so a monitor can trigger retrain +
  * republish.
  *
  * Exactly-once commit protocol (appends cannot be replayed by
  * overwrite the way the batch-id-keyed delta sinks can — the
  * layout's cell directories are shared):
  *
  *  1. the batch's cell-partitioned files are written to a private
  *     staging dir (`_ivf_staging/<key>/`) — invisible to probes;
  *  2. a per-key marker file (`_ivf_applied/<key>`) is created by
  *     atomic rename — THE commit point;
  *  3. staged files move into the live cell directories (atomic
  *     per-file renames) and staging is dropped.
  *
  * A crash before 2 leaves only staged files: the retry re-stages
  * (overwrite) and commits — nothing was visible, nothing duplicates.
  * A crash after 2 leaves marker + staged files: the retry (or the
  * next run's replay check) finishes the move — renames are
  * resumable, already-moved files are gone from staging. So the batch
  * lands exactly once whichever side of the marker the writer died on
  * (AnnStreamSpec kills the writer on both sides and counts rows).
  *
  * Batch ids are only meaningful relative to a checkpoint — a
  * checkpoint-less query restarts them at 0, and a bare-id marker
  * would then silently DROP never-seen data whose batch id collides
  * with an applied one — so `checkpointDir` is REQUIRED and the
  * marker is keyed by (checkpoint, batchId). Two writers with
  * different checkpoints appending to one layout dedupe independently
  * (their batch id spaces are unrelated) and cannot corrupt each
  * other's markers: each key is its own file, written by atomic
  * rename, and the replay check reads ONLY its own key — no
  * read-modify-write of a shared file, no full-file reread per batch.
  * All marker/staging I/O goes through [[graft.core.Sidecar]] (Hadoop
  * FileSystem API), so hdfs:// / s3a:// layouts work like file:.
  */
object AnnStream {

  private def markerDir(layout: String)  = s"$layout/_ivf_applied"
  private def stagingDir(layout: String) = s"$layout/_ivf_staging"

  /** (checkpoint-token, batch-id) keys already appended to the layout:
    * one per `_ivf_applied/` marker file.
    */
  def appliedBatches(layout: String): Set[String] =
    Sidecar.listNames(markerDir(layout)).map(StagedCommit.fileToKey).toSet

  /** The staged commit protocol, layout-kind-agnostic: `stage` writes
    * the batch's cell-partitioned files into the given staging dir
    * (invisible); the marker then commits, and the promote makes the
    * files live. Both the raw-vector and the PQ-codes append run
    * through this one implementation — the crash-window analysis
    * above holds for any stager that writes `cell=N/` subdirs.
    */
  private def committed[A](layoutPath: String, checkpointDir: String,
      batchId: Long)(stage: String => A): Option[A] =
    StagedCommit.run(markerDir(layoutPath), stagingDir(layoutPath), layoutPath,
      checkpointDir, batchId)(stage)

  /** One micro-batch under the staged commit protocol above. Returns
    * the drift report, or None for a replay — including the
    * crashed-after-marker case, where the retry's only job is to
    * finish moving the staged files in (the drift was observable in
    * the crashed attempt; recomputing it here would re-scan the batch
    * for a number nobody is waiting on).
    */
  def appendBatch(batch: org.apache.spark.sql.DataFrame, checkpointDir: String,
      batchId: Long, vecCol: String, index: Ivf.IvfIndex,
      layoutPath: String): Option[Ivf.IvfDrift] =
    committed(layoutPath, checkpointDir, batchId) { staging =>
      Ivf.stagePartitioned(batch, vecCol, index, layoutPath, staging)
    }

  /** [[appendBatch]] for the COMPRESSED tier: the batch is encoded
    * (frozen coarse centroids + codebooks, geometry/kind verified
    * against the sidecar) and its 8-byte codes land in the published
    * IVF-PQ layout under the same exactly-once protocol. Returns the
    * quantization-drift report ([[graft.pipeline.Pq.PqDrift]]) — the
    * retrain trigger for stale codebooks.
    */
  def appendBatchPq(batch: org.apache.spark.sql.DataFrame, checkpointDir: String,
      batchId: Long, idCol: String, vecCol: String, coarse: Ivf.IvfIndex,
      index: graft.pipeline.Pq.PqIndex, layoutPath: String,
      residual: Boolean = false): Option[graft.pipeline.Pq.PqDrift] =
    committed(layoutPath, checkpointDir, batchId) { staging =>
      graft.pipeline.Pq.stagePartitionedPq(batch, idCol, vecCol, coarse, index,
        layoutPath, staging, residual)
    }

  /** [[appendBatch]] for the SQ8 tier: the batch is scalar-quantized
    * (frozen per-dim ranges + coarse centroids, geometry verified
    * against the sidecar) and its dim-byte codes land in the published
    * IVF-SQ layout under the same exactly-once protocol — the third
    * leg of the streaming ingestion story (raw, PQ, SQ).
    */
  def appendBatchSq(batch: org.apache.spark.sql.DataFrame, checkpointDir: String,
      batchId: Long, idCol: String, vecCol: String, coarse: Ivf.IvfIndex,
      index: graft.pipeline.Sq.SqIndex,
      layoutPath: String): Option[graft.pipeline.Pq.PqDrift] =
    committed(layoutPath, checkpointDir, batchId) { staging =>
      graft.pipeline.Sq.stagePartitionedSq(batch, idCol, vecCol, coarse, index,
        layoutPath, staging)
    }

  /** Watch `srcDir` for embedding parquet files and append each
    * micro-batch into the layout at `layoutPath` (published by
    * [[Ivf.writePartitioned]] with `index` — the sidecar fingerprint
    * guard applies). `schema` is the stream's EXPLICIT schema — the
    * caller knows what it publishes; inferring from whatever file's
    * footer happens to be listed first would make a mixed-type column
    * a nondeterministic failure. Columns must include `vecCol`.
    * `checkpointDir` anchors both Structured Streaming's source
    * tracking and the append markers (see the idempotency note above).
    */
  def appendEmbeddings(spark: SparkSession, srcDir: String, schema: StructType,
      vecCol: String, index: Ivf.IvfIndex, layoutPath: String, checkpointDir: String,
      onDrift: (Long, Ivf.IvfDrift) => Unit = (_, _) => ()): StreamingQuery = {
    val src = spark.readStream.schema(schema).parquet(srcDir)
    src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        appendBatch(batch, checkpointDir, batchId, vecCol, index, layoutPath)
          .foreach(onDrift(batchId, _))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** [[appendEmbeddings]] into a published IVF-PQ layout: micro-batches
    * are encoded with the frozen indexes and appended as codes —
    * streaming ingestion for the compressed tier, same explicit
    * schema, same marker-keyed exactly-once commit.
    */
  def appendEmbeddingsPq(spark: SparkSession, srcDir: String, schema: StructType,
      idCol: String, vecCol: String, coarse: Ivf.IvfIndex,
      index: graft.pipeline.Pq.PqIndex, layoutPath: String, checkpointDir: String,
      residual: Boolean = false,
      onDrift: (Long, graft.pipeline.Pq.PqDrift) => Unit = (_, _) => ()): StreamingQuery = {
    val src = spark.readStream.schema(schema).parquet(srcDir)
    src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        appendBatchPq(batch, checkpointDir, batchId, idCol, vecCol, coarse, index,
          layoutPath, residual)
          .foreach(onDrift(batchId, _))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** [[appendEmbeddings]] into a published IVF-SQ layout: micro-batches
    * are scalar-quantized with the frozen geometry and appended as
    * dim-byte codes — streaming ingestion for the 4x tier, same
    * explicit schema, same marker-keyed exactly-once commit.
    */
  def appendEmbeddingsSq(spark: SparkSession, srcDir: String, schema: StructType,
      idCol: String, vecCol: String, coarse: Ivf.IvfIndex,
      index: graft.pipeline.Sq.SqIndex, layoutPath: String, checkpointDir: String,
      onDrift: (Long, graft.pipeline.Pq.PqDrift) => Unit = (_, _) => ()): StreamingQuery = {
    val src = spark.readStream.schema(schema).parquet(srcDir)
    src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        appendBatchSq(batch, checkpointDir, batchId, idCol, vecCol, coarse, index,
          layoutPath)
          .foreach(onDrift(batchId, _))
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
