package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Content-defined chunking (rolling-hash CDC — the Rabin-style
  * boundary scheme behind LBFS/rsync-class dedup; public knowledge).
  * A position is a chunk boundary when the polynomial hash of the
  * last [[W]] characters hits 0 mod the target chunk size, so
  * boundaries are a function of LOCAL content only: insert or delete
  * text anywhere and every boundary more than one window past the
  * edit stays put — fixed-size chunking re-shifts everything, CDC
  * re-chunks only the edited neighborhood (shift resistance is
  * spec-pinned, and the cross-doc sharing gate is the payoff:
  * identical phrases in different documents yield identical chunk
  * hashes).
  *
  * This is the BASIC stateless scheme: no min/max chunk clamps —
  * those make each boundary depend on the previous one (a sequential
  * scan), where the stateless predicate is embarrassingly parallel:
  * every position evaluates one 8-term integer polynomial at scan
  * speed, and the only non-map work is a doc-partitioned window to
  * number the chunks. Exact integer arithmetic end-to-end, so the
  * DuckDB oracle re-derives every boundary bit-for-bit.
  */
object Cdc {

  /** Rolling window width (chars) and polynomial base/modulus. */
  val W = 8
  val Base = 31L
  val Mod: Long = 1L << 20

  private val pows: Seq[Long] =
    Iterator.iterate(1L)(_ * Base).take(W).toSeq

  /** Chunk every document: returns (idCol, chunk_idx, start, n_chars,
    * chunk_md5) with 1-based char offsets; `avgChunk` is the expected
    * chunk length (boundary probability 1/avgChunk per position). The
    * end of each document is always a boundary, so chunks tile the
    * text exactly.
    *
    * The boundary scan is ONE codegen'd expression
    * ([[graft.functions.CdcBoundaries]]: decode code point, roll the
    * window, 8 multiply-adds, two mods per character) and the only
    * row amplification is one explode per CHUNK. No window, no
    * distinct, no self-join — a pure per-document map until the
    * caller aggregates. History of this line at sf0.1: 10.7 s as
    * per-position explode + window, 2.7 s as `transform`/`filter`
    * higher-order functions (interpreted lambdas), now sub-second as
    * a native expression; [[graft.CdcSpec]] pins the HOF form and the
    * expression bit-identical.
    */
  def chunks(docs: DataFrame, idCol: String, text: Column, avgChunk: Int): DataFrame = {
    require(avgChunk >= 1, s"avgChunk must be >= 1, got $avgChunk")
    graft.functions.CdcBoundaries.register(docs.sparkSession)
    val d = docs.select(col(idCol), text.as("__t")).where(length(col("__t")) > 0)
    val t = col("__t")
    chunksFromBoundaries(d, idCol, t,
      graft.functions.CdcBoundaries.col(t, lit(avgChunk)))
  }

  /** The legacy higher-order-function boundary scan — semantically
    * identical to [[chunks]] (CdcSpec pins bit-equality), kept as the
    * executable specification of the codegen expression.
    */
  private[graft] def chunksHof(docs: DataFrame, idCol: String, text: Column,
      avgChunk: Int): DataFrame = {
    require(avgChunk >= 1, s"avgChunk must be >= 1, got $avgChunk")
    val d = docs.select(col(idCol), text.as("__t")).where(length(col("__t")) > 0)
    val t = col("__t")
    val cs = col("__cs")
    def hash(i: Column): Column =
      pows.zipWithIndex.map { case (p, j) => element_at(cs, i - j) * p }
        .reduce(_ + _) % Mod
    val b0 = col("__b0")
    val withBs = d
      // char-code array, once per document
      .withColumn("__cs",
        transform(sequence(lit(1), length(t)), i => ascii(t.substr(i, lit(1))).cast("long")))
      // interior boundaries: one filter lambda over the positions
      .withColumn("__b0",
        filter(
          when(length(t) >= W, sequence(lit(W), length(t)))
            .otherwise(array().cast("array<int>")),
          i => hash(i) % avgChunk === 0))
      // the end of the text is always a boundary (exactly once)
      .withColumn("__bs",
        when(size(b0) > 0 && element_at(b0, size(b0)) === length(t), b0)
          .otherwise(concat(b0, array(length(t)))))
    chunksFromBoundaries(withBs, idCol, t, col("__bs"))
  }

  /** Boundary array -> one row per chunk with offsets and content
    * hash (shared tail of [[chunks]] and [[chunksHof]]).
    */
  private def chunksFromBoundaries(d: DataFrame, idCol: String, t: Column,
      bs: Column): DataFrame = {
    val bsC = col("__bsx")
    d.withColumn("__bsx", bs)
      // the ONLY row amplification: one row per chunk
      .withColumn("__ext",
        explode(transform(sequence(lit(1), size(bsC)), k =>
          struct(
            k.as("idx"),
            (when(k === 1, lit(0)).otherwise(element_at(bsC, k - 1)) + 1).as("s"),
            element_at(bsC, k).as("e")))))
      .select(col(idCol),
        col("__ext.idx").cast("long").as("chunk_idx"),
        col("__ext.s").cast("long").as("start"),
        (col("__ext.e") - col("__ext.s") + 1).cast("long").as("n_chars"),
        md5(t.substr(col("__ext.s"), col("__ext.e") - col("__ext.s") + 1)).as("chunk_md5"))
  }

  /** Cross-document chunk-level exact dedup: chunks whose content
    * occurs more than once in the corpus, with copy and document
    * counts — the sub-document sharing CDC boundaries exist to
    * expose. One groupBy on the (short) chunk hash.
    */
  def sharedChunks(docs: DataFrame, idCol: String, text: Column,
      avgChunk: Int): DataFrame =
    chunks(docs, idCol, text, avgChunk)
      .groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col(idCol)).as("n_docs"))
      .filter(col("n_copies") >= 2)

  /** Published chunk-hash index: one narrow row per DISTINCT chunk
    * content — `(chunk_md5, n_copies, n_docs)`. This is what persists
    * between ingestion batches at 100 TB (the [[Dedup.exactIndex]]
    * shape at sub-document granularity): ~48 bytes per distinct
    * chunk, and the corpus text never re-reads. Counts are ADDITIVE,
    * so maintenance is [[mergeChunkIndex]] — append a batch's index
    * and sum, bit-identical to a full republish (the engine's
    * incremental exactness contract).
    */
  def chunkIndex(docs: DataFrame, idCol: String, text: Column,
      avgChunk: Int): DataFrame =
    chunks(docs, idCol, text, avgChunk)
      .groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("n_copies"),
        countDistinct(col(idCol)).as("n_docs"))

  /** Takedown on the published chunk-hash index: fold the tombstoned
    * documents' own [[chunkIndex]] back in NEGATED and drop rows that
    * zero out. Both counts subtract exactly — `n_copies` is a plain
    * sum, and `n_docs` is distinct-doc counts over a PARTITION of the
    * corpus (tombstoned ⊆ indexed, each doc counted once on each
    * side) — so the survivors equal `chunkIndex(corpus \ tombstoned)`
    * bit-for-bit (`q_dedup_cdc_delete` gates this). O(index +
    * tombstone batch): the corpus text never re-reads; only the
    * removed documents re-chunk. Caller contract: `tombstoned`
    * carries the removed documents' text exactly as previously
    * indexed — and a violation fails LOUD: a negative post-merge
    * count is impossible under the contract, so both counts pass through
    * [[CountGuard]] (raise, never a silent drop/under-count).
    * PERSISTENCE note: this computes in O(index + batch) but the
    * caller must republish the merged index to keep it — for a
    * standing artifact use the negated-append store
    * ([[publishChunkStore]]/[[deleteFromChunkStore]]), whose takedown
    * WRITES only O(batch).
    */
  def deleteFromChunkIndex(index: DataFrame, tombstoned: DataFrame,
      idCol: String, text: Column, avgChunk: Int): DataFrame =
    mergeChunkIndex(index,
      chunkIndex(tombstoned, idCol, text, avgChunk)
        .select(col("chunk_md5"),
          (-col("n_copies")).as("n_copies"), (-col("n_docs")).as("n_docs")))
      .filter(CountGuard.positive(col("n_copies"), "chunk n_copies"))
      .select(col("chunk_md5"), col("n_copies"),
        CountGuard.nonNegative(col("n_docs"), "chunk n_docs").as("n_docs"))

  /** Fold a batch's [[chunkIndex]] into the standing index: additive
    * integer sums, O(index + batch) — never the corpus.
    */
  def mergeChunkIndex(index: DataFrame, batchIndex: DataFrame): DataFrame =
    index.unionByName(batchIndex)
      .groupBy(col("chunk_md5"))
      .agg(sum(col("n_copies")).as("n_copies"), sum(col("n_docs")).as("n_docs"))

  // --------------------------------------------------------------
  // Published chunk-hash STORE — the negated-append tier
  // ([[graft.pipeline.LmIndex]]'s pattern at chunk granularity).
  // The plan-level [[deleteFromChunkIndex]] computes in O(batch) but
  // its caller must REWRITE the merged index to persist the result —
  // an O(index) republish per takedown. The store instead persists
  // segments: appends and deletes each write only their own batch's
  // rows (deletes NEGATED), and the read side merges with one
  // sum-groupBy — the aggregation [[deleteFromChunkIndex]] paid per
  // takedown, now paid per READ and folded away by compaction. Counts
  // are exact longs; zeroed rows drop at read; negative merged counts
  // (a contract violation: deleting never-indexed text, or twice)
  // fail loud through [[CountGuard]].
  //
  // Contracts, same as the plan-level fold: document sets DISJOINT
  // across appends (each doc's chunks land in exactly one batch —
  // what makes n_docs additive); a delete batch carries the removed
  // docs' text exactly as previously indexed; single writer per store
  // path (takedowns APPEND data segments, so they are writers —
  // route concurrency through [[graft.core.Versions]] roots).
  // --------------------------------------------------------------

  private[graft] def chunksPath(path: String) = s"$path/chunks"
  private[graft] def metaPath(path: String) = s"$path/_cdcmeta"

  private def storeAvgChunk(path: String): Int = {
    val meta = graft.core.Sidecar.readPropsExpected(metaPath(path))
      .getOrElse(throw new IllegalArgumentException(s"no cdc sidecar at $path"))
    require(meta.get("kind").contains("cdc"),
      s"sidecar at $path is kind=${meta.get("kind")}, not a cdc chunk store")
    meta("avg_chunk").toInt
  }

  /** Publish `docs`' [[chunkIndex]] as a negated-append store. The
    * sidecar pins `avgChunk` so every later append/delete re-chunks
    * with the published geometry (a drifted parameter would subtract
    * different boundaries than were added — a silent corruption, made
    * impossible here).
    */
  def publishChunkStore(docs: DataFrame, idCol: String, text: Column,
      avgChunk: Int, path: String): Unit = {
    chunkIndex(docs, idCol, text, avgChunk)
      .write.mode("overwrite").parquet(chunksPath(path))
    graft.core.Sidecar.writeProps(metaPath(path), Seq(
      "kind" -> "cdc", "avg_chunk" -> avgChunk.toString))
  }

  /** Append a NEW document batch (id-disjoint from everything already
    * in the store): O(batch) chunking + segment write, no published
    * row rewritten. Runs under the store's maintenance lock
    * ([[graft.core.MaintLock]]) so a batch cannot land inside a
    * [[compactChunkStoreVersioned]] snapshot→flip window and be lost
    * from the flipped version.
    */
  def appendChunkStore(newDocs: DataFrame, idCol: String, text: Column,
      path: String): Unit =
    graft.core.MaintLock.withLock(path, "Cdc.appendChunkStore") {
      chunkIndex(newDocs, idCol, text, storeAvgChunk(path))
        .write.mode("append").parquet(chunksPath(path))
    }

  /** Takedown: append the tombstoned documents' own index NEGATED —
    * O(tombstone batch), the cost class [[deleteFromChunkIndex]]'s
    * republish could not reach. Both counts subtract exactly (sums
    * over a corpus partition, the [[deleteFromChunkIndex]] argument);
    * the read side drops zeroed rows and raises on negative ones.
    * Negated segments make this a COUPLED write: it runs under the
    * store's maintenance lock ([[graft.core.MaintLock]]) and raises
    * if a [[compactChunkStoreVersioned]] window is open.
    */
  def deleteFromChunkStore(tombstoned: DataFrame, idCol: String, text: Column,
      path: String): Unit =
    graft.core.MaintLock.withLock(path, "Cdc.deleteFromChunkStore") {
      chunkIndex(tombstoned, idCol, text, storeAvgChunk(path))
        .select(col("chunk_md5"),
          (-col("n_copies")).as("n_copies"), (-col("n_docs")).as("n_docs"))
        .write.mode("append").parquet(chunksPath(path))
    }

  /** The store's merged live index: one sum-groupBy over the
    * segments; rows zeroed by takedowns are ABSENT (not present with
    * zero), a negative merged count raises ([[CountGuard]] — the
    * takedown contract makes it impossible, so it must never pass
    * silently). Row-for-row equal to `chunkIndex(surviving docs)`
    * (`q_dedup_cdc_store` gates it).
    */
  def readChunkStore(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    storeAvgChunk(path): Unit // kind guard
    spark.read.parquet(chunksPath(path))
      .groupBy(col("chunk_md5"))
      .agg(sum(col("n_copies")).as("n_copies"), sum(col("n_docs")).as("n_docs"))
      .filter(CountGuard.positive(col("n_copies"), "chunk n_copies"))
      .select(col("chunk_md5"), col("n_copies"),
        CountGuard.nonNegative(col("n_docs"), "chunk n_docs").as("n_docs"))
  }

  /** Compact the store at `srcPath` into `dstPath`: segments sum-merge
    * into one clean row set (the aggregation every read pays, paid
    * once), zeroed rows drop, the sidecar carries. Same
    * publish-then-swap contract as the LM compaction.
    */
  def compactChunkStore(spark: org.apache.spark.sql.SparkSession,
      srcPath: String, dstPath: String): Unit = {
    val avg = storeAvgChunk(srcPath)
    readChunkStore(spark, srcPath)
      .write.mode("overwrite").parquet(chunksPath(dstPath))
    graft.core.Sidecar.writeProps(metaPath(dstPath), Seq(
      "kind" -> "cdc", "avg_chunk" -> avg.toString))
  }

  /** [[compactChunkStore]] into the next version of a versioned root,
    * pointer flipped atomically. Takedowns are WRITERS here (they
    * append negated segments — the coupled-store rule, see
    * [[graft.pipeline.Retrieval.compactIndexVersioned]]): the
    * maintenance window is enforced by the source version's lock
    * ([[graft.core.MaintLock]]) — this compact holds it, a mistimed
    * [[deleteFromChunkStore]] raises instead of landing half-applied.
    * Returns the new live version.
    */
  def compactChunkStoreVersioned(spark: org.apache.spark.sql.SparkSession,
      root: String): Long =
    graft.core.MaintLock.compactVersioned(root, "Cdc.compactChunkStoreVersioned")(
      compactChunkStore(spark, _, _))

  /** Batch shared-chunk mining against the published [[chunkIndex]]:
    * for every chunk content occurring in the batch, the TOTAL copy
    * and doc counts over corpus ∪ batch, filtered to actually-shared
    * (>= 2 copies) — equal to `sharedChunks(corpus ∪ batch)`
    * restricted to batch chunk hashes, at O(batch chunking + one
    * narrow index join) cost. Contract: batch doc ids are disjoint
    * from corpus ids (an ingestion batch is new documents), which is
    * what makes the distinct-doc counts additive.
    */
  def sharedChunksIncremental(corpusIndex: DataFrame, newDocs: DataFrame,
      idCol: String, text: Column, avgChunk: Int): DataFrame = {
    val b = chunkIndex(newDocs, idCol, text, avgChunk)
      .withColumnRenamed("n_copies", "__bc").withColumnRenamed("n_docs", "__bd")
    b.join(corpusIndex
        .withColumnRenamed("n_copies", "__cc").withColumnRenamed("n_docs", "__cd"),
        Seq("chunk_md5"), "left")
      .select(col("chunk_md5"),
        (coalesce(col("__cc"), lit(0L)) + col("__bc")).as("n_copies"),
        (coalesce(col("__cd"), lit(0L)) + col("__bd")).as("n_docs"))
      .filter(col("n_copies") >= 2)
  }
}
