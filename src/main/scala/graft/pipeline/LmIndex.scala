package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Published n-gram count tables — the incremental leg of the stupid-
  * backoff LM (Brants et al. EMNLP'07 ran exactly this as a standing
  * MapReduce artifact). Counts are ADDITIVE, so appends are exact by
  * construction: a batch writes its own (gram, count) segment files
  * O(batch), and the read side merges segments with one sum-groupBy —
  * scoring through the published index is therefore bit-identical to
  * a full retrain on the union ([[TextOps.scoreBackoff]] takes counts
  * as inputs, and the merged rows agree row-for-row). The same
  * single-writer contract as every append tier here; route concurrent
  * writers through a versioned root ([[graft.core.Versions]]).
  */
object LmIndex {

  private[graft] def gramPath(path: String, which: String) = s"$path/$which"
  private[graft] def metaPath(path: String) = s"$path/_lmmeta"

  /** Streaming token-total deltas ([[graft.streaming.LmStream]]):
    * batch-keyed props files summed into the sidecar at read time —
    * the replay-idempotent channel the in-place sidecar bump cannot
    * provide (same design as [[Retrieval.countersDir]]).
    */
  private[graft] def countersDir(path: String) = s"$path/_lm_counters"

  private[graft] def counts(df: DataFrame, idCol: String, text: Column) = {
    val tr = TextOps.positionedTokens(df, idCol, text)
    val uni = tr.groupBy(col("w")).agg(count(lit(1)).as("c1"))
    val bi = tr.filter(col("pos") >= 1)
      .groupBy(col("w1"), col("w")).agg(count(lit(1)).as("c2"))
    val tri = tr.filter(col("pos") >= 2)
      .groupBy(col("w2"), col("w1"), col("w")).agg(count(lit(1)).as("c3"))
    (uni, bi, tri)
  }

  /** Publish the three count tables + the exact token total. */
  def publish(train: DataFrame, idCol: String, text: Column, path: String): Unit = {
    val (uni, bi, tri) = counts(train, idCol, text)
    uni.write.mode("overwrite").parquet(gramPath(path, "uni"))
    bi.write.mode("overwrite").parquet(gramPath(path, "bi"))
    tri.write.mode("overwrite").parquet(gramPath(path, "tri"))
    val n = train.agg(sum(size(TextOps.tokens(text)).cast("long"))).head()
      .getLong(0)
    graft.core.Sidecar.writeProps(metaPath(path), Seq(
      "kind" -> "lm", "n" -> n.toString))
  }

  /** Append a document batch: O(batch) counting, segment-file writes,
    * one exact counter bump. No published row is rewritten — merging
    * is the read side's sum. Coupled (segments + token total): runs
    * under the store's maintenance lock ([[graft.core.MaintLock]])
    * and raises if a [[compactVersioned]] window is open, so a batch
    * cannot be half-captured or lost across the snapshot→flip line.
    */
  def append(batch: DataFrame, idCol: String, text: Column, path: String): Unit =
    graft.core.MaintLock.withLock(path, "LmIndex.append") {
      appendLocked(batch, idCol, text, path)
    }

  private def appendLocked(batch: DataFrame, idCol: String, text: Column,
      path: String): Unit = {
    // bump the RAW base total, not the delta-folded readMeta view: the
    // streamed counter files stay in countersDir and re-fold on every
    // read, so writing a folded total back as the base would count
    // every standing delta twice from then on (LmIndexSpec pins the
    // mixed batch-append-after-stream total)
    val meta = baseMeta(path)
    val (uni, bi, tri) = counts(batch, idCol, text)
    uni.write.mode("append").parquet(gramPath(path, "uni"))
    bi.write.mode("append").parquet(gramPath(path, "bi"))
    tri.write.mode("append").parquet(gramPath(path, "tri"))
    val n = batch.agg(sum(size(TextOps.tokens(text)).cast("long"))).head()
      .getLong(0)
    graft.core.Sidecar.writeProps(metaPath(path), Seq(
      "kind" -> "lm", "n" -> (meta("n").toLong + n).toString))
  }

  /** Takedown on the published count store: append the tombstoned
    * documents' counts NEGATED. Counting is additive over disjoint
    * document sets, so after the read side's segment sum every gram
    * sits at exactly the count a republish of the surviving corpus
    * would produce; grams only the removed docs contributed sum to
    * ZERO and are dropped by the read-side `> 0` filter, making
    * delete → [[score]] bit-identical to a full retrain without them
    * (`q_text_lm_delete` gates this; exact-long sums, no float
    * residue). O(tombstone batch): no published row is rewritten —
    * the same additive-segment contract as [[append]]. Caller
    * contract: `tombstoned` carries the removed documents' text
    * exactly as previously published, and the same single-writer rule
    * applies. The (negated counts, token total) pair makes this a
    * COUPLED write: it runs under the
    * store's maintenance lock ([[graft.core.MaintLock]]) and raises
    * if a [[compactVersioned]] window is open.
    */
  def delete(tombstoned: DataFrame, idCol: String, text: Column, path: String): Unit =
    graft.core.MaintLock.withLock(path, "LmIndex.delete") {
      deleteLocked(tombstoned, idCol, text, path)
    }

  private def deleteLocked(tombstoned: DataFrame, idCol: String, text: Column,
      path: String): Unit = {
    val meta = baseMeta(path) // raw base, not delta-folded — see append

    val (uni, bi, tri) = counts(tombstoned, idCol, text)
    uni.select(col("w"), (-col("c1")).as("c1"))
      .write.mode("append").parquet(gramPath(path, "uni"))
    bi.select(col("w1"), col("w"), (-col("c2")).as("c2"))
      .write.mode("append").parquet(gramPath(path, "bi"))
    tri.select(col("w2"), col("w1"), col("w"), (-col("c3")).as("c3"))
      .write.mode("append").parquet(gramPath(path, "tri"))
    val n = tombstoned.agg(sum(size(TextOps.tokens(text)).cast("long"))).head()
      .getLong(0)
    graft.core.Sidecar.writeProps(metaPath(path), Seq(
      "kind" -> "lm", "n" -> (meta("n").toLong - n).toString))
  }

  /** Score documents through the published counts: segment merge is
    * one sum-groupBy per table, then the shared scoring pipeline.
    * Grams whose merged count is zero (fully taken down by [[delete]])
    * are ABSENT, not present-with-zero — [[TextOps.scoreBackoff]]'s
    * backoff arms fire on null, so a zero row would score -inf
    * instead of backing off. A NEGATIVE merged count (impossible
    * under the takedown contract) raises via [[CountGuard]] instead
    * of silently backing off as absent.
    */
  def score(spark: SparkSession, path: String, docs: DataFrame,
      idCol: String, text: Column): DataFrame = {
    val meta = readMeta(path)
    val uni = spark.read.parquet(gramPath(path, "uni"))
      .groupBy(col("w")).agg(sum(col("c1")).as("c1"))
      .filter(CountGuard.positive(col("c1"), "unigram count c1"))
    val bi = spark.read.parquet(gramPath(path, "bi"))
      .groupBy(col("w1"), col("w")).agg(sum(col("c2")).as("c2"))
      .filter(CountGuard.positive(col("c2"), "bigram count c2"))
    val tri = spark.read.parquet(gramPath(path, "tri"))
      .groupBy(col("w2"), col("w1"), col("w")).agg(sum(col("c3")).as("c3"))
      .filter(CountGuard.positive(col("c3"), "trigram count c3"))
    val tot = spark.range(1).select(lit(meta("n").toLong).as("n"))
    TextOps.scoreBackoff(docs, idCol, text, uni, bi, tri, tot)
  }

  /** Compact the count store at `srcPath` into `dstPath`: every
    * table's segments sum-merge into one clean row set (one groupBy
    * per table — the same aggregation the read side pays on EVERY
    * score today, paid once), streamed counter deltas fold into the
    * base sidecar, and the streaming replay markers are carried (the
    * compacted counts contain those batches). Scores through the
    * compacted store are bit-identical by construction: [[score]]
    * re-aggregates either way and sums are associative in exact
    * longs. Same publish-then-swap contract as the ANN and lexical
    * compactions; compose with [[graft.core.Versions]] for an atomic
    * flip via [[compactVersioned]].
    */
  def compact(spark: SparkSession, srcPath: String, dstPath: String): Unit = {
    val meta = readMeta(srcPath) // kind guard + counter fold
    spark.read.parquet(gramPath(srcPath, "uni"))
      .groupBy(col("w")).agg(sum(col("c1")).as("c1"))
      // zeroed-by-takedown grams compact away; negative raises (CountGuard)
      .filter(CountGuard.positive(col("c1"), "unigram count c1"))
      .write.mode("overwrite").parquet(gramPath(dstPath, "uni"))
    spark.read.parquet(gramPath(srcPath, "bi"))
      .groupBy(col("w1"), col("w")).agg(sum(col("c2")).as("c2"))
      .filter(CountGuard.positive(col("c2"), "bigram count c2"))
      .write.mode("overwrite").parquet(gramPath(dstPath, "bi"))
    spark.read.parquet(gramPath(srcPath, "tri"))
      .groupBy(col("w2"), col("w1"), col("w")).agg(sum(col("c3")).as("c3"))
      .filter(CountGuard.positive(col("c3"), "trigram count c3"))
      .write.mode("overwrite").parquet(gramPath(dstPath, "tri"))
    graft.core.Sidecar.writeProps(metaPath(dstPath), Seq(
      "kind" -> "lm", "n" -> meta("n")))
    graft.core.Sidecar.listNames(s"$srcPath/_lm_applied").foreach { key =>
      graft.core.Sidecar.writeString(s"$dstPath/_lm_applied/$key", "")
    }
  }

  /** [[compact]] into the next version of a versioned root, pointer
    * flipped atomically. Holds the source version's maintenance lock
    * across the snapshot→flip window ([[graft.core.MaintLock]] — LM
    * takedowns write coupled negated counts and must not land inside
    * it; a mistimed [[delete]] raises instead of silently corrupting
    * the counts, MaintLockSpec). Returns the new live version.
    */
  def compactVersioned(spark: SparkSession, root: String): Long =
    graft.core.MaintLock.compactVersioned(root, "LmIndex.compactVersioned")(
      compact(spark, _, _))

  /** The base sidecar verbatim — streamed counter deltas NOT folded.
    * Writers that rewrite the base total ([[append]]/[[delete]]) must
    * start from this, never from [[readMeta]]'s folded view: the
    * delta files stay in place and re-fold on every read.
    */
  private def baseMeta(path: String): Map[String, String] = {
    val meta = graft.core.Sidecar.readPropsExpected(metaPath(path))
      .getOrElse(throw new IllegalArgumentException(s"no lm sidecar at $path"))
    require(meta.get("kind").contains("lm"),
      s"sidecar at $path is kind=${meta.get("kind")}, not an lm index")
    meta
  }

  private[graft] def readMeta(path: String): Map[String, String] = {
    val meta = baseMeta(path)
    val deltas = graft.core.Sidecar.listNames(countersDir(path))
      .flatMap(f => graft.core.Sidecar.readProps(s"${countersDir(path)}/$f"))
    if (deltas.isEmpty) meta
    else meta + ("n" -> (meta("n").toLong + deltas.map(_("n").toLong).sum).toString)
  }
}
