package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Sidecar, Versions}

/** The one lifecycle of every id-marker store — the IVF raw-vector
  * and IVF-PQ layouts, the exact-dedup index ([[Dedup.exactIndexFull]]),
  * the MinHash band table ([[Dedup.bandTable]]) and the winnow
  * fingerprint index ([[TextOps.winnow]]). The stores are
  * append-forever artifacts; a real corpus additionally needs
  * takedowns and contamination removal, and rewriting a 100 TB layout
  * per delete request is not an option. So deletes are TOMBSTONES —
  * the same move the reference makes at row scale, where
  * `deleteObject`/`deleteRelation` flag records dead and leave the
  * bytes for a later defrag (HGraphStorage API.hs:432-444; the MVCC
  * analog is [[graft.operators.Mvcc.deleteRecord]]):
  *
  *  - [[delete]] stages a single-column id batch invisibly and makes
  *    it visible with ONE atomic directory rename into
  *    `layout/_tombstones/` — a crash mid-write leaves only staging,
  *    never a half-readable batch;
  *  - every read goes through [[live]] (or [[applyTo]] on a frame
  *    already read, as the IVF/PQ top-k paths do): an ANTI join
  *    against the union of tombstone batches. Tombstone cardinality
  *    is takedown-list-sized — MBs against a corpus of TBs — so the
  *    join side is broadcast CONDITIONALLY on measured marker bytes
  *    ([[broadcastHintMaxBytes]]): under the bound a hard hint
  *    guarantees the broadcast even where ops disabled
  *    `spark.sql.autoBroadcastJoinThreshold` (a common setting —
  *    without the hint every marker-store read would shuffle the
  *    corpus-scale layout by id for a KB-sized marker set); past the
  *    bound the hint is withheld and an oversized backlog degrades
  *    to a shuffle join instead of OOMing the driver.
  *    With NO tombstones the plan is byte-identical to the
  *    pre-delete plan (no join node at all, TombstoneSpec pins it);
  *  - [[compact]] (flat stores) and [[Ivf.compactPartitioned]]
  *    (cell-partitioned layouts) are the defrag: they rewrite live
  *    rows only into a fresh layout (which therefore starts with an
  *    empty tombstone set) and coalesce the small files streaming
  *    appends and takedowns accumulate;
  *  - [[compactVersioned]] runs either defrag into the next version
  *    of a [[graft.core.Versions]] root and closes the lost-delete
  *    window with a post-flip marker recheck;
  *  - [[without]] is the in-memory takedown for a frame that is not
  *    a published store (drop the ids, then republish).
  *
  * Semantics: a tombstone hides the ID — rows already in the layout
  * AND rows appended later under the same id — until compaction
  * purges both the rows and the tombstones. (Append-after-delete
  * therefore stays hidden before compaction and becomes a normal
  * visible id after it; re-using ids for distinct content is the
  * caller's bug, same as the reference's ID-reuse discipline.)
  *
  * Underscore-prefixed directories are invisible to Spark's parquet
  * reads, so tombstones and staging never pollute the layout scan.
  * All metadata I/O goes through [[graft.core.Sidecar]] (Hadoop
  * FileSystem API) — hdfs:// / s3a:// layouts delete like file:.
  */
object Tombstones {

  private[pipeline] def tombDir(layout: String) = s"$layout/_tombstones"
  private def stagingRoot(layout: String) = s"$layout/_tombstones_staging"

  /** Record `ids` as deleted in the layout at `layoutPath`. Returns
    * the number of distinct ids tombstoned. The batch lands as one
    * parquet file (takedown lists are small; a genuinely huge delete
    * can be split into several calls) staged under a hidden dir and
    * atomically renamed into `_tombstones/` — readers see the whole
    * batch or none of it.
    */
  def delete(layoutPath: String, ids: DataFrame, idCol: String): Long = {
    val batch = ids.select(col(idCol).cast("long").as("id")).distinct()
    val n = batch.count()
    if (n > 0) {
      val name = java.util.UUID.randomUUID().toString.take(12)
      val staging = s"${stagingRoot(layoutPath)}/$name"
      batch.coalesce(1).write.mode("overwrite").parquet(staging)
      Sidecar.renameDir(staging, s"${tombDir(layoutPath)}/$name")
      // cleanup is scoped to THIS batch's staging dir (already moved
      // by the rename; only committer droppings could remain) — a
      // concurrent delete's in-flight staging under the shared root
      // must survive, so the root itself is only removed when empty
      Sidecar.delete(staging, recursive = true)
      Sidecar.deleteIfEmpty(stagingRoot(layoutPath))
    }
    n
  }

  /** The layout's deleted-id set as a single-column (`id` LONG) frame,
    * or None when no tombstone batch exists (the common case — callers
    * skip the join entirely, leaving the scan plan untouched). Read
    * from the listed batch files, never from the `_`-named root:
    * Spark drops (and warns about) a root path whose name starts
    * with `_`.
    */
  def ids(spark: SparkSession, layoutPath: String): Option[DataFrame] = {
    val files = Sidecar.dataFiles(tombDir(layoutPath))
    if (files.isEmpty) None else Some(spark.read.parquet(files: _*))
  }

  /** Bound under which a marker set gets a hard `broadcast()` hint
    * (64 MB of parquet — tens of millions of ids, far past any sane
    * takedown backlog and still trivially broadcastable). Measured
    * against the marker FILES, so the decision needs no job.
    */
  val broadcastHintMaxBytes: Long = 64L << 20

  /** Hard-hint `df` for broadcast iff its backing files under `dir`
    * total under [[broadcastHintMaxBytes]] — shared with the lexical
    * tombstone reader ([[Retrieval]]), which keeps its own marker
    * layout.
    */
  private[pipeline] def hintSized(df: DataFrame, dir: String): DataFrame =
    if (Sidecar.treeSize(dir) <= broadcastHintMaxBytes) broadcast(df) else df

  /** Hide tombstoned ids from a layout read: anti join when
    * tombstones exist (broadcast guaranteed by a size-conditional
    * hint — see the object doc), the untouched frame when they don't.
    */
  def applyTo(df: DataFrame, layoutPath: String, idCol: String): DataFrame =
    ids(df.sparkSession, layoutPath).map(hintSized(_, tombDir(layoutPath))) match {
      case None     => df
      case Some(ts) => df.join(ts, df(idCol) === ts("id"), "left_anti")
    }

  /** Live rows of the published store at `path`, keyed by `idCol`. */
  def live(spark: SparkSession, path: String, idCol: String): DataFrame =
    applyTo(spark.read.parquet(path), path, idCol)

  /** In-memory takedown: `df` without the rows whose `dfIdCol` is in
    * `ids`' `idCol` — for a frame that is not (yet) a published store,
    * e.g. before a republish. No broadcast hint: a takedown-sized set
    * broadcasts anyway under AQE's runtime size check, while an
    * oversized batch degrades to a shuffle join instead of OOMing the
    * driver — the hint would turn a soft contract ("tombstone sets
    * are small") into a hard failure mode.
    */
  def without(df: DataFrame, dfIdCol: String, ids: DataFrame,
      idCol: String): DataFrame =
    df.join(ids.select(col(idCol).as(dfIdCol)).distinct(), Seq(dfIdCol), "left_anti")

  /** Rows per output file for every compact (marker stores and the
    * lexical index): bounds file size where one task writes a whole
    * cell or bucket.
    */
  private[pipeline] val compactRecordsPerFile: Long = 1L << 22

  /** Compact a flat store: its [[live]] rows rewritten to `dst`
    * (which starts tombstone-free), delete-era small files coalesced.
    * O(index) — the rewrite the marker delete deferred, paid once per
    * maintenance window instead of once per takedown batch.
    */
  def compact(spark: SparkSession, src: String, dst: String, idCol: String): Unit =
    live(spark, src, idCol)
      .write.mode("overwrite").option("maxRecordsPerFile", compactRecordsPerFile)
      .parquet(dst)

  /** Drop every tombstone batch — an escape hatch for un-deleting
    * before any compaction ran ([[Ivf.compactPartitioned]] itself
    * never needs this: it writes live rows to a fresh layout, which
    * starts tombstone-free).
    */
  def clear(layoutPath: String): Unit =
    Sidecar.delete(tombDir(layoutPath), recursive = true)

  /** Compact the live version of the versioned `root` into its next
    * version via `write(src, dst)` — [[compact]] for flat stores,
    * [[Ivf.compactPartitioned]] for cell-partitioned ones — flip the
    * pointer, and RECHECK the markers: the lost-delete guard for every
    * marker store's maintenance window. Returns the new live version;
    * raises when `root` has no live version.
    *
    * The window: a compact scans `src`'s live rows, writes the next
    * version, and flips the pointer — a tombstone batch landing in
    * `src/_tombstones` AFTER the compact's scan but BEFORE the flip
    * would be applied to neither side (its rows were already copied
    * live; the fresh layout starts marker-free). For takedown stores
    * that is a silently resurrected document. So: snapshot the batch
    * list BEFORE the compact runs, re-list after the flip, and
    * RE-APPLY every batch not in the snapshot as a fresh marker on
    * the new live version. Re-application is idempotent-safe in both
    * directions — a marker for an id the scan already purged hides
    * nothing, a marker for one it copied hides it — because markers
    * carry only ids, never counters (the coupled stores, lexical/LM/
    * CDC, cannot use this guard; their deletes write data, so their
    * compacts take [[graft.core.MaintLock.compactVersioned]] instead).
    *
    * Residual window, documented not closed: a takedown writer that
    * resolved the version pointer before the flip and writes after
    * the re-list still loses its batch — takedown writers must pause
    * during the maintenance window (they count as writers).
    */
  def compactVersioned(spark: SparkSession, root: String)(
      write: (String, String) => Unit): Long = {
    val src = Versions.requireCurrentPath(root)
    val pre = Sidecar.listNames(tombDir(src)).toSet
    val v = Versions.publish(root)(write(src, _))
    val dst = Versions.versionDir(root, v)
    Sidecar.listNames(tombDir(src)).filterNot(pre).foreach { name =>
      delete(dst, spark.read.parquet(s"${tombDir(src)}/$name"), "id"): Unit
    }
    v
  }
}
