package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{PropertyValue, PropValues}

/** An immutable published version of the graph: `nodes` + `edges`
  * DataFrames in the canonical snapshot schema (FIXTURES.md).
  *
  * The reference's record files (objects.db / relations.db /
  * properties.db, HGraphStorage FileOps.hs:32-77) become two
  * parquet-backed tables; the property linked lists become a map
  * column; the intrusive adjacency lists disappear entirely — joins on
  * `src`/`dst` replace chain walks. `srcLabel`/`dstLabel` are
  * intentionally denormalized on the edge, mirroring the reference's
  * `rFromType`/`rToType` (Types.hs:104-107): traversal type filters
  * evaluate on the edge scan alone, before any node join.
  *
  * MVCC columns `tx_min`/`tx_max` version every row (LowLevelDB
  * MVCC.hs:104-108); a plain read filters `tx_max IS NULL` (live
  * rows); time-travel uses [[graft.operators.Mvcc]] predicates.
  */
final case class GraphSnapshot(nodes: DataFrame, edges: DataFrame) {

  /** Live (undeleted, committed) rows only. */
  def live: GraphSnapshot =
    GraphSnapshot(nodes.filter(col("tx_max").isNull), edges.filter(col("tx_max").isNull))

  /** Maintained-counter analogs (STMGraph API.hs:49-53). */
  def nbNodes: Long = live.nodes.count()
  def nbEdges: Long = live.edges.count()

  /** Property update (updateObject / nodeProperties, HGraphStorage
    * API.hs:170-180; STMGraph API.hs:111-120): copy-on-write — nodes
    * matching `pred` get their version closed at `tx` and a copy with
    * `mutateProps(props)` appended. The reference replaces the WHOLE
    * property map on update; pass a constant map column for that
    * conformance shape, or a `transform_values` rewrite for targeted
    * edits. The label is identity (denormalized onto edges as
    * srcLabel/dstLabel) and must not change here.
    * For index-maintaining mutation use [[IndexedGraph]].
    */
  def updateNodeProps(pred: org.apache.spark.sql.Column, tx: Long,
      mutateProps: org.apache.spark.sql.Column => org.apache.spark.sql.Column): GraphSnapshot =
    GraphSnapshot(
      graft.operators.Mvcc.update(nodes, pred, tx,
        df => df.withColumn("props", mutateProps(col("props")))),
      edges)

  /** Edge-property update (edgeProperties, STMGraph API.hs:181-190 —
    * the relation-side mirror of `nodeProperties` :111-120): COW on
    * the edge table; edges matching `pred` get their version closed at
    * `tx` and a copy with `mutateProps(props)` appended. Endpoints and
    * label are identity (they name the relation) and must not change
    * here — delete + create instead.
    */
  def updateEdgeProps(pred: org.apache.spark.sql.Column, tx: Long,
      mutateProps: org.apache.spark.sql.Column => org.apache.spark.sql.Column): GraphSnapshot =
    GraphSnapshot(
      nodes,
      graft.operators.Mvcc.update(edges, pred, tx,
        df => df.withColumn("props", mutateProps(col("props")))))

  /** Cascading delete (deleteObject, API.hs:410-429; APITest.hs:55-68):
    * closes matching node versions AND every live incident edge.
    */
  def deleteNodes(pred: org.apache.spark.sql.Column, tx: Long): GraphSnapshot = {
    val (n, e) = graft.operators.Mvcc.deleteNodeCascade(nodes, edges, pred, tx)
    GraphSnapshot(n, e)
  }

  /** deleteRelation (API.hs:363-407): close matching edge versions;
    * nodes untouched.
    */
  def deleteEdges(pred: org.apache.spark.sql.Column, tx: Long): GraphSnapshot =
    GraphSnapshot(nodes, graft.operators.Mvcc.delete(edges, pred, tx))

  /** Bucket count sized by BYTES per bucket, not core count — the
    * conclusion of the 10x/100x A/B in ROUND6.md. Sizes from the
    * optimizer's estimate for the edge table (the largest side of
    * every expansion join), with a guard: for a lineage containing a
    * join the top-level stat is the product-of-children heuristic and
    * can overshoot by orders of magnitude, silently saturating the
    * bucket ceiling — when it exceeds the leaf-scan byte sum by more
    * than the width factor a projection can plausibly add (256x), the
    * leaf sum is used instead (real file bytes; an underestimate for
    * denormalized rows, never astronomically wrong). Power-of-two
    * counts keep layouts merge-compatible across republishes. At test
    * SFs this clamps to the floor (16); at 100 TB it lands in the
    * thousands, each bucket a few hundred MB — small enough to
    * sort-merge in one task's memory, large enough that per-file open
    * cost stays negligible.
    */
  def autoBuckets(targetBytesPerBucket: Long = 256L << 20): Int = {
    val plan = edges.queryExecution.optimizedPlan
    val top = plan.stats.sizeInBytes
    val leaves = plan.collectLeaves().map(_.stats.sizeInBytes).sum.max(1)
    val bytes = if (top > leaves * 256) leaves else top
    GraphSnapshot.bucketsForBytes(bytes, targetBytesPerBucket)
  }

  /** Publish as a BUCKETED snapshot: nodes bucketed (and sorted) by
    * `id`, edges by `src`, same bucket count — the cluster-scale
    * layout SCALE.md designs. A queryStep expansion join
    * (edges.src = nodes.id) over the published tables then plans as a
    * shuffle-free sort-merge join: both sides arrive pre-hashed on
    * the join key, so the dominant traversal shuffle disappears
    * entirely at 100 TB. Spark keeps bucket metadata in the table
    * catalog, so this publishes managed tables `<name>_nodes` /
    * `<name>_edges` (reopen with [[GraphSnapshot.openBucketed]])
    * rather than raw parquet paths.
    */
  def writeBucketed(name: String, buckets: Int = 64, mirrorByDst: Boolean = false,
      path: Option[String] = None): Unit = {
    // with `path` the tables are EXTERNAL (caller-owned location,
    // e.g. outside the session warehouse); bucket metadata lives in
    // the catalog either way.
    // Each writer task emits one file PER BUCKET it holds rows for, so
    // writing from P input partitions yields up to P files per bucket —
    // and the bucketed scan then merge-sorts all of them inside every
    // task, which at 100x SF cost more than the shuffle the layout
    // saves. Repartitioning on the bucket key first (same Murmur3 hash
    // as the bucket spec) aligns writer tasks with buckets: one sorted
    // file per bucket, scan-side sort is a straight file read.
    def w(df: DataFrame, table: String, key: String) = {
      val b = df.repartition(buckets, col(key))
        .write.mode("overwrite").format("parquet")
      path.fold(b)(p => b.option("path", s"$p/$table"))
    }
    w(nodes, s"${name}_nodes", "id")
      .bucketBy(buckets, "id").sortBy("id").saveAsTable(s"${name}_nodes")
    w(edges, s"${name}_edges", "src")
      .bucketBy(buckets, "src").sortBy("src").saveAsTable(s"${name}_edges")
    // the IN direction joins on dst; covering it shuffle-free costs a
    // second edge copy bucketed by dst — the classic adjacency
    // duplication trade, paid in storage not shuffle (SCALE.md)
    if (mirrorByDst)
      w(edges, s"${name}_edges_dst", "dst")
        .bucketBy(buckets, "dst").sortBy("dst").saveAsTable(s"${name}_edges_dst")
  }

  /** Publish this snapshot version (checkpoint analog,
    * STMGraph Raw.hs:105-109). Partitioned by label so label-filtered
    * scans prune files; at cluster scale add bucketing by id/src.
    * A manifest records counts and the max tx id — the reference's
    * root-node metadata (`getExtra`/`setExtra`, Trie.hs:114-123) and
    * maintained counters in one place, so `nbNodes`-style reads can
    * come from metadata instead of a scan.
    */
  def write(dir: String): Unit = {
    nodes.write.mode("overwrite").partitionBy("label").parquet(s"$dir/nodes")
    edges.write.mode("overwrite").partitionBy("label").parquet(s"$dir/edges")
    // Manifest stats come from the just-written parquet — a
    // column-pruned scan of the two tx columns — NOT from re-executing
    // the input plans (which may be arbitrarily expensive upstream
    // queries; re-running them three times multiplies publish cost).
    val spark = nodes.sparkSession
    def stats(path: String, schema: StructType): Row =
      spark.read.schema(schema).parquet(path).agg(
        count(when(col("tx_max").isNull, 1)).as("live"),
        max(col("tx_min")).as("max_min"),
        max(col("tx_max")).as("max_max")).head()
    def at(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)
    val ns = stats(s"$dir/nodes", GraphSnapshot.nodeSchema)
    val es = stats(s"$dir/edges", GraphSnapshot.edgeSchema)
    val maxTx = Seq(at(ns, 1), at(ns, 2), at(es, 1), at(es, 2)).max
    val manifest =
      s"""{"n_nodes": ${ns.getLong(0)}, "n_edges": ${es.getLong(0)}, "max_tx": $maxTx}"""
    Sidecar.writeString(s"$dir/_manifest.json", manifest)
  }
}

object GraphSnapshot {
  /** ceil(bytes/target), rounded up to a power of two, clamped to
    * [16, 4096]. The floor keeps small publishes parallel enough to
    * matter on a 32-core node; the ceiling bounds file count (and the
    * driver-side listing cost) at extreme scale.
    */
  def bucketsForBytes(bytes: BigInt, targetBytesPerBucket: Long): Int = {
    val raw = ((bytes.max(1) + targetBytesPerBucket - 1) / targetBytesPerBucket)
      .min(4096).toInt.max(16)
    var p = 16
    while (p < raw) p <<= 1
    p
  }

  val nodeSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("label", StringType, nullable = false),
    StructField("props", PropValues.propsType),
    StructField("tx_min", LongType, nullable = false),
    StructField("tx_max", LongType)))

  val edgeSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("src", LongType, nullable = false),
    StructField("srcLabel", StringType, nullable = false),
    StructField("dst", LongType, nullable = false),
    StructField("dstLabel", StringType, nullable = false),
    StructField("label", StringType, nullable = false),
    StructField("props", PropValues.propsType),
    StructField("tx_min", LongType, nullable = false),
    StructField("tx_max", LongType)))

  /** Session open (HGraphStorage API.hs:57-75 `withGraphStorage`).
    * Reads with the canonical schemas: an empty table (a partitioned
    * write of zero rows leaves no parquet files) opens as an empty
    * frame instead of failing schema inference.
    */
  def open(spark: SparkSession, dir: String): GraphSnapshot =
    GraphSnapshot(
      spark.read.schema(nodeSchema).parquet(s"$dir/nodes"),
      spark.read.schema(edgeSchema).parquet(s"$dir/edges"))

  /** Reopen a bucketed snapshot published by
    * [[GraphSnapshot.writeBucketed]]. The returned frames carry the
    * catalog's bucket spec, so joins on nodes.id / edges.src plan
    * without an Exchange (BucketedSnapshotSpec pins this).
    */
  def openBucketed(spark: SparkSession, name: String): GraphSnapshot =
    GraphSnapshot(spark.table(s"${name}_nodes"), spark.table(s"${name}_edges"))

  /** Open a snapshot INCLUDING un-compacted streaming deltas — the
    * merge-on-read view of the delta-append upsert sink
    * ([[graft.streaming.EventStream.upsertUserBatch]] /
    * [[graft.streaming.EventStream.upsertEdgeBatch]] — the reference's
    * write-behind writer applies WrittenEdge/DeletedEdge the same way,
    * STMGraph Raw.hs:253-306). Base versions keep their stored tx_max;
    * a delta version implicitly closes its predecessor, and in an
    * upsert stream the closing tx is exactly the successor's tx_min —
    * so the derived `coalesce(tx_max, lead(tx_min) per id)` equals
    * what an in-place close would have written. A DELETE delta is a
    * tombstone (tx_max = tx_min): it closes its predecessor via the
    * lead window and is itself dead under every visibility predicate.
    * Versions with the same tx_min (a crash duplicate, see
    * [[compactDeltas]]) order the open copy first, so it closes at its
    * own tx_min and the base copy keeps the tx_max compaction gave it.
    *
    * The view holds every version; each reader applies its own
    * visibility predicate. It is materialized (eager `localCheckpoint`)
    * once per STORE STATE — the manifest plus the base and delta data
    * files of each table — and served to every open of that state, the
    * way the reference loads its graph into memory once (STMGraph
    * Raw.hs:112-175). Cost: one hash shuffle by id per CHANGED table,
    * paid by the first open after a commit, a republish or a purge and
    * tagged with the job description `openWithDeltas:refresh`; an open
    * of an unchanged state only lists the store's files, and its reads
    * scan the in-memory view — no window, no exchange, no parquet.
    * Per-batch write cost stays O(batch); [[compactDeltas]] bounds the
    * delta count. A superseded view is never freed explicitly: a reader
    * still holding it keeps reading it, and Spark's ContextCleaner
    * releases its blocks once nothing references it. Being an RDD
    * scan, the view never matches a file relation in Spark's
    * CacheManager, so a user's `persist()` of an opened frame cannot be
    * served to a later state.
    */
  def openWithDeltas(spark: SparkSession, dir: String): GraphSnapshot = {
    val s = servedFor(spark, dir)
    s.synchronized { // concurrent opens of one state rebuild once
      val manifest = readManifest(dir)
      s.nodes = refreshed(s.nodes, spark, dir, manifest, "nodes", "node_deltas", nodeSchema)
      s.edges = refreshed(s.edges, spark, dir, manifest, "edges", "edge_deltas", edgeSchema)
      GraphSnapshot(s.nodes.df, s.edges.df)
    }
  }

  /** One table's served view and the state it was built from. */
  private final case class View(manifest: Option[String], files: Seq[String], df: DataFrame)

  /** A store dir's served views, per table (null until first open). */
  private final class Served {
    var nodes: View = _
    var edges: View = _
  }

  // One entry per (session, store dir), LRU-bounded like
  // GraphAnalytics.graphCache. Eviction only drops the reference: a
  // reader may still hold the evicted views (see openWithDeltas).
  private val MaxServed = 8
  private val served =
    new java.util.LinkedHashMap[(SparkSession, String), Served](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[(SparkSession, String), Served]): Boolean =
        size() > MaxServed
    }

  private def servedFor(spark: SparkSession, dir: String): Served = served.synchronized {
    // a session compares by identity; get() refreshes LRU order
    val key = (spark, new org.apache.hadoop.fs.Path(dir).toString)
    Option(served.get(key)).getOrElse { val s = new Served; served.put(key, s); s }
  }

  /** `cur` if the table's state is unchanged, else a fresh merge. The
    * listing comes first, so a file landing before the merge reads is
    * in the view but not in its state: the next open rebuilds once
    * more, never serves an older state than it listed.
    */
  private def refreshed(cur: View, spark: SparkSession, dir: String, manifest: Option[String],
      table: String, deltaDir: String, schema: StructType): View = {
    val baseFiles = if (manifest.isDefined) Sidecar.dataFiles(s"$dir/$table") else Nil
    val deltaFiles = Sidecar.dataFiles(s"$dir/$deltaDir")
    val files = baseFiles ++ deltaFiles
    if (cur != null && cur.manifest == manifest && cur.files == files) cur
    else {
      val base = if (baseFiles.isEmpty) empty(spark, schema)
        else spark.read.schema(schema).parquet(s"$dir/$table")
      val deltas = if (deltaFiles.isEmpty) empty(spark, schema)
        else spark.read.schema(schema).option("recursiveFileLookup", "true").parquet(s"$dir/$deltaDir")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("tx_min"), col("tx_max").asc_nulls_first)
      val merged = base.unionByName(deltas)
        .withColumn("tx_max", coalesce(col("tx_max"), lead(col("tx_min"), 1).over(w)))
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription("openWithDeltas:refresh")
      try View(manifest, files, merged.localCheckpoint(true))
      finally sc.setJobDescription(prev)
    }
  }

  private def empty(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)

  /** Fold streaming deltas into the published base: take the served
    * merge-on-read view, drop versions dead before `horizon`
    * (Mvcc.compact), republish, then remove the delta directories.
    * The view is already materialized, so the republish reads it, not
    * the files it overwrites. The next [[openWithDeltas]] sees the new
    * manifest and base files and rebuilds its view from them, now over
    * zero deltas; plain [[open]] serves reads with no merge at all.
    * Crash-safe ordering: the base is republished BEFORE deltas are
    * deleted — a crash in between leaves duplicate (id, tx_min)
    * versions, which the merge-on-read window resolves (the delta copy
    * orders first, derives tx_max = its own tx_min and drops out of
    * every visibility predicate).
    */
  def compactDeltas(spark: SparkSession, dir: String, horizon: Long = 0L): Unit = {
    val g = openWithDeltas(spark, dir)
    GraphSnapshot(
      graft.operators.Mvcc.compact(g.nodes, horizon),
      graft.operators.Mvcc.compact(g.edges, horizon)).write(dir)
    Seq("node_deltas", "edge_deltas").foreach { d =>
      Sidecar.delete(s"$dir/$d", recursive = true)
    }
  }

  /** The dst-bucketed edge mirror (written with `mirrorByDst = true`):
    * substitute it for `edges` when a plan's dominant join is on
    * `dst` (IN-direction expansion) to keep that join shuffle-free.
    */
  def openBucketedDstMirror(spark: SparkSession, name: String): GraphSnapshot =
    GraphSnapshot(spark.table(s"${name}_nodes"), spark.table(s"${name}_edges_dst"))

  /** Snapshot metadata without touching data files. */
  def readManifest(dir: String): Option[String] =
    Sidecar.readString(s"$dir/_manifest.json")
}

/** Driver-side batch builder for small graphs (tests, examples) —
  * the `createObject`/`createRelation` write path (HGraphStorage
  * API.hs:157-167, 305-335) re-expressed as append-then-publish.
  * IDs are allocated monotonically (no free-list reuse: snapshots are
  * append-only; SURVEY §1.3).
  */
final class GraphBuilder {
  import scala.collection.mutable.ArrayBuffer

  private val nodeRows = ArrayBuffer.empty[Row]
  private val edgeRows = ArrayBuffer.empty[Row]
  private val labels   = scala.collection.mutable.Map.empty[Long, String]
  private var nextNode = 1L
  private var nextEdge = 1L

  private def cells(vs: Seq[PropertyValue]): Seq[Row] = vs.map {
    case PropertyValue.PVText(s)    => Row(0.toByte, s, null, null, null)
    case PropertyValue.PVInteger(i) => Row(1.toByte, null, new java.math.BigDecimal(i.bigInteger), null, null)
    case PropertyValue.PVBinary(b)  => Row(2.toByte, null, null, b, null)
    case PropertyValue.PVJson(j)    => Row(3.toByte, null, null, null, j)
  }

  def addNode(label: String, props: Map[String, Seq[PropertyValue]] = Map.empty): Long = {
    val id = nextNode; nextNode += 1
    labels(id) = label
    nodeRows += Row(id, label, props.map { case (k, v) => k -> cells(v) }, 0L, null)
    id
  }

  def addEdge(src: Long, dst: Long, label: String,
      props: Map[String, Seq[PropertyValue]] = Map.empty): Long = {
    require(labels.contains(src), s"addEdge: unknown src node id $src — addNode it first")
    require(labels.contains(dst), s"addEdge: unknown dst node id $dst — addNode it first")
    val id = nextEdge; nextEdge += 1
    edgeRows += Row(id, src, labels(src), dst, labels(dst), label,
      props.map { case (k, v) => k -> cells(v) }, 0L, null)
    id
  }

  def snapshot(spark: SparkSession): GraphSnapshot = {
    import scala.jdk.CollectionConverters._
    GraphSnapshot(
      spark.createDataFrame(nodeRows.toList.asJava, GraphSnapshot.nodeSchema),
      spark.createDataFrame(edgeRows.toList.asJava, GraphSnapshot.edgeSchema))
  }
}
