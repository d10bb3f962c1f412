package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.NearestCell

/** IVF (inverted-file) ANN: a coarse k-means quantizer partitions the
  * corpus into nlist cells; a query probes only its nprobe nearest
  * cells. The complement to [[Similarity.lshBucket]]: data-adaptive
  * cells instead of data-oblivious hyperplanes.
  *
  * Scale shape: training touches the corpus iters+1 times (assignment
  * is a scan with nlist fused dot products per row — no shuffle;
  * the centroid update is one groupBy over (cell, dim)). The trained
  * centroids are KBs-to-MBs on the driver and enter the plan as ONE
  * matrix literal inside [[NearestCell]] — the expression tree and
  * generated code stay O(1) in nlist, so realistic cell counts
  * (4k-64k) neither blow up the plan nor hit Janino limits. Search is
  * a partition-prunable cell filter + in-cell top-k. At 100 TB the
  * corpus is written bucketed/partitioned by `cell` so a probe reads
  * only nprobe/nlist of the data.
  */
object Ivf {

  final case class IvfIndex(centroids: Array[Array[Float]]) {
    def nlist: Int = centroids.length
  }

  /** Cell count sized to the corpus — the IVF analog of
    * [[Similarity.autoPlanes]]: a probe scores nlist centroids and
    * then scans ~nprobe·N/nlist vectors, so the per-query cost is
    * minimized around nlist ≈ √N (the standard IVF heuristic). A
    * FIXED nlist at a growing corpus silently degrades into a near
    * full scan per probe. Clamped to [8, 65536]; [[NearestCell]] and
    * [[graft.functions.NearestCells]] stay O(1)-sized expressions at
    * any count (IvfSpec proves nlist=1024 viability).
    */
  def autoNlist(corpusRows: Long): Int = {
    val want = math.ceil(math.sqrt(math.max(corpusRows, 1).toDouble)).toInt
    math.min(65536, math.max(8, want))
  }

  /** Cell assignment: argmin_c ||v - c||² = argmin_c (|c|² - 2 v·c).
    * Ties break to the lower cell id (first-wins scan order). One
    * codegen'd expression regardless of nlist; requires
    * [[NearestCell.register]] (done by [[train]]/[[topK]]).
    */
  def assign(vec: Column, index: IvfIndex): Column =
    NearestCell.col(vec, index.centroids)

  /** Lloyd's algorithm with deterministic init (the first nlist
    * vectors in id order). Centroid averages are exact enough that
    * ulp-level shuffle nondeterminism cannot move assignments except
    * for exactly equidistant vectors.
    *
    * Driver-memory shape (matters at the nlist ceiling): every
    * driver-side materialization is O(nlist) ROWS carrying exactly
    * the centroid matrix — the size of the returned [[IvfIndex]]
    * itself, the floor for a literal-centroid design. The update
    * previously collected the `(cell, pos, avg)` exploded frame —
    * nlist × dim ROWS (50M at 65536 × 768, multi-GB of Row overhead
    * for a 200 MB matrix); it now re-packs per cell BEFORE the
    * collect. Training input is additionally capped at
    * `maxTrainRows` by a deterministic id-hash sample (k-means
    * needs O(100-1000 × nlist) points, not the corpus — same
    * standard practice as [[Pq.train]]'s bounded sample); below the
    * cap the trained centroids are bit-identical to uncapped.
    */
  def train(spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 2, maxTrainRows: Long = 1L << 20): IvfIndex = {
    NearestCell.register(spark)
    val n = emb.count()
    val every = math.max(1L, n / math.max(maxTrainRows, 1))
    val sample =
      if (every == 1) emb
      else emb.filter(pmod(hash(col(idCol)), lit(every)) === 0)
    var centroids = sample.orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)

    (1 to iters).foreach { _ =>
      val assigned = sample.select(col(vecCol).as("v"), assign(col(vecCol), IvfIndex(centroids)).as("cell"))
      // per-(cell, dim) means stay DISTRIBUTED through both aggs; the
      // driver receives nlist rows of packed (pos, mean) arrays
      val sums = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg(col("x")).as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ms"))
        .collect()
      val next = centroids.map(_.clone())
      sums.foreach { r =>
        val cell = r.getInt(0)
        r.getSeq[org.apache.spark.sql.Row](1).foreach { pm =>
          next(cell)(pm.getInt(0)) = pm.getDouble(1).toFloat
        }
      }
      centroids = next
    }
    IvfIndex(centroids)
  }

  /** Cells in probe order for `query`: ascending distance to the
    * centroid, ties to the lower cell id. Driver-side over the KB-MB
    * centroid matrix — the probe list enters the plan as a literal.
    */
  def probeOrder(index: IvfIndex, query: Array[Float]): Seq[Int] = {
    val q2 = (c: Array[Float]) => {
      var d = 0.0; var i = 0
      while (i < c.length) { d += (query(i).toDouble - c(i)) * (query(i).toDouble - c(i)); i += 1 }
      d
    }
    index.centroids.zipWithIndex.sortBy { case (c, i) => (q2(c), i) }.map(_._2).toSeq
  }

  /** Search: probe the query's nprobe nearest cells, cosine top-k
    * within them (native expression), deterministic ordering. Assigns
    * cells over the full corpus at query time — correct anywhere, but
    * the scale path is [[writePartitioned]] + [[topKPartitioned]],
    * where the probe filter prunes at the FILE level.
    */
  def topK(spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
      index: IvfIndex, query: Array[Float], k: Int, nprobe: Int): DataFrame = {
    graft.functions.CosineSim.register(spark)
    NearestCell.register(spark)
    val probeCells = probeOrder(index, query).take(nprobe)
    emb
      .withColumn("cell", assign(col(vecCol), index))
      .filter(col("cell").isin(probeCells: _*))
      .withColumn("cos", round(graft.functions.CosineSim.col(col(vecCol), graft.functions.Lits.floats(query.toSeq)), 6))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cos"), col("cell"))
  }

  /** Publish the corpus PARTITIONED BY trained cell id — the ANN
    * analog of [[graft.core.GraphSnapshot.writeBucketed]] and the
    * missing half of the Ivf scale story: cell assignment happens ONCE
    * at publish time, and a probe then reads only nprobe/nlist of the
    * files via partition pruning (reference intent: ID→offset O(1)
    * access, HGraphStorage FileOps.hs:153-169 — here cell→directory).
    * At 100 TB add bucketing within cells; the pruning mechanics are
    * identical.
    */
  /** Fingerprint of the centroid matrix, stored in the layout's
    * metadata sidecar so appends can detect an index/layout mismatch.
    */
  private def fingerprint(index: IvfIndex): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val bb = java.nio.ByteBuffer.allocate(4)
    index.centroids.foreach(_.foreach { f =>
      bb.clear(); bb.putFloat(f); md.update(bb.array()) })
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  // The layout's one geometry sidecar (`fingerprint`, `mean_dist`),
  // written by writePartitioned. Sidecar I/O goes through
  // [[graft.core.Sidecar]] (Hadoop FileSystem API), so hdfs:// and
  // s3a:// layouts publish and verify exactly like file: paths.
  private def metaPath(path: String) = s"$path/_ivf_meta.properties"

  /** Mean squared distance of each vector to its assigned centroid —
    * the layout's publish-time dispersion, the yardstick appends are
    * drift-checked against. One scan + one tiny agg (publish cost).
    */
  private def meanAssignedDist(emb: DataFrame, vecCol: String, index: IvfIndex): Double = {
    val cents = graft.functions.Lits.floatMatrix(index.centroids.map(_.toSeq).toSeq)
    val cv = element_at(cents, col("cell") + 1)
    val d2 = aggregate(
      zip_with(col(vecCol), cv,
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (a, x) => a + x)
    val r = emb.withColumn("cell", assign(col(vecCol), index))
      .agg(avg(d2).as("m")).head()
    if (r.isNullAt(0)) 0.0 else r.getDouble(0) // null iff the frame is empty
  }

  /** Drift report from [[appendPartitioned]]: how the batch's
    * dispersion around the FROZEN centroids compares to the corpus the
    * centroids were trained on. A ratio near 1 means the batch is
    * in-distribution; a large ratio means recall at nprobe < nlist is
    * degrading and the layout deserves a retrain + republish.
    */
  final case class IvfDrift(baseMeanDist: Double, batchMeanDist: Double) {
    def ratio: Double =
      if (baseMeanDist > 0) batchMeanDist / baseMeanDist
      else if (batchMeanDist > 0) Double.PositiveInfinity else 1.0
    def drifted(threshold: Double = 1.5): Boolean = ratio > threshold
  }

  def writePartitioned(emb: DataFrame, vecCol: String, index: IvfIndex, path: String): Unit = {
    emb.withColumn("cell", assign(col(vecCol), index))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    val mean = meanAssignedDist(emb, vecCol, index)
    graft.core.Sidecar.writeProps(metaPath(path),
      Seq("fingerprint" -> fingerprint(index), "mean_dist" -> mean.toString))
  }

  /** Verify the layout's sidecar matches `index` (guards the
    * documented failure mode: retraining after drift and then
    * APPENDING with the new index would mix two cell geometries in
    * one layout — probes at nprobe < nlist silently lose recall) and
    * return its publish-time `mean_dist`, the drift baseline. A
    * MISSING sidecar, or one without `mean_dist`, is equally an error
    * (nothing proves the layout and the index agree), not a skipped
    * check. The read retries boundedly
    * ([[graft.core.Sidecar.readPropsExpected]]) so a
    * republish-in-flight (delete→rename on filesystems without atomic
    * replace) never surfaces as a spurious "no sidecar".
    */
  private def checkLayout(path: String, index: IvfIndex): Double = {
    val meta = graft.core.Sidecar.readPropsExpected(metaPath(path))
      .getOrElse(throw new IllegalArgumentException(
        s"no IVF metadata sidecar at ${metaPath(path)}: the layout was not published by " +
          "writePartitioned (or the sidecar was lost) — republish with " +
          "writePartitioned; appending unverified would risk mixing cell geometries"))
    require(meta.get("fingerprint").contains(fingerprint(index)),
      s"IVF index mismatch: layout at $path was published with centroids " +
        s"${meta.getOrElse("fingerprint", "?")} but the append uses ${fingerprint(index)} — " +
        "after a retrain, republish with writePartitioned instead of appending")
    meta.get("mean_dist").map(_.toDouble).getOrElse(throw new IllegalArgumentException(
      s"IVF metadata sidecar at ${metaPath(path)} has no mean_dist: the layout " +
        "was not published by writePartitioned — republish with writePartitioned"))
  }

  /** Append a batch to a published cell-partitioned corpus WITHOUT
    * retraining or rewriting: assign the batch with the SAME
    * base-trained centroids and append its files into the matching
    * cell directories. O(batch) work per ingestion — the ANN analog
    * of the dedup band-index append and the streaming delta sink.
    * Probes see appended vectors immediately (partition listing picks
    * up new files). Centroids deliberately do NOT move: the returned
    * [[IvfDrift]] says when to retrain + republish, exactly like
    * periodic delta compaction.
    */
  def appendPartitioned(newEmb: DataFrame, vecCol: String, index: IvfIndex, path: String): IvfDrift = {
    val baseMean = checkLayout(path, index)
    newEmb.withColumn("cell", assign(col(vecCol), index))
      .write.mode("append").partitionBy("cell").parquet(path)
    IvfDrift(baseMean, meanAssignedDist(newEmb, vecCol, index))
  }

  /** Transactional half of [[appendPartitioned]]: assign + write the
    * batch's cell-partitioned files into `stagingPath` (a private
    * directory, NOT the layout) and return the drift report. Nothing
    * is visible to probes until [[promoteStaged]] moves the files in —
    * the commit protocol [[graft.streaming.AnnStream]] builds
    * exactly-once appends on (marker between stage and promote).
    */
  def stagePartitioned(newEmb: DataFrame, vecCol: String, index: IvfIndex,
      layoutPath: String, stagingPath: String): IvfDrift = {
    val baseMean = checkLayout(layoutPath, index)
    newEmb.withColumn("cell", assign(col(vecCol), index))
      .write.mode("overwrite").partitionBy("cell").parquet(stagingPath)
    IvfDrift(baseMean, meanAssignedDist(newEmb, vecCol, index))
  }

  /** Move staged cell files into the live layout (atomic per-file
    * renames; resumable after a crash — see
    * [[graft.core.Sidecar.promoteTree]]) and drop the staging dir.
    */
  def promoteStaged(layoutPath: String, stagingPath: String): Unit =
    graft.core.Sidecar.promoteTree(stagingPath, layoutPath)

  /** Compact a cell-partitioned layout (raw-vector OR PQ-codes — the
    * mechanics only need the `cell` partition column and an id) into a
    * FRESH layout at `dstPath`: apply tombstones so deleted rows are
    * physically purged, coalesce the per-cell small files that
    * streaming appends accumulate, and carry the layout's metadata
    * over — the defrag half of the tombstone story, and the analog of
    * [[graft.operators.Mvcc]] compaction / the reference's defrag
    * intent for its leaked-bytes delete (API.hs:432-444 TODO).
    *
    * Shape at 100 TB: ONE shuffle keyed by `cell` co-locates each
    * cell's rows in a single task (parallelism = min(nlist, shuffle
    * partitions); nlist ≈ √N is in the thousands at scale), and
    * `maxRecordsPerFile` re-splits oversized cells — so per-cell file
    * count drops from O(appended batches) to
    * O(cellRows / maxRecordsPerFile) without any driver-side file
    * listing or per-cell loop. No collect anywhere.
    *
    * Metadata carried to `dstPath`: the geometry sidecar (IVF or
    * IVF-PQ — whichever the source has, fingerprint intact, so reader
    * guards keep working), and the streaming append markers (the
    * compacted data CONTAINS those batches; losing the markers would
    * make a restarted stream re-append them). Tombstones are NOT
    * carried: their rows no longer exist. The source layout is left
    * untouched — the caller flips readers to `dstPath` and retires the
    * source, the same publish-then-swap pattern as the snapshot
    * manifest (atomic for readers where an in-place rewrite could
    * never be). For an atomic flip, run it through
    * [[Tombstones.compactVersioned]].
    */
  def compactPartitioned(spark: SparkSession, srcPath: String, dstPath: String,
      idCol: String): Unit = {
    Tombstones.live(spark, srcPath, idCol).repartition(col("cell"))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", Tombstones.compactRecordsPerFile)
      .partitionBy("cell").parquet(dstPath)
    // geometry sidecar (either kind)
    Seq("_ivf_meta.properties", "_ivfpq_meta.properties").foreach { name =>
      graft.core.Sidecar.readString(s"$srcPath/$name")
        .foreach(graft.core.Sidecar.writeString(s"$dstPath/$name", _))
    }
    // streaming append markers: one file per applied batch key
    graft.core.Sidecar.listNames(s"$srcPath/_ivf_applied").foreach { key =>
      graft.core.Sidecar.writeString(s"$dstPath/_ivf_applied/$key", "")
    }
  }

  /** Search over a published cell-partitioned corpus. The probe-cell
    * filter is a PARTITION filter — only the probed directories are
    * listed and read (IvfSpec pins selectedPartitions == nprobe) — and
    * [[NearestCell]] is never evaluated at query time. `pred` is an
    * extra row filter applied before the top-k (pushed to the scan).
    */
  def topKPartitioned(spark: SparkSession, path: String, idCol: String, vecCol: String,
      index: IvfIndex, query: Array[Float], k: Int, nprobe: Int,
      pred: Column = lit(true)): DataFrame = {
    graft.functions.CosineSim.register(spark)
    val probeCells = probeOrder(index, query).take(nprobe)
    Tombstones.applyTo(
      spark.read.parquet(path).filter(col("cell").isin(probeCells: _*) && pred),
      path, idCol)
      .withColumn("cos", round(graft.functions.CosineSim.col(col(vecCol), graft.functions.Lits.floats(query.toSeq)), 6))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("cos"), col("cell"))
  }

  /** Batch kNN JOIN — the training-data pipeline's dominant ANN shape
    * (retrieval dedup, hard-negative mining): top-k probed neighbors
    * for EVERY vector of a query set in one job, against a published
    * cell-partitioned corpus. Reference analog: the every-key lookup
    * sweep (HGraphStorage perf/.../HackageTest.hs:150-165).
    *
    * Shape, stage by stage:
    *  1. each query's nprobe probe cells come from ONE codegen'd
    *     [[NearestCells]] scan of the query set, exploded to
    *     (q_id, q_vec, cell) — no per-query driver work;
    *  2. the UNION of probe cells (≤ nlist ints, a driver-tiny
    *     collect) becomes a literal partition filter, so the corpus
    *     scan stays file-pruned exactly like [[topKPartitioned]];
    *  3. the exploded query side is broadcast and joined cell-to-cell:
    *     the corpus never shuffles, and each corpus row meets only the
    *     queries probing its cell;
    *  4. scoring projects down to (q_id, id, cos) BEFORE the per-query
    *     rank, so the only shuffle in the plan moves narrow triples,
    *     never vectors.
    *
    * At 100 TB the query set that no longer fits a broadcast is sliced
    * into broadcastable slabs driven by an outer loop — each slab keeps
    * this exact plan (pruned scan, no corpus shuffle); co-partitioning
    * both sides by cell would instead put the whole corpus through a
    * skewed low-cardinality exchange.
    *
    * `pairFilter` may reference `q_id` and corpus columns (e.g.
    * `col("q_id") =!= col(idCol)` to drop self-matches when the query
    * set is drawn from the corpus). Output: (q_id, idCol, cos).
    */
  /** [[topKBatch]] for query sets too large to broadcast whole: hash
    * the query ids into `slabs` groups and run one [[topKBatch]] per
    * slab, unioning the results. Each slab keeps the exact
    * single-batch plan — pruned corpus scan, broadcast query side,
    * narrow-triple rank shuffle — so the corpus is scanned once per
    * slab but never shuffled; this is the deliberate trade against
    * co-partitioning both sides by cell, which would put the whole
    * corpus through one skewed low-cardinality exchange. Size `slabs`
    * so (query rows / slabs) × (vector bytes + id) fits the broadcast
    * budget. Results are identical to the unsliced call for any slab
    * count (IvfBatchSpec pins slabs=3 ≡ slabs=1).
    */
  def topKBatchSlabbed(spark: SparkSession, path: String, queries: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      index: IvfIndex, k: Int, nprobe: Int, slabs: Int,
      pairFilter: Column = lit(true)): DataFrame = {
    require(slabs >= 1, s"slabs must be >= 1, got $slabs")
    (0 until slabs).map { s =>
      topKBatch(spark, path, queries.filter(pmod(hash(col(qIdCol)), lit(slabs)) === s),
        qIdCol, qVecCol, idCol, vecCol, index, k, nprobe, pairFilter)
    }.reduce(_.unionAll(_))
  }

  /** Recall@k of an approximate result against exact ground truth —
    * the quality metric every approximate tier (partial-probe IVF,
    * PQ/ADC, residual IVF-PQ) is tuned by. Both inputs are batch
    * top-k frames keyed by (`q_id`, `idCol`) — narrow triples, so the
    * join and per-query aggregate move id pairs, never vectors.
    * Output: one row per query — (q_id, hits, n, recall) where `n` is
    * the exact result count (min(k, candidates) — the standard
    * denominator when the corpus is smaller than k) and
    * recall = hits / n rounded to 6.
    *
    * Ground truth at 100 TB is itself a batch job ([[topKBatch]] at
    * nprobe = nlist, or brute force on a sampled query set) — recall
    * is always MEASURED on a sample, never assumed from parameters.
    */
  def recallOf(exact: DataFrame, approx: DataFrame, idCol: String): DataFrame = {
    // each leg is deduped on (q_id, id) first: a layout holding
    // duplicate ids (e.g. a batch re-ingested by an undeduplicated
    // append) would otherwise multiply rows through the join and
    // distort both hits and the denominator (n could exceed k)
    val a = approx.select(col("q_id"), col(idCol)).distinct().withColumn("hit", lit(1))
    exact.select(col("q_id"), col(idCol)).distinct()
      .join(a, Seq("q_id", idCol), "left")
      .groupBy("q_id")
      .agg(coalesce(sum("hit"), lit(0)).cast("long").as("hits"),
        count(lit(1)).as("n"))
      .withColumn("recall", round(col("hits") / col("n"), 6))
  }

  /** Per-query recall@k of the nprobe-probed batch path against the
    * probe-everything (≡ brute force) path over the same published
    * layout. Two [[topKBatch]] jobs + a narrow-triple join; the
    * corpus is scanned (pruned) twice and shuffled never.
    */
  def recallAtK(spark: SparkSession, path: String, queries: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      index: IvfIndex, k: Int, nprobe: Int,
      pairFilter: Column = lit(true)): DataFrame = {
    val exact = topKBatch(spark, path, queries, qIdCol, qVecCol, idCol, vecCol,
      index, k, index.nlist, pairFilter)
    val approx = topKBatch(spark, path, queries, qIdCol, qVecCol, idCol, vecCol,
      index, k, nprobe, pairFilter)
    recallOf(exact, approx, idCol)
  }

  /** Smallest power-of-two nprobe whose MEAN recall@k over the sample
    * query set meets `targetRecall` (capped at nlist, where recall is
    * 1 by construction) — the knob-tuning loop a pipeline runs once
    * per layout, on a sampled query set, not per query. The exact leg
    * is computed once and persisted; each candidate nprobe pays one
    * pruned corpus scan. Returns (nprobe, measured mean recall).
    */
  def nprobeForRecall(spark: SparkSession, path: String, sampleQueries: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      index: IvfIndex, k: Int, targetRecall: Double,
      pairFilter: Column = lit(true)): (Int, Double) = {
    val exact = topKBatch(spark, path, sampleQueries, qIdCol, qVecCol, idCol, vecCol,
      index, k, index.nlist, pairFilter)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (sampleQueries.isEmpty) return (1, 1.0) // vacuous: nothing to tune against
      // a non-empty sample whose ground-truth leg is EMPTY (pairFilter
      // rejected every pair, all probe cells tombstoned, empty layout)
      // measured nothing — returning (1, 1.0) would report a perfectly
      // tuned layout on zero evidence
      require(!exact.isEmpty,
        "nprobeForRecall: the exact ground-truth leg is empty for a non-empty " +
          "query sample — the pairFilter/tombstones/layout leave nothing to " +
          "measure recall against; fix the sample or the filter instead of " +
          "trusting an unmeasured default")
      var np = 1
      while (true) {
        val approx = topKBatch(spark, path, sampleQueries, qIdCol, qVecCol, idCol, vecCol,
          index, k, np, pairFilter)
        val mean = recallOf(exact, approx, idCol).agg(avg(col("recall"))).head().getDouble(0)
        if (mean >= targetRecall || np >= index.nlist) return (np, mean)
        np = math.min(np * 2, index.nlist)
      }
      throw new IllegalStateException("unreachable")
    } finally exact.unpersist()
  }

  def topKBatch(spark: SparkSession, path: String, queries: DataFrame,
      qIdCol: String, qVecCol: String, idCol: String, vecCol: String,
      index: IvfIndex, k: Int, nprobe: Int,
      pairFilter: Column = lit(true)): DataFrame = {
    graft.functions.CosineSim.register(spark)
    graft.functions.NearestCells.register(spark)
    val np = math.min(nprobe, index.nlist)
    val qcells = queries.select(col(qIdCol).as("q_id"), col(qVecCol).as("q_vec"),
      explode(graft.functions.NearestCells.col(col(qVecCol), index.centroids, np)).as("cell"))
    val wanted = qcells.select("cell").distinct().collect().map(_.getInt(0)).toSeq
    val corpus = Tombstones.applyTo(
      spark.read.parquet(path).filter(col("cell").isin(wanted: _*)), path, idCol)
    val scored = corpus.join(broadcast(qcells), Seq("cell"))
      .filter(pairFilter)
      .select(col("q_id"), col(idCol),
        round(graft.functions.CosineSim.col(col(vecCol), col("q_vec")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("cos").desc, col(idCol).asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k).drop("rk")
  }
}
