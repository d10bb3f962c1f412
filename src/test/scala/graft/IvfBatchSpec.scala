package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Ivf, Similarity}

/** Batch kNN join over the cell-partitioned IVF layout, the
  * [[graft.functions.NearestCells]] probe-list expression behind it,
  * and the append-time drift probe. Reference analog of the batch
  * shape: the every-key lookup sweep in the reference's perf harness
  * (HGraphStorage perf/.../HackageTest.hs:150-165).
  */
class IvfBatchSpec extends GraftSuite {

  private lazy val emb = graft.sources.Tables(spark, sf001).embeddings

  private def layout(nlist: Int = 8): (Ivf.IvfIndex, String) = {
    val idx = Ivf.train(spark, emb, "vec_id", "embedding", nlist = nlist)
    val path = java.nio.file.Files.createTempDirectory("ivf-batch").toString
    Ivf.writePartitioned(emb, "embedding", idx, path)
    (idx, path)
  }

  test("NearestCells: k=1 prefix equals nearest_cell; list ascending by distance") {
    graft.functions.NearestCells.register(spark)
    val idx = Ivf.train(spark, emb, "vec_id", "embedding", nlist = 8)
    val bad = emb.select(
        Ivf.assign(col("embedding"), idx).as("one"),
        graft.functions.NearestCells.col(col("embedding"), idx.centroids, 3).as("cells"))
      .filter(col("one") =!= element_at(col("cells"), 1))
      .count()
    assert(bad == 0, s"$bad rows where nearest_cells[1] != nearest_cell")

    // full-length list at k=nlist is a permutation of all cells, and its
    // order matches the driver-side probeOrder for a sampled vector
    val v = emb.filter(col("vec_id") === 7L).select("embedding")
      .head().getSeq[Float](0).toArray
    val fromExpr = emb.filter(col("vec_id") === 7L)
      .select(graft.functions.NearestCells.col(col("embedding"), idx.centroids, 8))
      .head().getSeq[Int](0)
    assert(fromExpr.sorted == (0 until 8), "k=nlist emits every cell once")
    // NearestCells orders by |c|^2 - 2 v.c, equal-ordered with probeOrder's
    // (v-c)^2 for a fixed v — the two rankings must agree
    assert(fromExpr == Ivf.probeOrder(idx, v),
      "expression probe order must match the driver-side probe order")
  }

  test("topKBatch at nprobe=nlist equals per-query brute force") {
    val (idx, path) = layout()
    val qs = emb.filter(col("vec_id") < 5)
    val got = Ivf.topKBatch(spark, path, qs, "vec_id", "embedding",
        "vec_id", "embedding", idx, k = 5, nprobe = idx.nlist,
        pairFilter = col("q_id") =!= col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    assert(got.keySet == Set(0L, 1L, 2L, 3L, 4L), "every query answered")
    for (q <- got.keySet) {
      val qv = emb.filter(col("vec_id") === q).select("embedding")
        .head().getSeq[Float](0)
      val exact = Similarity.topK(emb.filter(col("vec_id") =!= q),
          "vec_id", "embedding", qv, 5)
        .collect().map(_.getLong(0)).toSet
      assert(got(q) == exact, s"query $q: batch join != brute force")
    }
  }

  test("topKBatch plan: corpus scan pruned to probed partitions, query side broadcast") {
    val (idx, path) = layout()
    val qs = emb.filter(col("vec_id") < 3)
    // AQE would wrap the join in an AdaptiveSparkPlanExec leaf; turn it
    // off so the static physical operators are directly inspectable
    // (the assertions below are about the STATIC shape AQE starts from)
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    try {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val df = Ivf.topKBatch(spark, path, qs, "vec_id", "embedding",
      "vec_id", "embedding", idx, k = 5, nprobe = 2)
    val plan = df.queryExecution.executedPlan

    // the corpus side reads ONLY the union of the queries' probe cells
    graft.functions.NearestCells.register(spark)
    val wanted = qs.select(explode(
        graft.functions.NearestCells.col(col("embedding"), idx.centroids, 2)).as("c"))
      .distinct().count()
    val corpusScans = plan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("ivf-batch")) => f
    }
    assert(corpusScans.nonEmpty, "plan reads the published layout")
    val partsRead = corpusScans.map(_.selectedPartitions.partitionCount).sum
    assert(partsRead == wanted,
      s"corpus scan must read exactly the ${wanted} probed cells, read $partsRead")

    // the query side is broadcast: the corpus never shuffles for the join
    assert(plan.toString.contains("BroadcastHashJoin"),
      "cell-to-cell join must broadcast the exploded query side")
    // the only Exchange moves narrow (q_id, id, cos) triples for the rank
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size == 1, s"expected one rank shuffle, got ${exchanges.size}")
    val shuffled = exchanges.head.child.schema.fieldNames.toSet
    assert(!shuffled.exists(_.contains("embedding")) && !shuffled.exists(_.contains("q_vec")),
      s"rank shuffle must carry scores, not vectors: $shuffled")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prior)
  }

  test("autoNlist sizes cells to ~sqrt(corpus), clamped") {
    assert(Ivf.autoNlist(10) == 8, "min clamp")
    assert(Ivf.autoNlist(10000) == 100)
    assert(Ivf.autoNlist(1000000) == 1000)
    assert(Ivf.autoNlist(Long.MaxValue) == 65536, "max clamp")
  }

  test("topKBatchSlabbed: any slab count returns exactly the unsliced result") {
    val (idx, path) = layout()
    val qs = emb.filter(col("vec_id") < 8)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val whole = rows(Ivf.topKBatch(spark, path, qs, "vec_id", "embedding",
      "vec_id", "embedding", idx, k = 5, nprobe = 2,
      pairFilter = col("q_id") =!= col("vec_id")))
    val slabbed = rows(Ivf.topKBatchSlabbed(spark, path, qs, "vec_id", "embedding",
      "vec_id", "embedding", idx, k = 5, nprobe = 2, slabs = 3,
      pairFilter = col("q_id") =!= col("vec_id")))
    assert(slabbed == whole, "slab slicing must not change results")
    assert(whole.map(_._1) == Set(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L), "all queries answered")
  }

  test("appendPartitioned drift probe: in-distribution quiet, drifted batch trips") {
    val base  = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val idx = Ivf.train(spark, base, "vec_id", "embedding", nlist = 8)
    val path = java.nio.file.Files.createTempDirectory("ivf-drift").toString
    Ivf.writePartitioned(base, "embedding", idx, path)

    // a same-distribution batch sits near the publish-time dispersion
    val ok = Ivf.appendPartitioned(batch, "embedding", idx, path)
    assert(!ok.drifted(), s"in-distribution batch flagged as drift: ratio=${ok.ratio}")

    // a shifted batch (same vectors, constant offset away from every
    // centroid) must trip the signal
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val shift = typedLit(Seq.fill(dim)(2.0f))
    val far = batch.withColumn("embedding",
      zip_with(col("embedding"), shift, (x, s) => (x + s).cast("float")))
    val bad = Ivf.appendPartitioned(far, "embedding", idx, path)
    assert(bad.drifted(), s"shifted batch not flagged: ratio=${bad.ratio}")
    assert(bad.ratio > ok.ratio, "drifted ratio exceeds in-distribution ratio")
  }

  test("NearestCells: a NaN-bearing vector yields distinct probe cells, not duplicates") {
    graft.functions.NearestCells.register(spark)
    val idx = Ivf.train(spark, emb, "vec_id", "embedding", nlist = 8)
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val bad = spark.createDataFrame(Seq((1L, Seq.fill(dim)(Float.NaN))))
      .toDF("id", "v").select(col("id"), col("v").cast("array<float>").as("v"))
    for (k <- Seq(2, 8)) {
      val cells = bad.select(
        graft.functions.NearestCells.col(col("v"), idx.centroids, k)).head().getSeq[Int](0)
      assert(cells.distinct.size == k,
        s"NaN vector must still emit $k DISTINCT cells (duplicates would duplicate " +
          s"top-k rows after the cell join), got $cells")
    }
  }

  test("appendPartitioned refuses a layout without a metadata sidecar") {
    val idx = Ivf.train(spark, emb, "vec_id", "embedding", nlist = 4)
    val path = java.nio.file.Files.createTempDirectory("ivf-nosidecar").toString
    // a layout NOT published by writePartitioned: plain partitioned write
    emb.withColumn("cell", Ivf.assign(col("embedding"), idx))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    val e = intercept[IllegalArgumentException] {
      Ivf.appendPartitioned(emb.limit(5), "embedding", idx, path)
    }
    assert(e.getMessage.contains("sidecar"), s"unexpected message: ${e.getMessage}")
  }
}
