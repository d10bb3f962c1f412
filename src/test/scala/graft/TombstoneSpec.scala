package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Ivf, Pq, Similarity, Tombstones}

/** Id-level deletes + compaction over published ANN layouts: the
  * tombstone anti-join hides ids in every read path (raw IVF, batch
  * kNN, IVF-PQ, residual IVF-PQ), append-after-delete stays hidden,
  * a tombstone-free layout keeps its exact pre-delete plan, and
  * compaction physically purges rows, coalesces small files, and
  * carries sidecars + streaming markers to the fresh layout.
  */
class TombstoneSpec extends GraftSuite {

  private lazy val emb = graft.sources.Tables(spark, sf001).embeddings

  private def freshLayout(): (Ivf.IvfIndex, String) = {
    val idx = Ivf.train(spark, emb, "vec_id", "embedding", nlist = 8)
    val path = java.nio.file.Files.createTempDirectory("ivf-tomb").toString
    Ivf.writePartitioned(emb, "embedding", idx, path)
    (idx, path)
  }

  private def queryVec(): Array[Float] =
    emb.filter(col("vec_id") === 0L).select(col("embedding"))
      .head().getSeq[Float](0).toArray

  private def idsOf(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq

  test("deletes hide ids from probed search; empty tombstone set leaves the plan join-free") {
    val (idx, path) = freshLayout()
    val q = queryVec()

    val pre = Ivf.topKPartitioned(spark, path, "vec_id", "embedding",
      idx, q, 10, nprobe = 8, pred = col("vec_id") =!= 0L)
    // no tombstones -> no join node: the scan plan is the pre-delete plan
    assert(!pre.queryExecution.executedPlan.toString.contains("Anti"),
      "a layout without tombstones must not pay an anti join")
    val preIds = idsOf(pre)

    val victims = preIds.take(3)
    import spark.implicits._
    assert(Tombstones.delete(path, victims.toDF("vec_id"), "vec_id") == 3)

    val post = Ivf.topKPartitioned(spark, path, "vec_id", "embedding",
      idx, q, 10, nprobe = 8, pred = col("vec_id") =!= 0L)
    val postIds = idsOf(post)
    assert(postIds.size == 10)
    assert(victims.forall(v => !postIds.contains(v)), s"deleted $victims leaked into $postIds")

    // and the result is exactly brute force over the surviving corpus
    val exact = idsOf(Similarity.topK(
      emb.filter(col("vec_id") =!= 0L && !col("vec_id").isin(victims: _*)),
      "vec_id", "embedding", q.toSeq, 10))
    assert(postIds == exact, "post-delete probe-all must equal brute force minus victims")
  }

  test("a small marker set is broadcast even with auto-broadcast disabled") {
    // the ops setting the size-conditional hint exists for:
    // autoBroadcastJoinThreshold = -1 (common in production) must not
    // turn every marker-store read into a corpus-wide shuffle by id
    val (_, path) = freshLayout()
    import spark.implicits._
    Tombstones.delete(path, Seq(1L, 2L, 3L).toDF("vec_id"), "vec_id"): Unit
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Tombstones.applyTo(spark.read.parquet(path), path, "vec_id")
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
        s"a KB-sized marker set must broadcast under autoBroadcast=-1:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("append-after-delete stays hidden until compaction") {
    val (idx, path) = freshLayout()
    import spark.implicits._
    val victim = 7L
    Tombstones.delete(path, Seq(victim).toDF("vec_id"), "vec_id")
    // re-append the same id (content immaterial — the id is dead)
    Ivf.appendPartitioned(emb.filter(col("vec_id") === victim), "embedding", idx, path)
    val q = queryVec()
    val got = idsOf(Ivf.topKPartitioned(spark, path, "vec_id", "embedding",
      idx, q, emb.count().toInt, nprobe = 8, pred = col("vec_id") =!= 0L))
    assert(!got.contains(victim), "a tombstone hides the id, including later appends")
  }

  test("batch kNN join honors tombstones") {
    val (idx, path) = freshLayout()
    val q = queryVec()
    val victims = idsOf(Ivf.topKPartitioned(spark, path, "vec_id", "embedding",
      idx, q, 3, nprobe = 8, pred = col("vec_id") =!= 0L))
    import spark.implicits._
    Tombstones.delete(path, victims.toDF("vec_id"), "vec_id")
    val queries = emb.filter(col("vec_id") === 0L)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val got = Ivf.topKBatch(spark, path, queries, "q_id", "q_vec",
        "vec_id", "embedding", idx, k = 10, nprobe = idx.nlist,
        pairFilter = col("q_id") =!= col("vec_id"))
      .collect().map(_.getLong(1)).toSet
    assert(victims.forall(v => !got.contains(v)), s"batch kNN leaked deleted ids: $got")
  }

  test("IVF-PQ and residual layouts honor tombstones") {
    val coarse = Ivf.train(spark, emb, "vec_id", "embedding", nlist = 8)
    val pq  = Pq.train(spark, emb, "vec_id", "embedding", nsub = 8, ksub = 16)
    val rpq = Pq.trainResidual(spark, emb, "vec_id", "embedding", coarse, nsub = 8, ksub = 16)
    val plain = java.nio.file.Files.createTempDirectory("pq-tomb").toString
    val resid = java.nio.file.Files.createTempDirectory("pq-tomb-r").toString
    Pq.writePartitionedPq(emb, "vec_id", "embedding", coarse, pq, plain)
    Pq.writePartitionedPqResidual(emb, "vec_id", "embedding", coarse, rpq, resid)
    val q = queryVec()

    def top(path: String, residual: Boolean): Seq[Long] = {
      val df = if (residual)
        Pq.topKPartitionedPqResidual(spark, path, "vec_id", coarse, rpq, q, 10,
          nprobe = 8, pred = col("vec_id") =!= 0L)
      else
        Pq.topKPartitionedPq(spark, path, "vec_id", coarse, pq, q, 10,
          nprobe = 8, pred = col("vec_id") =!= 0L)
      df.collect().map(_.getLong(0)).toSeq
    }

    import spark.implicits._
    val vPlain = top(plain, residual = false).take(2)
    Tombstones.delete(plain, vPlain.toDF("vec_id"), "vec_id")
    assert(vPlain.forall(v => !top(plain, residual = false).contains(v)))

    val vRes = top(resid, residual = true).take(2)
    Tombstones.delete(resid, vRes.toDF("vec_id"), "vec_id")
    assert(vRes.forall(v => !top(resid, residual = true).contains(v)))
  }

  test("compaction purges deleted rows, coalesces appended files, carries sidecar and markers") {
    val (idx, path) = freshLayout()
    import spark.implicits._
    // fragment the layout: two appends -> extra files per touched cell
    Ivf.appendPartitioned(emb.filter(col("vec_id") < 20), "embedding", idx, path)
    Ivf.appendPartitioned(emb.filter(col("vec_id") >= 20 && col("vec_id") < 40),
      "embedding", idx, path)
    val victims = Seq(3L, 11L, 29L)
    Tombstones.delete(path, victims.toDF("vec_id"), "vec_id")
    // a streaming marker that must survive compaction
    graft.core.Sidecar.writeString(s"$path/_ivf_applied/cafe01_7", "")

    val q = queryVec()
    val before = idsOf(Ivf.topKPartitioned(spark, path, "vec_id", "embedding",
      idx, q, 10, nprobe = 8, pred = col("vec_id") =!= 0L))

    val dst = java.nio.file.Files.createTempDirectory("ivf-compact").toString
    Ivf.compactPartitioned(spark, path, dst, "vec_id")

    // identical results through the guarded read path (sidecar carried)
    val after = idsOf(Ivf.topKPartitioned(spark, dst, "vec_id", "embedding",
      idx, q, 10, nprobe = 8, pred = col("vec_id") =!= 0L))
    assert(after == before, "compaction must not change results")

    // rows are PHYSICALLY gone: raw read, no anti join involved
    val rawRows = spark.read.parquet(dst).select("vec_id").collect().map(_.getLong(0))
    val raw = rawRows.toSet
    assert(victims.forall(v => !raw.contains(v)), "deleted rows must be purged, not masked")
    // every base + appended row survives except the victims' copies
    // (each victim id < 40 has a base copy AND an appended copy)
    assert(rawRows.length.toLong == emb.count() + 40 - 2 * victims.size)
    assert(raw.size.toLong == emb.count() - victims.size)

    def dataFiles(root: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(root))
    }
    assert(dataFiles(dst) < dataFiles(path),
      s"compaction must coalesce files: dst=${dataFiles(dst)} src=${dataFiles(path)}")
    // one task per cell, default maxRecordsPerFile -> one file per cell
    val cells = new java.io.File(dst).listFiles().count(f => f.getName.startsWith("cell="))
    assert(dataFiles(dst) == cells, "expected exactly one file per occupied cell")

    // fresh layout starts tombstone-free, markers carried over
    assert(!graft.core.Sidecar.exists(s"$dst/_tombstones"))
    assert(graft.streaming.AnnStream.appliedBatches(dst).contains("cafe01:7"),
      "streaming replay markers must survive compaction")
  }

  test("concurrent takedown batches: one batch's cleanup leaves another's in-flight staging intact") {
    val (idx, path) = freshLayout()
    import spark.implicits._
    // another takedown mid-flight: its staging dir exists under the
    // shared root when this batch's delete commits and cleans up
    Seq(101L).toDF("id").coalesce(1)
      .write.parquet(s"$path/_tombstones_staging/other-batch")
    assert(Tombstones.delete(path, Seq(1L, 2L).toDF("vec_id"), "vec_id") == 2)
    assert(graft.core.Sidecar.exists(s"$path/_tombstones_staging/other-batch"),
      "a concurrent batch's staging must survive another batch's cleanup")
    // the in-flight batch completes its own commit: both are visible
    graft.core.Sidecar.renameDir(s"$path/_tombstones_staging/other-batch",
      s"$path/_tombstones/other-batch")
    val ids = Tombstones.ids(spark, path).get.collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 101L), s"both batches' tombstones visible, got $ids")

    // with no concurrent batch, the shared staging root is tidied away
    Tombstones.delete(path, Seq(3L).toDF("vec_id"), "vec_id")
    assert(!graft.core.Sidecar.exists(s"$path/_tombstones_staging"),
      "an uncontended delete removes the empty staging root")
  }

  test("compactVersionedRecheck re-applies a tombstone batch landing after the compact scan") {
    val idx = Ivf.train(spark, emb, "vec_id", "embedding", nlist = 8)
    val root = java.nio.file.Files.createTempDirectory("ivf-recheck").toString + "/layout"
    graft.core.Versions.publish(root) { v1 =>
      Ivf.writePartitioned(emb, "embedding", idx, v1)
    }
    val src = graft.core.Versions.currentPath(root).get
    import spark.implicits._
    // an ordinary pre-compact takedown: purged physically by the scan
    Tombstones.delete(src, Seq(3L).toDF("vec_id"), "vec_id")
    // compact with a takedown batch landing AFTER the scan ran but
    // BEFORE the pointer flip — the lost-delete window
    Tombstones.compactVersioned(spark, root) { (live, dst) =>
      Ivf.compactPartitioned(spark, live, dst, "vec_id")
      Tombstones.delete(src, Seq(11L, 29L).toDF("vec_id"), "vec_id"): Unit
    }
    val dst = graft.core.Versions.currentPath(root).get
    assert(dst != src)
    val live = Tombstones.applyTo(spark.read.parquet(dst), dst, "vec_id")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!live.contains(3L), "the pre-compact tombstone must stay deleted")
    assert(!live.contains(11L) && !live.contains(29L),
      "a batch landing after the compact scan must be re-applied to the new version")
    assert(live.size.toLong == emb.count() - 3)
    // the re-applied batch is a MARKER on the new version (its rows
    // were copied live by the scan and are still physically present)
    val raw = spark.read.parquet(dst).select("vec_id").collect().map(_.getLong(0)).toSet
    assert(raw.contains(11L) && raw.contains(29L),
      "re-application is a marker write, not a rewrite")
  }

  test("a staged (un-renamed) tombstone batch is invisible to readers") {
    val (idx, path) = freshLayout()
    import spark.implicits._
    // simulate a writer that died mid-stage: files exist under the
    // hidden staging root but were never renamed into _tombstones/
    Seq(1L, 2L).toDF("id").coalesce(1)
      .write.parquet(s"$path/_tombstones_staging/dead")
    val q = queryVec()
    val got = idsOf(Ivf.topKPartitioned(spark, path, "vec_id", "embedding",
      idx, q, emb.count().toInt, nprobe = 8, pred = col("vec_id") =!= 0L))
    assert(got.contains(1L) && got.contains(2L),
      "a crashed stage must not delete anything")
    assert(Tombstones.ids(spark, path).isEmpty)
  }

  test("marker reads scan listed batch files: no root path is a glob or an _-named dir") {
    import spark.implicits._
    def rootPaths(df: org.apache.spark.sql.DataFrame): Seq[org.apache.hadoop.fs.Path] =
      df.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
      }.collect {
        case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation => h.location.rootPaths
      }.flatten
    val layout = java.nio.file.Files.createTempDirectory("tomb-roots").toString
    Tombstones.delete(layout, Seq(1L, 2L).toDF("id"), "id")
    Tombstones.delete(layout, Seq(3L).toDF("id"), "id")
    val lex = graft.queries.SessionPublish.tempDir("tomb-roots-lex") + "/idx"
    graft.pipeline.Retrieval.publishIndex(
      Seq((1L, "a b"), (2L, "b c")).toDF("doc_id", "text"), "doc_id", col("text"), lex, 2)
    graft.pipeline.Retrieval.deleteDocs(spark, lex, Seq(1L))
    val reads = Seq(
      "Tombstones.ids" -> Tombstones.ids(spark, layout).get,
      "Retrieval.readTombstones" -> graft.pipeline.Retrieval.readTombstones(spark, lex).get)
    for ((name, df) <- reads) {
      val roots = rootPaths(df)
      assert(roots.nonEmpty, s"$name: no file relation in the plan")
      assert(roots.forall(p => !p.toString.contains("*") && !p.getName.startsWith("_")),
        s"$name read roots $roots")
    }
    assert(idsOf(reads.head._2).sorted === Seq(1L, 2L, 3L))
    assert(idsOf(reads(1)._2) === Seq(1L))
  }
}
