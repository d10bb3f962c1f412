package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Tombstones}

/** Marker-backlog read-tax probe (SCALE.md evidence, not a driver
  * contract): how much does an UNCOMPACTED tombstone backlog cost
  * every read of a marker store, and when is compaction due?
  *
  * Usage: `runMain graft.ProbeMarkers <dir> [reps]` where `dir` holds
  * `documents.parquet` (point it at the 100x replica). Builds the
  * band table ONCE (the biggest marker store: bands x N rows), then
  * for each backlog shape — varying marker CARDINALITY (how many ids
  * the anti-join must probe against) and FRAGMENTATION (how many
  * batch files the tombstone union lists and reads) — times a full
  * live-view scan (count through `Tombstones.live`, which cannot prune
  * the anti-join) `reps` times. Ends with a versioned compact and a
  * post-compact scan: the read the maintenance window buys back.
  * Tombstone ids are real id ranges; `Tombstones.clear` resets the
  * backlog between shapes so each is measured standalone.
  *
  * Every rep is printed (criterion-report rule); medians go to
  * SCALE.md next to the derived compaction cadence.
  */
object ProbeMarkers {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 3
    val spark = graft.core.Graft.session("graft-probe-markers",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import spark.implicits._

    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val n = docs.count()
    val layout = java.nio.file.Files.createTempDirectory("graft-markers").toString + "/bands"
    val t0 = System.nanoTime()
    graft.core.Versions.publish(layout) { v1 =>
      Dedup.bandTable(docs, "doc_id", col("text")).write.mode("overwrite").parquet(v1)
    }
    val live = graft.core.Versions.currentPath(layout).get
    val bandRows = spark.read.parquet(live).count()
    println(f"""{"probe":"markers","event":"publish","docs":$n,"band_rows":$bandRows,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")

    def timeScan(tag: String): Seq[Double] = (1 to reps).map { _ =>
      val s = System.nanoTime()
      val c = Tombstones.live(spark, live, "id").count()
      val w = (System.nanoTime() - s) / 1e9
      println(f"""{"probe":"markers","shape":"$tag%s","live_rows":$c,"sec":$w%.2f}""")
      w
    }

    def addBacklog(batches: Int, idsPerBatch: Int): Unit =
      (0 until batches).foreach { b =>
        val lo = b.toLong * idsPerBatch
        Tombstones.delete(live,
          spark.range(lo, lo + idsPerBatch).select(col("id").as("doc_id")),
          "doc_id"): Unit
      }

    // shape axis: (tag, batches, ids per batch) — cardinality relative
    // to the corpus (1% / 10%), fragmentation at fixed cardinality.
    // CEILING division for the fragmented shapes: floor would carry up
    // to 99 fewer ids than the 1-batch twin, and for any corpus under
    // 10k docs would write NO tombstones at all — silently timing the
    // marker-free fast path under a "fragmented backlog" label.
    val pct1 = math.max((n / 100L).toInt, 1)
    val pct10 = math.max((n / 10L).toInt, 1)
    def perBatch(total: Int, batches: Int): Int = {
      val k = (total + batches - 1) / batches
      require(k > 0, s"corpus too small ($n docs) for $batches-batch shapes " +
        "— the probe would mislabel a no-marker fast-path measurement")
      k
    }
    val shapes = Seq(
      ("none", 0, 0),                     // fast path: no join in the plan
      ("1pct_1batch", 1, pct1),           // one takedown batch, 1% of ids
      ("1pct_100batches", 100, perBatch(pct1, 100)), // same cardinality, 100 files
      ("10pct_1batch", 1, pct10),         // 10% of ids, one file
      ("10pct_100batches", 100, perBatch(pct10, 100))) // 10%, 100 files
    shapes.foreach { case (tag, b, k) =>
      Tombstones.clear(live)
      addBacklog(b, k)
      timeScan(tag)
    }

    // the maintenance window: compact under the worst backlog, then
    // read the fresh version (marker-free bare scan)
    val tC = System.nanoTime()
    Tombstones.compactVersioned(spark, layout)(Tombstones.compact(spark, _, _, "id"))
    val cSec = (System.nanoTime() - tC) / 1e9
    println(f"""{"probe":"markers","event":"compact","sec":$cSec%.2f}""")
    val fresh = graft.core.Versions.currentPath(layout).get
    (1 to reps).foreach { _ =>
      val s = System.nanoTime()
      val c = Tombstones.live(spark, fresh, "id").count()
      println(f"""{"probe":"markers","shape":"compacted","live_rows":$c,"sec":${(System.nanoTime() - s) / 1e9}%.2f}""")
    }
    spark.stop()
  }
}
