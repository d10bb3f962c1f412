package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming ingestion over the `events` table — the
  * engine's streaming surface (the reference's closest analog is the
  * write-behind WriteEvent queue, STMGraph Raw.hs:253-306; SURVEY
  * §2.10 marks this an extension, not parity).
  *
  * The transformation is defined ONCE ([[windowedCounts]]) and runs
  * identically in batch (driver correctness gate) and streaming
  * (readStream + watermark) — the standard Spark unification.
  */
object EventStream {

  /** `ts` arrives as epoch nanos (see Tables.events); expose as a
    * proper timestamp column.
    */
  // integer division: epoch nanos ~1.7e18 exceed double's exact range,
  // so `/ 1000` in double arithmetic is off by 1us on ~1.5% of rows
  def tsCol: Column = timestamp_micros(expr("ts div 1000"))

  /** Tumbling-window counts per event type. `window_start` is epoch
    * seconds (integer — timezone-proof for the oracle).
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ets", tsCol)
      .groupBy(window(col("ets"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        // exact decimal sum (order-independent), emitted as DOUBLE:
        // decimal output types hash differently across engines in the
        // driver gate even when pinned to the same precision
        sum(col("value").cast("decimal(18,2)")).cast("decimal(38,2)").cast("double").as("sum_value"))
      .select(unix_timestamp(col("w.start")).as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming variant: parquet source + 10-minute watermark. The
    * watermark bounds state (late rows beyond it are dropped) — at
    * scale this is what keeps windowed state O(active windows).
    */
  /** Streaming source over `events.parquet` with `ts` normalized to
    * the canonical epoch-nano LONG ([[graft.sources.Tables.normalizeEventTs]]
    * applied on the stream — same row transform, streaming-safe). The
    * schema is the RAW parquet schema (explicit, never inferred from
    * whichever file's footer a mixed dir lists first); the streaming
    * file source wants a directory, so stream the sf dir with a glob
    * filter selecting only the events table.
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // schema via Tables.readEvents: the legacy nanos-as-long conf is
    // enabled only when the footer is a genuine nano drop (where the
    // streaming scan needs it too); the common micros drop leaves the
    // session conf untouched
    val schema = graft.sources.Tables.eventsSchema(spark, s"$dir/events.parquet")
    graft.sources.Tables.normalizeEventTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
  }

  def streamingWindowedCounts(spark: SparkSession, dir: String): DataFrame = {
    val src = eventsStream(spark, dir)
    src.withColumn("ets", tsCol)
      .withWatermark("ets", "10 minutes")
      .groupBy(window(col("ets"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("w.start")).as("window_start"), col("event_type"), col("n"))
  }

  /** Stream-stream interval join: purchases 1..1800 s after a view by
    * the same user, BOTH sides unbounded streams. This is the
    * streaming form of [[graft.operators.TemporalJoin.range]] (same
    * bounds, same pairs — pinned by spec): Spark keeps both sides'
    * rows in join state and the watermark + the two-sided time bound
    * let it evict a row once no future match can arrive — the state
    * stays O(events per watermark horizon), not O(stream). At scale
    * the watermark is THE knob: without it a stream-stream join's
    * state grows without bound.
    */
  def streamIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    def src = eventsStream(spark, dir)
      .withColumn("ets", tsCol)
    val views = src.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ets").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ets").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    views.join(purchases,
      col("v_user") === col("p_user") &&
        col("p_ts") >= col("v_ts") + expr("INTERVAL 1 SECOND") &&
        col("p_ts") <= col("v_ts") + expr("INTERVAL 1800 SECONDS"))
      .select(col("v_user").as("user_id"),
        unix_timestamp(col("v_ts")).as("v_sec"),
        unix_timestamp(col("p_ts")).as("p_sec"))
  }

  /** Streaming exact dedup: duplicates dropped by key with state
    * bounded by the watermark (`dropDuplicatesWithinWatermark`) —
    * the streaming leg of the dedup surface: at-least-once upstream
    * delivery becomes exactly-once rows downstream, with state that
    * expires instead of growing with the corpus.
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events.withColumn("ets", tsCol)
      .withWatermark("ets", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming graph ingestion — the reference's write-behind writer
    * (WriteEvent queue -> files, STMGraph Raw.hs:253-306) as a
    * DELTA-APPEND upsert sink: each micro-batch writes ONLY its own
    * rows (the batch's users as fresh node versions, tx_min = batch
    * id + 1) into one delta directory under the snapshot. Nothing
    * existing is rewritten, so per-batch cost is O(batch), not
    * O(corpus) — the previous design republished the whole node table
    * every micro-batch, a scale-killer for a continuous stream.
    * Version closure is derived at read time
    * ([[graft.core.GraphSnapshot.openWithDeltas]]): in an upsert
    * stream the closing tx IS the successor's tx_min, so the derived
    * tx_max equals what an in-place close would have written.
    * Exactly-once: the delta path is keyed by batch id and written
    * with overwrite, so Structured Streaming's batch-id replay
    * contract makes redelivery idempotent. Pass `checkpointDir` in
    * production so batch ids stay monotonic across restarts; fold the
    * accumulated deltas periodically with
    * [[graft.core.GraphSnapshot.compactDeltas]].
    */
  def upsertUsersIntoSnapshot(spark: SparkSession, srcDir: String,
      snapshotDir: String, checkpointDir: Option[String] = None): StreamingQuery = {
    val src = eventsStream(spark, srcDir)
    val w = src.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      upsertUserBatch(batch, batchId + 1, snapshotDir)
    }
    checkpointDir.foreach(c => w.option("checkpointLocation", c))
    w.trigger(Trigger.AvailableNow()).start()
  }

  /** One micro-batch of the delta-append upsert sink: aggregate the
    * batch's events per user and write them as fresh node versions to
    * `node_deltas/delta_<tx>` (overwrite = idempotent replay). A batch
    * is O(batch) rows, so each leg writes ONE parquet file per table:
    * every merge-on-read refresh lists and scans one file per commit,
    * not one per input partition.
    */
  def upsertUserBatch(batch: DataFrame, tx: Long, snapshotDir: String): Unit = {
    import org.apache.spark.sql.functions.{count => cnt}
    batch.groupBy(col("user_id")).agg(cnt(lit(1)).as("n"))
      .select(col("user_id").as("id"), lit("user").as("label"),
        graft.model.PropValues.propsMap(
          "events" -> graft.model.PropValues.pvInt(col("n"))).as("props"),
        lit(tx).as("tx_min"), lit(null).cast("long").as("tx_max"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$snapshotDir/node_deltas/delta_$tx")
  }

  /** One micro-batch of EDGE deltas — the WrittenEdge/DeletedEdge leg
    * of the reference's write-behind writer (STMGraph Raw.hs:253-306,
    * Types.hs:507-518), which the sink previously lacked: a streamed
    * graph that gained edges had to fall back to full republish.
    * `edges` carries the canonical edge identity + payload columns
    * (`id`, `src`, `srcLabel`, `dst`, `dstLabel`, `label`, `props`)
    * plus an optional boolean `deleted`: a deleted row is written as a
    * TOMBSTONE version (tx_max = tx_min = tx) — it closes the live
    * predecessor through the merge-on-read lead window and is itself
    * invisible to every visibility predicate. Written rows open fresh
    * versions at `tx`. Overwrite per batch id = idempotent replay,
    * same contract as the node leg.
    */
  def upsertEdgeBatch(edges: DataFrame, tx: Long, snapshotDir: String): Unit = {
    val del = if (edges.columns.contains("deleted")) col("deleted") else lit(false)
    edges
      .select(col("id"), col("src"), col("srcLabel"), col("dst"), col("dstLabel"),
        col("label"), col("props"),
        lit(tx).as("tx_min"),
        when(del, lit(tx)).otherwise(lit(null)).cast("long").as("tx_max"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$snapshotDir/edge_deltas/delta_$tx")
  }

  /** Streaming graph ingestion with BOTH legs: each micro-batch
    * upserts the batch's user nodes, the event-type hub nodes it
    * touches, and one (user)-[:did]->(event_type) edge per observed
    * pair, all as O(batch) delta appends. Edge/hub identities are
    * deterministic hashes of their natural keys (xxhash64 — stable
    * across replays and engines), so an upsert in a later batch closes
    * the pair's previous version via the merge-on-read window exactly
    * like the node leg.
    */
  def upsertInteractionsIntoSnapshot(spark: SparkSession, srcDir: String,
      snapshotDir: String, checkpointDir: Option[String] = None): StreamingQuery = {
    val src = eventsStream(spark, srcDir)
    val w = src.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      upsertInteractionBatch(batch, batchId + 1, snapshotDir)
    }
    checkpointDir.foreach(c => w.option("checkpointLocation", c))
    w.trigger(Trigger.AvailableNow()).start()
  }

  /** Deterministic id for an event-type hub node. */
  def typeNodeId: Column = xxhash64(lit("etype"), col("event_type"))

  /** One interaction micro-batch: user nodes + type hub nodes into
    * `node_deltas`, (user)-[:did]->(type) count edges into
    * `edge_deltas` — three O(batch) writes, nothing rewritten.
    */
  def upsertInteractionBatch(batch: DataFrame, tx: Long, snapshotDir: String): Unit = {
    import org.apache.spark.sql.functions.{count => cnt}
    val users = batch.groupBy(col("user_id")).agg(cnt(lit(1)).as("n"))
      .select(col("user_id").as("id"), lit("user").as("label"),
        graft.model.PropValues.propsMap(
          "events" -> graft.model.PropValues.pvInt(col("n"))).as("props"),
        lit(tx).as("tx_min"), lit(null).cast("long").as("tx_max"))
    val types = batch.groupBy(col("event_type")).agg(cnt(lit(1)).as("n"))
      .select(typeNodeId.as("id"), lit("etype").as("label"),
        graft.model.PropValues.propsMap(
          "name" -> graft.model.PropValues.pvText(col("event_type")),
          "events" -> graft.model.PropValues.pvInt(col("n"))).as("props"),
        lit(tx).as("tx_min"), lit(null).cast("long").as("tx_max"))
    users.unionByName(types).coalesce(1)
      .write.mode("overwrite").parquet(s"$snapshotDir/node_deltas/delta_$tx")
    val pairEdges = batch.groupBy(col("user_id"), col("event_type"))
      .agg(cnt(lit(1)).as("n"))
      .select(
        xxhash64(lit("did"), col("user_id"), col("event_type")).as("id"),
        col("user_id").as("src"), lit("user").as("srcLabel"),
        typeNodeId.as("dst"), lit("etype").as("dstLabel"),
        lit("did").as("label"),
        graft.model.PropValues.propsMap(
          "count" -> graft.model.PropValues.pvInt(col("n"))).as("props"))
    upsertEdgeBatch(pairEdges, tx, snapshotDir)
  }

  /** Run the streaming query to completion against the (finite)
    * parquet source into a named memory sink; returns the query.
    */
  def runToMemory(spark: SparkSession, dir: String, name: String): StreamingQuery = {
    val q = streamingWindowedCounts(spark, dir).writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q
  }
}
