package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The type-dictionary surface — the reference's "Model": bidirectional
  * name⇄id lookups for node types, edge types, and property types,
  * created lazily on first use (HGraphStorage Types.hs:335-355,
  * API.hs:471-490; STMGraph Raw.hs:352-367). Property types are
  * identified by (name, dataType) pairs — the same name with two
  * datatypes is two entries (Types.hs:338).
  *
  * In the Spark engine labels stay strings in the public API (parquet
  * dictionary-encodes them); the model table exists as queryable
  * metadata and broadcast-joinable dimension, derived from the
  * snapshot itself — so it can never drift from the data.
  */
object Model {

  /** Derive the model table from a snapshot: one row per (kind, name[,
    * dataType]), ids assigned by first-seen name order (dense ranks
    * over sorted names — deterministic).
    */
  def fromSnapshot(spark: SparkSession, g: GraphSnapshot): DataFrame = {
    val live = g.live
    // The unpartitioned window funnels the dictionary through one
    // partition — intentional: a dictionary is distinct labels/prop
    // names (dozens of rows by construction, never corpus-sized), and
    // global ids require a global order. The corpus-sized work
    // (distinct) happens BEFORE the window, fully parallel.
    def dict(kind: String, names: DataFrame): DataFrame =
      names.distinct()
        .withColumn("id", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("name"), col("dataType"))))
        .select(lit(kind).as("kind"), col("id"), col("name"), col("dataType"))

    val nodeTypes = dict("node", live.nodes.select(col("label").as("name"),
      lit(null).cast("byte").as("dataType")))
    val edgeTypes = dict("edge", live.edges.select(col("label").as("name"),
      lit(null).cast("byte").as("dataType")))
    // property types: every (name, vType) pair used anywhere
    def propTypes(df: DataFrame) = df
      .select(explode(col("props")).as(Seq("name", "vals")))
      .select(col("name"), explode(col("vals")).as("v"))
      .select(col("name"), col("v.vType").as("dataType"))
    val props = dict("prop", propTypes(live.nodes).unionAll(propTypes(live.edges)))
    nodeTypes.unionAll(edgeTypes).unionAll(props)
  }

  /** Persist the dictionary next to the snapshot tables
    * (readModel/writeModel, FileOps.hs:113-148) — as a VERSIONED base:
    * the new parquet lands invisibly under `model_base/v<N>` and one
    * atomic pointer write flips readers to it, so a crash mid-publish
    * can never lose or tear the previous base (the old
    * delete-then-overwrite had a window where names living only in
    * the base were gone). Superseded versions are pruned only after
    * the flip is durable.
    */
  def write(model: DataFrame, dir: String): Unit = {
    // claim the target version EXCLUSIVELY before writing: two racing
    // writers (e.g. concurrent [[compact]]s) otherwise both resolve
    // prev=N and run overwrite-mode parquet jobs into the same
    // v(N+1) directory concurrently — a torn base
    var next = currentBaseVersion(dir).getOrElse(0L) + 1
    while (!Sidecar.createExclusive(s"$dir/model_base/claim-v$next")) next += 1
    model.coalesce(1).write.mode("overwrite").parquet(s"$dir/model_base/v$next")
    // THE flip — a MONOTONE marker, not a rewritable pointer: readers
    // take the max over `current-v<N>` marker files, so a slower
    // lower-version writer can never regress the pointer past a higher
    // racing publish (a read-check-WRITE loop could: both writers'
    // verify reads can pass before the slower overwrite lands).
    // Pointing backward would resurrect a base missing the higher
    // writer's segments — whose segment files it may already have
    // deleted.
    Sidecar.createExclusive(s"$dir/model_base/current-v$next"): Unit
    // prune superseded versions DEFERRED (age-gated), never right at
    // the flip: a lazily-executing reader that resolved basePath just
    // before it would FileNotFound mid-scan
    pruneBaseVersions(dir)
  }

  /** Janitor for superseded base versions: delete `model_base/v<N>`
    * directories below the current pointer whose last write is older
    * than `graceMs` (the in-flight-reader horizon — a reader that
    * resolved the old path keeps scanning it unharmed within the
    * window). Runs inside every [[write]]; callers can invoke it
    * directly with a tighter grace in tests or a looser one for
    * long-running readers.
    */
  def pruneBaseVersions(dir: String, graceMs: Long = 60000): Unit = {
    val cur = currentBaseVersion(dir).getOrElse(return)
    val cutoff = System.currentTimeMillis() - graceMs
    Sidecar.listNames(s"$dir/model_base")
      .flatMap(n => parseSeq(n, "v"))
      .filter(_ < cur)
      .filter(v => Sidecar.modificationTime(s"$dir/model_base/v$v").forall(_ < cutoff))
      .foreach { v =>
        Sidecar.delete(s"$dir/model_base/v$v", recursive = true)
        Sidecar.delete(s"$dir/model_base/claim-v$v")
        // superseded flip markers: deleting below the max keeps the
        // pointer monotone (the max marker is never touched here)
        Sidecar.delete(s"$dir/model_base/current-v$v")
      }
  }

  /** The live base version: max over the monotone `current-v<N>`
    * markers (a max over creates never regresses).
    */
  private def currentBaseVersion(dir: String): Option[Long] =
    Sidecar.listNames(s"$dir/model_base").flatMap(parseSeq(_, "current-v")).maxOption

  /** The live base parquet: the pointed-to version. */
  private def basePath(dir: String): Option[String] =
    currentBaseVersion(dir).map(v => s"$dir/model_base/v$v").filter(Sidecar.exists)

  /** The CURRENT dictionary: the base parquet plus every visible
    * get-or-create segment; base ids are read VERBATIM and segment
    * names get fresh ids above them (see [[getOrCreate]] — ids are
    * stable, never renumbered). With no segments this is exactly the
    * base.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    readWithSegments(spark, dir, segmentNames(dir))

  /** Driver-side name→id map for one kind (broadcast by callers). */
  def lookup(model: DataFrame, kind: String): Map[String, Int] =
    model.filter(col("kind") === kind).select("name", "id")
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap

  // ---- concurrent get-or-create (STMGraph RawSpec.hs:60-76 conformance) ----
  //
  // The reference proves 10 async writers x 25 get-or-create ops
  // converge to one bijective dictionary — AND fetchType assigns a
  // type id ONCE, never renumbering it as later types land
  // (HGraphStorage API.hs:471-490; ids persist in the model file,
  // FileOps.hs:113-148). The engine's analog: each writer appends its
  // MISSING names as an immutable segment file published under an
  // exclusively-claimed sequence number (atomic tmp+rename via
  // Sidecar), and ids are assigned ABOVE the existing maximum in
  // (segment-sequence, name, dataType) order — so an id, once
  // visible, never changes as later names arrive, and two racing
  // writers still converge to one bijective dense dictionary (ids
  // are a pure function of the base plus the CLAIM-ORDERED segment
  // list, never of arrival interleaving).
  //
  // A reader never sees a LATER segment before an earlier one: a
  // writer's claim number is found by probing upward past existing
  // claims, so claim k's file exists before claim k+1 does, and the
  // visibility walk stops at the first claimed-but-unpublished gap
  // (the TxLog watermark-gap rule). An in-flight gap resolves in
  // milliseconds (one sidecar write); a gap older than the grace
  // window is a crashed writer and is janitored with a tombstone so
  // it can never block readers or — publishing zombie-late — shift
  // ids that were already handed out.

  private def segDir(dir: String) = s"$dir/model_segments"

  /** Claimed-but-unpublished gaps younger than the publish grace
    * truncate the visible view (an in-flight publish); older gaps are
    * janitored. The window is a STORE-LEVEL setting (persisted beside
    * the segments, read by every session) because the janitor runs in
    * whichever session happens to read: a slow publisher raising only
    * its OWN call's patience cannot stop OTHER sessions from
    * tombstoning it — the horizon must be shared to mean anything.
    */
  /** Horizon choice: a publish is ONE sidecar write landing
    * milliseconds after its claim, so 10 s is ~3 orders of magnitude
    * of slack for GC pauses and slow filesystems. The tradeoff is
    * recovery latency, not correctness: a larger grace only delays how
    * long readers stall at a CRASHED claim before tombstoning it
    * (ModelConcurrencySpec's gap case), while a too-small grace
    * tombstones a live-but-slow publisher — whose getOrCreate then
    * re-claims and retries, loudly after 5 attempts, never silently.
    */
  private val defaultPublishGraceMs: Long = 10000

  /** The store's shared publish-grace window (see the note above). */
  def publishGraceMs(dir: String): Long =
    Sidecar.readString(s"${segDir(dir)}/grace-ms")
      .flatMap(_.trim.toLongOption).getOrElse(defaultPublishGraceMs)

  /** Persist the store-level grace window all sessions will honor —
    * set it BEFORE slow publishers start, not per-call.
    */
  def setPublishGraceMs(dir: String, ms: Long): Unit = {
    require(ms > 0, s"grace must be positive: $ms")
    Sidecar.writeString(s"${segDir(dir)}/grace-ms", ms.toString)
  }

  private def parseSeq(name: String, prefix: String): Option[Long] =
    if (name.startsWith(prefix)) name.stripPrefix(prefix).toLongOption else None

  /** Published segment file names in claim order, stopped at the
    * first unresolved claim gap (see the protocol note above).
    */
  private def segmentNames(dir: String): Seq[String] =
    visibleSegments(dir, publishGraceMs(dir))

  private def visibleSegments(dir: String, graceMs: Long): Seq[String] = {
    val entries = Sidecar.listNames(segDir(dir))
    val dead = entries.flatMap(parseSeq(_, "dead-")).toSet
    val published = entries.flatMap(n => parseSeq(n, "seg-").map(_ -> n)).toMap
    val claimed = entries.flatMap(parseSeq(_, "claim-"))
    val out = Seq.newBuilder[String]
    for (s <- (claimed ++ published.keys).distinct.sorted if !dead(s)) {
      published.get(s) match {
        case Some(n) => out += n
        case None =>
          val inFlight = Sidecar.modificationTime(s"${segDir(dir)}/claim-$s")
            .exists(_ >= System.currentTimeMillis() - graceMs)
          if (inFlight) return out.result() // stop at the gap: later segs stay invisible
          Sidecar.writeString(s"${segDir(dir)}/dead-$s", "") // crashed writer: tombstone
      }
    }
    out.result()
  }

  /** Claim the next segment sequence exclusively (the TxLog.begin
    * probe: two concurrent writers always get distinct, ordered
    * numbers, and claim k exists on disk before claim k+1 can).
    */
  private def claimSeq(dir: String): Long = {
    val entries = Sidecar.listNames(segDir(dir))
    val known = (entries.flatMap(parseSeq(_, "claim-")) ++
      entries.flatMap(parseSeq(_, "seg-")) ++
      entries.flatMap(parseSeq(_, "dead-")) :+ 0L).max
    var s = known + 1
    while (!Sidecar.createExclusive(s"${segDir(dir)}/claim-$s")) s += 1
    s
  }

  private def parseSegment(content: String): Seq[(String, String, Option[Byte])] =
    content.split('\n').toSeq.filter(_.nonEmpty).map { line =>
      val f = line.split('\t')
      (f(0), f(1), if (f.length > 2 && f(2).nonEmpty) Some(f(2).toByte) else None)
    }

  private def readWithSegments(spark: SparkSession, dir: String,
      segs: Seq[String]): DataFrame = {
    import spark.implicits._
    def empty = Seq.empty[(String, Int, String, Option[Byte])]
      .toDF("kind", "id", "name", "dataType")
    val base: Option[DataFrame] = basePath(dir).map(spark.read.parquet)
    if (segs.isEmpty) return base.getOrElse(empty)
    val segRows = segs.flatMap { n =>
      val seq = n.stripPrefix("seg-").toLong
      Sidecar.readString(s"${segDir(dir)}/$n").toSeq.flatMap(parseSegment)
        .map { case (k, nm, dt) => (k, nm, dt, seq) }
    }.toDF("kind", "name", "dataType", "segSeq")
      .select(col("kind"), col("name"), col("dataType").cast("byte"), col("segSeq"))
    // first claim wins for a name racing into two segments; names the
    // base already holds keep their STORED ids (null-safe on dataType:
    // node/edge entries carry null)
    val firstSeen = segRows.groupBy(col("kind"), col("name"), col("dataType"))
      .agg(min(col("segSeq")).as("segSeq"))
    val baseDf = base.getOrElse(empty)
    val fresh = base.fold(firstSeen)(b =>
      firstSeen.as("s").join(b.as("b"),
        col("s.kind") === col("b.kind") && col("s.name") === col("b.name") &&
          (col("s.dataType") <=> col("b.dataType")),
        "left_anti"))
    val maxIds = baseDf.groupBy(col("kind")).agg(max(col("id")).as("__mx"))
    // the dictionary is dozens of rows by construction (distinct
    // label/property names) — the per-kind window is driver-trivial
    val ranked = fresh
      .withColumn("__rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("kind"))
          .orderBy(col("segSeq"), col("name"), col("dataType"))))
      .join(maxIds, Seq("kind"), "left")
      .select(col("kind"),
        (col("__rk") + coalesce(col("__mx"), lit(0))).cast("int").as("id"),
        col("name"), col("dataType"))
    baseDf.select(col("kind"), col("id"), col("name"), col("dataType"))
      .unionAll(ranked)
  }

  /** Get-or-create `entries` (kind, name, dataType) against the store
    * at `dir`: names already present keep their ids untouched (the
    * fetchType contract — an id, once returned, NEVER changes);
    * missing ones commit as ONE atomic claim-sequenced segment and
    * take ids above the existing maximum. Returns the dictionary as
    * of this call (a concurrent writer may grow it further — re-read
    * for the latest view; convergence is ModelConcurrencySpec's
    * contract).
    *
    * `graceMs` (≤ 0 = the store setting) governs only THIS session's
    * wait deadline and janitor horizon; concurrent sessions tombstone
    * claim gaps at the STORE-LEVEL grace ([[publishGraceMs]]) — to
    * protect a slow publisher from other sessions' janitors, raise the
    * shared window with [[setPublishGraceMs]], not this parameter.
    */
  def getOrCreate(spark: SparkSession, dir: String,
      entries: Seq[(String, String, Option[Byte])],
      graceMs: Long = -1L): DataFrame = {
    val grace = if (graceMs > 0) graceMs else publishGraceMs(dir)
    entries.foreach { case (k, n, _) =>
      require(!k.contains('\t') && !n.contains('\t') && !k.contains('\n') && !n.contains('\n'),
        s"model names must not contain tabs/newlines: ($k, $n)")
    }
    val current = read(spark, dir)
      .select(col("kind"), col("name"), col("dataType"))
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getByte(2)))).toSet
    val missing = entries.distinct.filterNot(current)
    if (missing.isEmpty) return read(spark, dir)
    val content = missing.map { case (k, n, dt) =>
      s"$k\t$n\t${dt.map(_.toString).getOrElse("")}"
    }.mkString("\n")
    var attempt = 0
    var visible = false
    while (!visible) {
      attempt += 1
      require(attempt <= 5,
        s"segment publish kept getting janitored — raise the STORE grace " +
          s"(Model.setPublishGraceMs; this session's horizon was $grace ms)")
      val seq = claimSeq(dir)
      val segName = f"seg-$seq%012d"
      Sidecar.writeString(s"${segDir(dir)}/$segName", content)
      // wait for the segment to surface: gaps BEFORE it are other
      // writers' in-flight publishes (milliseconds) or crashed claims
      // (janitored after graceMs); a dead-marker on OUR seq means we
      // stalled past the grace between claim and write — re-claim
      val deadline = System.currentTimeMillis() + 2 * grace + 2000
      def dead = Sidecar.exists(s"${segDir(dir)}/dead-$seq")
      visible = visibleSegments(dir, grace).contains(segName)
      while (!visible && !dead) {
        if (System.currentTimeMillis() >= deadline)
          throw new IllegalStateException(
            s"segment $segName did not become visible within the grace deadline")
        Thread.sleep(20)
        visible = visibleSegments(dir, grace).contains(segName)
      }
    }
    read(spark, dir)
  }

  /** Fold visible segments into the base parquet (ids preserved
    * verbatim — compaction never renumbers). Crash-safe end to end:
    * the merged base publishes via [[write]]'s atomic version flip
    * (the old base survives any crash before the flip), and segment
    * files are deleted only after it, each before its claim marker —
    * a claim orphaned mid-cleanup is janitored as a dead gap whose
    * content is already in the base. Safe against concurrent
    * get-or-create: only the segments MERGED here are deleted, and a
    * pending segment's ids are unchanged by the fold (its rank offset
    * — the per-kind max id — is exactly what the fold preserved).
    */
  def compact(spark: SparkSession, dir: String,
      lockHorizonMs: Long = 60 * 60 * 1000L): Unit = {
    // serialize compactors (the TxLog.compact lock protocol, incl. the
    // rename-steal stale break): two concurrent folds could otherwise
    // interleave segment-file deletes with the other's segment READS —
    // the slower one merging a now-missing segment as empty and, if
    // its version wins the flip, publishing a base that LOST names.
    // getOrCreate never takes the lock: it only appends new segments,
    // and the fold deletes exactly the segments it merged.
    val lock = s"${segDir(dir)}/compact-lock"
    // a live compactor's lock means this fold is already happening; a
    // dead one's is broken by the one-winner rename-steal; the nonce
    // keeps an over-horizon holder from releasing its breaker's lock
    val nonce = Sidecar.acquireLock(lock, lockHorizonMs).getOrElse(return)
    try {
      val segs = segmentNames(dir)
      if (segs.isEmpty) return
      val merged = readWithSegments(spark, dir, segs).localCheckpoint()
      write(merged, dir)
      segs.foreach { n =>
        Sidecar.delete(s"${segDir(dir)}/$n")
        Sidecar.delete(s"${segDir(dir)}/claim-${n.stripPrefix("seg-").toLong}")
      }
    } finally Sidecar.releaseLock(lock, nonce)
  }
}
