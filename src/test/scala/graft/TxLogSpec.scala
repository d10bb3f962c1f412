package graft

import org.apache.spark.sql.functions._

import graft.operators.{Mvcc, TxLog}

/** Persisted transaction manager (operators/TxLog): the LowLevelDB
  * persisted committed-set conformance — a second session opening the
  * store COLD resolves visibility purely from disk.
  */
class TxLogSpec extends GraftSuite {
  import spark.implicits._

  test("session A commits, session B opens cold and sees exactly A's rows") {
    val dir = graft.queries.SessionPublish.tempDir("txlog-cross")

    // --- session A ---
    val t1 = TxLog.begin(dir)
    val base = Mvcc.init(Seq((1L, "alpha"), (2L, "beta")).toDF("id", "v"), t1)
    val t2 = TxLog.begin(dir)
    // t2 updates row 2 (copy-on-write) but NEVER commits
    val withUncommitted = Mvcc.update(base, col("id") === 2L, t2,
      df => df.withColumn("v", lit("beta-v2")))
    withUncommitted.write.mode("overwrite").parquet(s"$dir/table")
    TxLog.commit(dir, t1) // only t1 commits

    // --- session B: state comes exclusively from disk ---
    val t3 = TxLog.begin(dir)
    assert(t3 > t2, "ids allocate monotonically across sessions")
    val seen = spark.read.parquet(s"$dir/table")
      .filter(TxLog.visibleStore(dir, t3))
      .select(col("id"), col("v")).as[(Long, String)].collect().toSet
    assert(seen === Set((1L, "alpha"), (2L, "beta")),
      "t1's rows visible, t2's uncommitted update invisible (incl. its delete half)")

    // t2 commits later -> the same cold read now sees the new version
    TxLog.commit(dir, t2)
    val after = spark.read.parquet(s"$dir/table")
      .filter(TxLog.visibleStore(dir, TxLog.begin(dir)))
      .select(col("id"), col("v")).as[(Long, String)].collect().toSet
    assert(after === Set((1L, "alpha"), (2L, "beta-v2")))
  }

  test("concurrent begin() never shares ids") {
    val dir = graft.queries.SessionPublish.tempDir("txlog-alloc")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (0 until 4).map(_ => new Thread(() =>
      (0 until 10).foreach(_ => got.add(TxLog.begin(dir)))))
    threads.foreach(_.start()); threads.foreach(_.join())
    val ids = scala.jdk.CollectionConverters.CollectionHasAsScala(got).asScala.toSeq
    assert(ids.distinct.length === 40, s"duplicate tx ids allocated: $ids")
  }

  test("watermark compaction folds the contiguous prefix, never crosses a gap") {
    val dir = graft.queries.SessionPublish.tempDir("txlog-compact")
    val ids = (1 to 6).map(_ => TxLog.begin(dir))
    Seq(1L, 2L, 3L, 5L).foreach(TxLog.commit(dir, _)) // 4 in-flight
    TxLog.compact(dir)
    assert(TxLog.watermark(dir) === 3L)
    assert(TxLog.committedState(dir) === ((3L, Set(5L))))
    Seq(1L, 2L, 3L).foreach(t => assert(TxLog.isCommitted(dir, t)))
    assert(!TxLog.isCommitted(dir, 4L) && TxLog.isCommitted(dir, 5L) && !TxLog.isCommitted(dir, 6L))
    // 4 commits -> the gap closes and the next compact folds through 5
    TxLog.commit(dir, 4L)
    TxLog.compact(dir)
    assert(TxLog.watermark(dir) === 5L)
    assert(TxLog.committedState(dir) === ((5L, Set.empty[Long])))
    // allocation continues above everything ever claimed
    assert(TxLog.begin(dir) === ids.max + 1)
  }

  test("a tx committed after the reader began is invisible (snapshot upper bound)") {
    val dir = graft.queries.SessionPublish.tempDir("txlog-upper")
    val t1 = TxLog.begin(dir)
    val base = Mvcc.init(Seq((1L, "alpha")).toDF("id", "v"), t1)
    TxLog.commit(dir, t1)
    val reader = TxLog.begin(dir) // snapshot taken here
    // a LATER tx begins, writes, and commits while the reader is open
    val t3 = TxLog.begin(dir)
    val mutated = Mvcc.update(base, col("id") === 1L, t3,
      df => df.withColumn("v", lit("alpha-v2")))
    mutated.write.mode("overwrite").parquet(s"$dir/table")
    TxLog.commit(dir, t3)
    val seen = spark.read.parquet(s"$dir/table")
      .filter(TxLog.visibleStore(dir, reader))
      .select(col("id"), col("v")).as[(Long, String)].collect().toSet
    assert(seen === Set((1L, "alpha")),
      "t3 committed after the reader began — its version (and its delete half) must be invisible")
    // a FRESH reader (ordered after t3) sees the new version
    val later = spark.read.parquet(s"$dir/table")
      .filter(TxLog.visibleStore(dir, TxLog.begin(dir)))
      .select(col("id"), col("v")).as[(Long, String)].collect().toSet
    assert(later === Set((1L, "alpha-v2")))
  }

  test("abort fills the gap: begin -> abort -> compact advances past the aborted id") {
    val dir = graft.queries.SessionPublish.tempDir("txlog-abort")
    val ids = (1 to 4).map(_ => TxLog.begin(dir)) // 1..4
    Seq(1L, 3L, 4L).foreach(TxLog.commit(dir, _))
    TxLog.compact(dir)
    assert(TxLog.watermark(dir) === 1L, "tx 2 in-flight wedges the watermark")
    TxLog.abort(dir, 2L)
    TxLog.compact(dir)
    assert(TxLog.watermark(dir) === 4L, "the abort resolved the gap")
    // the aborted id stays non-committed even under the watermark:
    // its staged versions must never become visible
    assert(!TxLog.isCommitted(dir, 2L))
    Seq(1L, 3L, 4L).foreach(t => assert(TxLog.isCommitted(dir, t)))
    val staged = Mvcc.init(Seq((9L, "ghost")).toDF("id", "v"), 2L)
    assert(staged.filter(TxLog.visibleStore(dir, TxLog.begin(dir))).isEmpty,
      "rows staged by the aborted tx are invisible to every later snapshot")
    // commit/abort cross-guards fail loud
    intercept[IllegalStateException](TxLog.commit(dir, 2L))
    intercept[IllegalStateException](TxLog.abort(dir, ids.max))
    // once the caller purges the staged versions, the marker can go
    TxLog.forgetAborted(dir, Set(2L))
    assert(TxLog.abortedSet(dir).isEmpty)
    intercept[IllegalArgumentException](TxLog.forgetAborted(dir, Set(99L)))
  }

  test("commit racing the janitor converges to ONE winner — never both markers") {
    // the r11 defect: abortStale could list tx X as unresolved while
    // commit(X) passed its abort-marker pre-check, leaving BOTH
    // markers on disk and silently un-committing a commit() that had
    // returned success. The write-then-re-check rule must converge
    // every interleaving; 12 reps to actually exercise the window.
    for (rep <- 1 to 12) {
      val dir = graft.queries.SessionPublish.tempDir(s"txlog-cv-race-$rep")
      val t = TxLog.begin(dir)
      val start = new java.util.concurrent.CountDownLatch(1)
      @volatile var committed = false
      @volatile var aborted: Seq[Long] = Nil
      val a = new Thread(() => {
        start.await()
        try { TxLog.commit(dir, t); committed = true }
        catch { case _: IllegalStateException => () }
      })
      // negative horizon: every unresolved allocation is already stale
      val b = new Thread(() => { start.await(); aborted = TxLog.abortStale(dir, -1000L) })
      a.start(); b.start(); start.countDown(); a.join(); b.join()
      val hasCommit = graft.core.Sidecar.exists(s"$dir/txlog/commit-$t")
      val hasAbort  = graft.core.Sidecar.exists(s"$dir/txlog/abort-$t")
      assert(!(hasCommit && hasAbort), s"rep $rep: both markers survived")
      if (committed)
        assert(hasCommit && !hasAbort && !aborted.contains(t),
          s"rep $rep: a commit() that RETURNED SUCCESS was overridden by the janitor")
      if (aborted.contains(t))
        assert(hasAbort && !hasCommit && !committed,
          s"rep $rep: the janitor reported an abort that did not stick")
    }
  }

  test("a commit FOLDED into the watermark still refuses a late abort (marker-free committed)") {
    // the r12-review hole: compact deletes commit markers once the
    // watermark covers them, so an outcome check against the raw
    // marker would let a late janitor abort override a durable commit
    val dir = graft.queries.SessionPublish.tempDir("txlog-folded")
    val t1 = TxLog.begin(dir)
    TxLog.commit(dir, t1)
    TxLog.compact(dir)
    assert(TxLog.watermark(dir) === t1)
    assert(!graft.core.Sidecar.exists(s"$dir/txlog/commit-$t1"),
      "compact must have deleted the folded commit marker (test precondition)")
    intercept[IllegalStateException](TxLog.abort(dir, t1))
    assert(TxLog.isCommitted(dir, t1), "the folded commit stays committed")
    TxLog.commit(dir, t1) // idempotent on the folded form too
    assert(TxLog.abortStale(dir, -1000L) === Seq.empty,
      "the janitor must not resurrect folded ids (they are <= watermark)")
  }

  test("purgeAborted: abort -> purge -> forget -> read, one maintenance cycle") {
    val dir = graft.queries.SessionPublish.tempDir("txlog-purge")
    val t1 = TxLog.begin(dir)
    val base = Mvcc.init(Seq((1L, "alpha"), (2L, "beta")).toDF("id", "v"), t1)
    TxLog.commit(dir, t1)
    // t2 stages an update (a new version + a closed old one), then rolls back
    val t2 = TxLog.begin(dir)
    val staged = Mvcc.update(base, col("id") === 2L, t2,
      df => df.withColumn("v", lit("beta-zombie")))
    staged.write.mode("overwrite").parquet(s"$dir/table")
    TxLog.abort(dir, t2)
    TxLog.compact(dir) // watermark covers the aborted id
    assert(TxLog.watermark(dir) === t2)
    def visibleNow = spark.read.parquet(s"$dir/table")
      .filter(TxLog.visibleStore(dir, TxLog.begin(dir)))
      .select(col("id"), col("v")).as[(Long, String)].collect().toSet
    val before = visibleNow
    assert(before === Set((1L, "alpha"), (2L, "beta")))
    // THE cycle: rewrite durable first, markers dropped only after
    val purged = TxLog.purgeAborted(dir, spark.read.parquet(s"$dir/table")) { df =>
      df.write.mode("overwrite").parquet(s"$dir/table2")
      graft.core.Sidecar.delete(s"$dir/table", recursive = true)
      graft.core.Sidecar.renameDir(s"$dir/table2", s"$dir/table")
    }
    assert(purged === Set(t2))
    assert(TxLog.abortedSet(dir).isEmpty, "the purged marker must be forgotten")
    // invariant: no surviving row references the purged tx, reads unchanged
    val rows = spark.read.parquet(s"$dir/table")
    assert(rows.filter(col("tx_min") === t2 || col("tx_max") === t2).isEmpty,
      "no aborted tx_min/tx_max survives a purge+forget cycle")
    assert(visibleNow === before, "visible reads are unchanged by the purge")
    // idempotent: nothing left to purge
    assert(TxLog.purgeAborted(dir, rows)(_ => fail("must not persist when empty")) === Set.empty)
    // the point-query contract survives the purge (the r12 inversion:
    // with the abort marker gone and the watermark covering the id, a
    // late duplicate commit() read "folded as committed" and returned
    // a false durability signal) — the purged/<id> record keeps it loud
    val e = intercept[IllegalStateException](TxLog.commit(dir, t2))
    assert(e.getMessage.contains("purged"), s"commit(purged id) must say so: ${e.getMessage}")
    TxLog.abort(dir, t2) // idempotent no-op: it WAS aborted
    assert(!TxLog.isCommitted(dir, t2), "a purged abort never reads committed")
  }

  test("store-level resolve lease: claims younger than the lease are honored, older stolen") {
    val dir = graft.queries.SessionPublish.tempDir("txlog-lease")
    def backdate(path: String, ageMs: Long): Unit =
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(path),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageMs))
    assert(TxLog.resolveLeaseMs(dir) === 60000L, "default lease is the documented 60 s")
    val t = TxLog.begin(dir)
    // a crashed resolver: resolution claim on disk, no outcome marker
    graft.core.Sidecar.createExclusive(s"$dir/txlog/resolve-$t")
    backdate(s"$dir/txlog/alloc-$t", 10000)
    backdate(s"$dir/txlog/resolve-$t", 5000)
    // under the default 60 s lease the 5 s-old claim belongs to a live
    // resolver: the janitor skips the id instead of stealing
    assert(TxLog.abortStale(dir, horizonMs = 1000) === Seq.empty)
    assert(TxLog.abortedSet(dir).isEmpty, "claim inside the lease must not be broken")
    // the persisted store lease is honored by every session: at 1 s the
    // same claim is past the lease — stolen, and the tx janitor-aborted
    TxLog.setResolveLeaseMs(dir, 1000)
    assert(TxLog.resolveLeaseMs(dir) === 1000L)
    assert(TxLog.abortStale(dir, horizonMs = 1000) === Seq(t))
    assert(TxLog.abortedSet(dir) === Set(t))
    // the 12-rep commit/janitor race below runs under the DEFAULT lease
  }

  test("operating-envelope violation: a too-short lease lets the janitor steal a LIVE claim — one winner, loser fails loud") {
    // the runbook's documented failure mode, pinned as a tested fact:
    // the resolve lease is MISCONFIGURED below the resolver's real
    // pause (the envelope says lease > worst driver pause), a live
    // resolver claims resolution and stalls past it, and the janitor
    // runs. What must hold: exactly one outcome stands (the janitor's
    // abort), and the paused winner's commit fails LOUD — never a
    // silent success, never two surviving outcomes.
    val dir = graft.queries.SessionPublish.tempDir("txlog-lease-envelope")
    def backdate(path: String, ageMs: Long): Unit =
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(path),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageMs))
    val t = TxLog.begin(dir)
    // the LIVE resolver wins the resolution claim (commit()'s first
    // step) and then pauses: claim-on-disk + backdate reproduces the
    // paused winner exactly up to its next sidecar write
    assert(graft.core.Sidecar.createExclusive(s"$dir/txlog/resolve-$t"))
    backdate(s"$dir/txlog/alloc-$t", 10000)
    backdate(s"$dir/txlog/resolve-$t", 5000)
    TxLog.setResolveLeaseMs(dir, 1000) // misconfigured: < the 5 s pause
    // janitor: the live claim reads stale under the short lease —
    // stolen by rename, the id aborted. The envelope violation's
    // consequence is an aborted LIVE transaction, reported honestly.
    assert(TxLog.abortStale(dir, horizonMs = 1000) === Seq(t))
    assert(TxLog.abortedSet(dir) === Set(t))
    // the paused winner wakes and finishes its commit: fail-loud, and
    // the committed state never flips
    val e = intercept[IllegalStateException](TxLog.commit(dir, t))
    assert(e.getMessage.contains("rolled back"),
      s"the losing commit must name the abort: ${e.getMessage}")
    assert(!TxLog.isCommitted(dir, t))
    assert(graft.core.Sidecar.exists(s"$dir/txlog/abort-$t") &&
      !graft.core.Sidecar.exists(s"$dir/txlog/commit-$t"),
      "exactly one outcome marker stands")
    // the transient both-markers window (the winner's commit marker
    // landing just before its collision check deletes it): outcome
    // reads check the abort marker FIRST, so even mid-convergence no
    // reader can see a phantom commit
    graft.core.Sidecar.writeString(s"$dir/txlog/commit-$t", "")
    assert(!TxLog.isCommitted(dir, t),
      "abort-first outcome order: both-markers must read aborted")
    intercept[IllegalStateException](TxLog.commit(dir, t))
    graft.core.Sidecar.delete(s"$dir/txlog/commit-$t") // the winner's own cleanup
    assert(!TxLog.isCommitted(dir, t) && TxLog.abortedSet(dir) === Set(t))
  }

  test("stale compact-lock break: rename-steal wins once, fresh locks are honored") {
    val dir = graft.queries.SessionPublish.tempDir("txlog-lockbreak")
    val t1 = TxLog.begin(dir)
    TxLog.commit(dir, t1)
    val lock = s"$dir/txlog/compact-lock"
    // a FRESH foreign lock: compact is a no-op (no watermark advance)
    assert(graft.core.Sidecar.createExclusive(lock))
    TxLog.compact(dir)
    assert(TxLog.watermark(dir) === 0L, "a live compactor's lock must be honored")
    // backdate the lock past the horizon: the breaker renames it away,
    // takes its own lock, and the compaction proceeds
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(new java.net.URI(
        if (lock.startsWith("file:")) lock else s"file://$lock").getPath),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10_000_000L))
    TxLog.compact(dir)
    assert(TxLog.watermark(dir) === t1, "the stale lock must be broken and compaction run")
    assert(!graft.core.Sidecar.exists(lock), "the breaker's own lock is released after")
  }

  test("abortStale janitors crashed allocations past the horizon, spares live ones") {
    val dir = graft.queries.SessionPublish.tempDir("txlog-janitor")
    val t1 = TxLog.begin(dir)
    TxLog.commit(dir, t1)
    val dead = TxLog.begin(dir) // never resolves: the crashed session
    Thread.sleep(60)
    val live = TxLog.begin(dir) // young: inside the horizon
    assert(TxLog.abortStale(dir, horizonMs = 50) === Seq(dead),
      "only the allocation older than the horizon is aborted")
    TxLog.compact(dir)
    assert(TxLog.watermark(dir) === dead,
      "the janitored gap lets the watermark advance to the dead id")
    TxLog.commit(dir, live) // the young writer is unharmed
    assert(TxLog.isCommitted(dir, live))
  }
}
