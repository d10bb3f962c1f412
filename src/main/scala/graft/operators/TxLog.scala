package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.Sidecar

/** Persisted transaction manager beside a versioned table — the
  * LowLevelDB persisted committed-set analog (MVCC.hs:161-217, which
  * keeps the committed transactions in an on-disk trie so ANY session
  * opening the store resolves visibility). The engine's committed set
  * was previously an in-memory predicate argument
  * ([[Mvcc.visible]]'s `committed`); this log makes it a function of
  * the STORE, so session B opening cold sees exactly what session A
  * committed.
  *
  * Layout under `dir/txlog/`:
  *  - `alloc-<id>` — claimed tx ids ([[begin]] via exclusive create:
  *    two sessions can never share an id);
  *  - `commit-<id>` — the COMMIT POINT, one atomic marker per
  *    committed tx;
  *  - `abort-<id>` — explicit rollback (the LowLevelDB `deleteTx`
  *    analog, MVCC.hs:301-312): resolves the id so [[compact]]'s
  *    watermark can advance past it instead of being wedged forever
  *    by one abandoned transaction. Abort markers are retained (the
  *    permanent exception list — see the watermark note below);
  *  - `purged/<id>` — the id was aborted AND its staged versions
  *    physically purged ([[purgeAborted]]): the permanent record that
  *    keeps the point queries ([[commit]]/[[abort]]/[[isCommitted]])
  *    fail-loud for an id whose abort marker [[forgetAborted]]
  *    dropped. Lives in a subdirectory (one name in the hot listing)
  *    and is never consulted by the scan predicate — see
  *    [[purgedAbort]];
  *  - `lease-ms` — the store-level resolve lease
  *    ([[setResolveLeaseMs]]);
  *  - `watermark-<w>` — every tx `<= w` is RESOLVED (committed or
  *    aborted); committed means `<= w` and not in the abort list
  *    ([[compact]] folds the contiguous resolved prefix into a new
  *    marker and deletes the commit/alloc markers — the xmin-horizon
  *    trick, so the live marker set stays bounded by the IN-FLIGHT
  *    window, not history: at 100 TB the predicate is one `<=` plus
  *    `isin`s over recent ids and the abort list, never a billion-row
  *    set). Readers take the max `w` over these markers.
  *
  * Abort markers cannot be horizon-folded like commit markers: a
  * rolled-back transaction may have already APPENDED versions stamped
  * `tx_min = id` (the COW write path stages data before the commit
  * point), and the abort marker is the only thing keeping them
  * invisible. They are dropped by [[forgetAborted]] once the caller
  * has physically purged those versions (the [[Mvcc.compact]]
  * maintenance rewrite) — abort count, not history, bounds the set.
  */
object TxLog {

  private def txDir(dir: String) = s"$dir/txlog"

  /** Ids by marker prefix, from ONE directory listing partitioned in
    * memory — begin()/compact() need several prefixes and a listing is
    * a remote round-trip on object stores. Non-numeric suffixes are
    * lock/claim tombstones mid-steal (`...-broken-<nonce>`), never ids.
    */
  private def idsByPrefix(names: Seq[String], prefix: String): Seq[Long] =
    names.filter(_.startsWith(prefix)).flatMap(_.stripPrefix(prefix).toLongOption)

  private def idsWithPrefix(dir: String, prefix: String): Seq[Long] =
    idsByPrefix(Sidecar.listNames(txDir(dir)), prefix)

  /** Watermark: every tx id <= this is resolved (committed or in the
    * abort list; 0 = none). Stored as MONOTONE `watermark-<w>` marker
    * files (readers take the max) rather than a rewritable file: a
    * replace-in-place write has a delete-then-rename window on
    * HDFS-class stores during which a reader would see watermark=0 and
    * every folded commit as uncommitted — a store-wide transient
    * visibility collapse. Marker creates have no such window, and the
    * max over creates can never regress.
    */
  def watermark(dir: String): Long = watermarkFrom(Sidecar.listNames(txDir(dir)))

  private def watermarkFrom(names: Seq[String]): Long =
    (idsByPrefix(names, "watermark-") :+ 0L).max

  /** Allocate a fresh tx id: claim max-known + 1 by exclusive marker
    * create, retrying upward on collision — two concurrent sessions
    * always get distinct ids. The post-create watermark guard closes
    * the folded-id re-creation race: a session that computed its probe
    * base, then stalled while another session allocated, committed,
    * and COMPACTED that id (deleting its markers), would otherwise
    * re-create the alloc marker for an id the watermark already covers
    * — and every row it stages with that tx_min would read as
    * committed instantly.
    */
  def begin(dir: String): Long = {
    var id = {
      val names = Sidecar.listNames(txDir(dir))
      (idsByPrefix(names, "alloc-") ++ idsByPrefix(names, "commit-") ++
        idsByPrefix(names, "abort-") :+ watermarkFrom(names)).max + 1
    }
    while ({
      while (!Sidecar.createExclusive(s"${txDir(dir)}/alloc-$id")) id += 1
      val folded = id <= watermark(dir)
      if (folded) { Sidecar.delete(s"${txDir(dir)}/alloc-$id"); id += 1 }
      folded
    }) ()
    id
  }

  // ---- the resolution point ----
  //
  // commit and abort race each other (a janitor aborting a tx whose
  // slow writer is mid-commit) AND race the compactor (which deletes
  // commit markers once the watermark covers them). Check-then-write
  // marker protocols lose both races: a re-check against the raw
  // commit marker misses a commit that compact already folded into the
  // watermark, and any protocol whose losers write-then-delete markers
  // lets the compactor fold a TRANSIENT marker (a phantom outcome).
  // The fix is ONE exclusive resolution claim per tx: `resolve-<id>`
  // is created with O_EXCL, only its winner writes the outcome marker,
  // and outcome markers are never deleted except by compaction under
  // the watermark (commit) or forgetAborted after a physical purge
  // (abort). Losers WAIT for the winner's outcome instead of writing
  // anything — so every marker the compactor can ever list is final.
  // The one residual hazard — compact deletes resolve-<id> under the
  // watermark, and a stale aborter then re-claims it — is closed by
  // re-reading the watermark AFTER winning the claim and before
  // writing any outcome: the watermark never regresses, so
  // `tx <= watermark` at that point proves the claim is a stale
  // re-creation and the win is void. TxLogSpec races all of this.

  private def resolvePath(dir: String, tx: Long) = s"${txDir(dir)}/resolve-$tx"

  /** The resolve-claim lease: a claim younger than this belongs to a
    * LIVE resolver (claims span exactly one sidecar write) and is never
    * stolen, regardless of the janitor's alloc horizon. The default
    * encodes the protocol's one residual assumption — no resolver
    * pauses a full minute between two adjacent sidecar writes.
    */
  private val defaultResolveLeaseMs: Long = 60000

  /** The store's resolve-claim lease (see above): a STORE-LEVEL
    * setting like [[graft.core.Model.publishGraceMs]], because every
    * session janitoring the store must honor the same lease — a
    * per-call knob would let one aggressive session steal claims a
    * conservatively-configured resolver still holds. Raise it before
    * running on an environment whose GC/VM pauses can exceed a minute
    * (the operating envelope: lease > the longest driver pause between
    * a resolve claim and its outcome write; the cost of a larger lease
    * is only how long a CRASHED resolver wedges its one tx before
    * [[abortStale]] can break the claim).
    */
  def resolveLeaseMs(dir: String): Long =
    Sidecar.readString(s"${txDir(dir)}/lease-ms")
      .flatMap(_.trim.toLongOption).getOrElse(defaultResolveLeaseMs)

  /** Persist the store-level resolve lease all sessions will honor —
    * set it BEFORE resolvers start, not per-call.
    */
  def setResolveLeaseMs(dir: String, ms: Long): Unit = {
    require(ms > 0, s"lease must be positive: $ms")
    Sidecar.writeString(s"${txDir(dir)}/lease-ms", ms.toString)
  }

  /** Was `tx` aborted AND physically purged ([[purgeAborted]])? The
    * marker lives in a SUBDIRECTORY (one extra name in the txlog
    * listing, not one per id) and is consulted only by the point
    * queries ([[commit]]/[[abort]]/[[isCommitted]]) on ids the
    * watermark already covers — never by [[committedColumn]], whose
    * predicate stays bounded by the in-flight window: after the purge
    * no surviving row references the id, so the scan predicate's
    * answer for it is unused. Without this record, a late duplicate
    * `commit(purgedId)` would return SUCCESS (the abort marker is
    * gone, the watermark covers the id) — a false durability signal
    * inverting the fail-loud contract.
    */
  private def purgedAbort(dir: String, tx: Long): Boolean =
    Sidecar.exists(s"${txDir(dir)}/purged/$tx")

  /** Outcome of `tx` once somebody resolved it: Some(true)=committed,
    * Some(false)=aborted, None=unresolved. Watermark-aware: a folded
    * commit (marker deleted by [[compact]]) still reads committed.
    */
  private def outcomeOf(dir: String, tx: Long): Option[Boolean] =
    if (Sidecar.exists(s"${txDir(dir)}/abort-$tx")) Some(false)
    else if (Sidecar.exists(s"${txDir(dir)}/commit-$tx")) Some(true)
    // folded: abort markers are retained until purged, and a purge
    // leaves the purged/<id> record — so absent-everywhere = committed
    else if (tx <= watermark(dir)) Some(!purgedAbort(dir, tx))
    else None

  /** Wait for the resolution winner's outcome marker — the loser path.
    * A winner writes its outcome within one sidecar write of claiming,
    * so the deadline only triggers on a crashed claimant (break it
    * with [[abortStale]], which steals stale claims).
    */
  private def awaitOutcome(dir: String, tx: Long, deadlineMs: Long = 5000): Boolean = {
    val deadline = System.currentTimeMillis() + deadlineMs
    var o = outcomeOf(dir, tx)
    while (o.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(10)
      o = outcomeOf(dir, tx)
    }
    o.getOrElse(throw new IllegalStateException(
      s"tx $tx has a resolution claim but no outcome after ${deadlineMs} ms — " +
        "the claimant crashed mid-resolve; run abortStale to break it"))
  }

  /** THE commit point. Idempotent. Committing a rolled-back
    * transaction is a caller bug — fail loud. See the resolution-point
    * note above: the marker is written only under the exclusive
    * `resolve-` claim, so a racing janitor abort and a racing
    * compactor can never produce both outcomes or a phantom one.
    */
  def commit(dir: String, tx: Long): Unit = {
    outcomeOf(dir, tx) match {
      case Some(true)  => return // idempotent (incl. folded-committed)
      case Some(false) =>
        throw new IllegalStateException(s"tx $tx was rolled back" +
          s"${if (purgedAbort(dir, tx)) " and purged" else ""}; cannot commit")
      case None =>
    }
    if (Sidecar.createExclusive(resolvePath(dir, tx))) {
      // stale-claim guard: if the watermark covers tx, the claim file
      // we just created is a RE-creation after compact deleted the
      // original — tx was already resolved; void the win
      if (tx <= watermark(dir)) {
        Sidecar.delete(resolvePath(dir, tx))
        if (Sidecar.exists(s"${txDir(dir)}/abort-$tx") || purgedAbort(dir, tx))
          throw new IllegalStateException(s"tx $tx was rolled back; cannot commit")
        return // folded as committed — idempotent success
      }
      Sidecar.writeString(s"${txDir(dir)}/commit-$tx", "")
      // lease-violation cleanup: this marker write can only collide
      // with an abort if OUR claim was stolen (we paused longer than
      // the resolve lease) and the stealing janitor already reported
      // the abort — its report stands; this commit must fail loud.
      // The delete is WATERMARK-guarded: once a compactor folded the
      // id, removing a marker would flip the folded outcome (the
      // retained abort marker is what keeps a folded id aborted)
      if (Sidecar.exists(s"${txDir(dir)}/abort-$tx")) {
        if (tx > watermark(dir)) Sidecar.delete(s"${txDir(dir)}/commit-$tx")
        throw new IllegalStateException(
          s"tx $tx was janitor-aborted during a resolve-lease violation; commit is NOT durable")
      }
    } else if (!awaitOutcome(dir, tx))
      throw new IllegalStateException(
        s"tx $tx was rolled back concurrently; commit lost the race and is NOT durable")
  }

  /** Explicit rollback (deleteTx, MVCC.hs:301-312): resolves the id
    * without committing it, so the watermark can advance past it.
    * Idempotent. Aborting a committed transaction is a caller bug —
    * and by the resolution protocol a commit() that RETURNED SUCCESS
    * can never be overridden here, including the compactor window
    * where the commit marker was already folded into the watermark.
    */
  def abort(dir: String, tx: Long): Unit = {
    outcomeOf(dir, tx) match {
      case Some(false) => return // idempotent
      case Some(true)  =>
        throw new IllegalStateException(s"tx $tx is committed; cannot abort")
      case None =>
    }
    if (Sidecar.createExclusive(resolvePath(dir, tx))) {
      if (tx <= watermark(dir)) { // stale re-creation of a folded claim
        Sidecar.delete(resolvePath(dir, tx))
        if (Sidecar.exists(s"${txDir(dir)}/abort-$tx") || purgedAbort(dir, tx))
          return // folded as aborted (marker retained or purged+recorded)
        throw new IllegalStateException(s"tx $tx is committed; cannot abort")
      }
      Sidecar.writeString(s"${txDir(dir)}/abort-$tx", "")
      // lease-violation cleanup (see commit()): a commit marker here
      // means our claim was obtained via a steal while the original
      // winner was still alive and it already committed — its success
      // stands; the abort yields. Watermark-guarded like commit()'s:
      // never remove a marker a compactor may already have folded
      if (Sidecar.exists(s"${txDir(dir)}/commit-$tx")) {
        if (tx > watermark(dir)) Sidecar.delete(s"${txDir(dir)}/abort-$tx")
        throw new IllegalStateException(
          s"tx $tx committed under a stolen resolve claim; abort yields")
      }
    } else if (awaitOutcome(dir, tx))
      throw new IllegalStateException(s"tx $tx committed concurrently; abort lost the race")
  }

  /** Crash janitor: abort every allocated-but-unresolved tx whose
    * `alloc-` marker is older than `horizonMs` — a session that died
    * between [[begin]] and [[commit]] otherwise wedges the watermark
    * forever. The horizon is the operator's promise that no LIVE
    * transaction runs longer; a too-short horizon aborts a slow
    * writer (its later [[commit]] then fails loud on the abort
    * marker, never silently half-applies). Also breaks resolution
    * claims whose claimant died between claim and outcome (stale
    * `resolve-` with no outcome marker) by the rename-steal rule.
    * Returns the aborted ids.
    */
  def abortStale(dir: String, horizonMs: Long): Seq[Long] = {
    val cutoff = System.currentTimeMillis() - horizonMs
    val resolved = (idsWithPrefix(dir, "commit-") ++ idsWithPrefix(dir, "abort-")).toSet
    val w = watermark(dir)
    idsWithPrefix(dir, "alloc-")
      .filter(id => id > w && !resolved(id))
      .filter(id => Sidecar.modificationTime(s"${txDir(dir)}/alloc-$id").exists(_ < cutoff))
      .sorted
      .flatMap { id =>
        // a crashed resolver's claim (no outcome) would wedge abort()
        // forever — steal it by rename, exactly like the compact lock
        // (one winner). The steal is LEASE-bounded independently of the
        // alloc horizon: a claim lives exactly one sidecar write, so a
        // claim younger than the lease belongs to a LIVE resolver and
        // must never be stolen even under an aggressive (or negative)
        // janitor horizon — the lease is the standard assumption that
        // no resolver pauses a full minute between two adjacent writes;
        // if one ever does, the post-write collision cleanup in
        // commit()/abort() still converges the markers to one winner.
        val claim = resolvePath(dir, id)
        def claimAge: Option[Long] = Sidecar.modificationTime(claim)
        val leaseCutoff = System.currentTimeMillis() -
          math.max(horizonMs, resolveLeaseMs(dir))
        if (outcomeOf(dir, id).isEmpty && claimAge.exists(_ < leaseCutoff)) {
          // re-read the staleness IMMEDIATELY before the steal (the
          // acquireLock rule): between the check above and the
          // rename, another janitor can steal the stale claim and a
          // live resolver re-create a FRESH one — stealing that would
          // break the lease invariant for a resolver that violated
          // nothing
          if (claimAge.exists(_ < leaseCutoff)) {
            val tomb = s"$claim-broken-${java.util.UUID.randomUUID().toString.take(8)}"
            if (Sidecar.rename(claim, tomb)) Sidecar.delete(tomb)
          }
        }
        // a claim younger than the lease belongs to a LIVE resolver
        // whose outcome is about to land — skip the id this pass
        // instead of paying abort()'s await deadline for it
        if (outcomeOf(dir, id).isEmpty && claimAge.isDefined) None
        else {
          // a slow writer's commit can still land between the listing
          // above and the abort — abort() yields to it (loses the
          // resolution or sees the outcome) and the janitor simply
          // does not report that id
          try { abort(dir, id); Some(id) }
          catch { case _: IllegalStateException => None }
        }
      }
  }

  /** The committed set above the watermark plus the watermark itself
    * (`(w, recentIds)`): the compact representation every reader
    * needs. Aborted ids are never in `recentIds`, but ids `<= w` are
    * only committed net of [[abortedSet]].
    */
  def committedState(dir: String): (Long, Set[Long]) = {
    // ONE listing, markers before the watermark filter: reading the
    // watermark first would let a concurrent compact advance it and
    // delete a commit marker between the two reads — a committed tx
    // transiently invisible (neither <= w nor in recent). With a
    // single listing the two views are one snapshot; the harmless
    // direction (a recent id the watermark also covers) stays correct
    // under the OR in committedColumn/isCommitted.
    val names = Sidecar.listNames(txDir(dir))
    val w = watermarkFrom(names)
    (w, idsByPrefix(names, "commit-").filter(_ > w).toSet)
  }

  /** The retained abort list (exception list under and above the
    * watermark).
    */
  def abortedSet(dir: String): Set[Long] =
    idsWithPrefix(dir, "abort-").toSet

  def isCommitted(dir: String, tx: Long): Boolean = {
    val (w, recent) = committedState(dir)
    (tx <= w || recent(tx)) && !abortedSet(dir).contains(tx) &&
      !purgedAbort(dir, tx) // aborted-and-purged ids stay non-committed
  }

  /** The committed-set membership predicate for [[Mvcc.visible]]:
    * one comparison against the watermark plus `isin`s over the
    * in-flight window and the abort list — codegen-friendly,
    * size-bounded.
    */
  def committedColumn(dir: String): Column => Column = {
    val (w, recent) = committedState(dir)
    val aborted = abortedSet(dir)
    c => {
      val committed = if (recent.isEmpty) c <= w else c <= w || c.isin(recent.toSeq: _*)
      if (aborted.isEmpty) committed
      else committed && !c.isin(aborted.toSeq: _*)
    }
  }

  /** Cross-session snapshot read: [[Mvcc.visible]] with the
    * PERSISTED committed set, bounded to transactions ordered BEFORE
    * the reader — a tx that began and committed after `tx` began is
    * invisible (the reference's `isCommittedBefore` rule,
    * MVCC.hs:286-298: `txCommittedID < reader txId`; ids are
    * allocation-ordered here, the serial-history approximation of
    * commit order that [[Mvcc.visibleAt]] also uses).
    */
  def visibleStore(dir: String, tx: Long): Column = {
    val committed = committedColumn(dir)
    Mvcc.visible(tx, c => committed(c) && c < lit(tx))
  }

  /** Advance the watermark over the contiguous RESOLVED prefix
    * (committed or aborted) and drop its commit/alloc markers; abort
    * markers are retained (see the class note — they may guard
    * not-yet-purged staged versions). A crash mid-delete leaves
    * markers `<= w`, which [[committedState]] already ignores —
    * re-running finishes the cleanup. Never advances past a gap: an
    * in-flight (allocated, unresolved) tx keeps everything above it
    * in the marker set.
    *
    * Concurrent compactors are serialized by an exclusive lock file
    * (a dead compactor's stale lock is broken after `lockHorizonMs`),
    * and the watermark write re-reads and never regresses — so a
    * racing pair can never publish a watermark smaller than one whose
    * markers were already deleted.
    */
  def compact(dir: String, lockHorizonMs: Long = 60 * 60 * 1000L): Unit = {
    val lock = s"${txDir(dir)}/compact-lock"
    // a live compactor's lock means this run is a no-op; a dead one's
    // is broken by the one-winner rename-steal. The nonce keeps a
    // compactor that outlived the horizon from releasing its BREAKER'S
    // lock on the way out (two live compactors otherwise).
    val nonce = Sidecar.acquireLock(lock, lockHorizonMs).getOrElse(return)
    try {
      val names = Sidecar.listNames(txDir(dir))
      val w0 = watermarkFrom(names)
      val resolved = (idsByPrefix(names, "commit-") ++ idsByPrefix(names, "abort-"))
        .filter(_ > w0).distinct.sorted
      var w = w0
      for (id <- resolved if id == w + 1) w = id
      val wFinal = math.max(w, watermark(dir))
      // the NEW marker lands BEFORE any old marker is deleted, so a
      // reader's single-listing snapshot always carries either the
      // commit marker or a covering watermark — never neither. The
      // monotone-marker scheme (max over creates) cannot regress, so
      // a racing pair can never publish a watermark smaller than one
      // whose markers were already deleted.
      if (wFinal > 0) Sidecar.createExclusive(s"${txDir(dir)}/watermark-$wFinal"): Unit
      idsByPrefix(names, "watermark-").filter(_ < wFinal)
        .foreach(v => Sidecar.delete(s"${txDir(dir)}/watermark-$v"))
      idsByPrefix(names, "commit-").filter(_ <= wFinal)
        .foreach(id => Sidecar.delete(s"${txDir(dir)}/commit-$id"))
      idsByPrefix(names, "alloc-").filter(_ <= wFinal)
        .foreach(id => Sidecar.delete(s"${txDir(dir)}/alloc-$id"))
      // resolution claims of folded ids: the outcome is in the
      // watermark (+ retained abort list) now; a stale aborter
      // re-creating one is voided by the post-claim watermark guard
      idsByPrefix(names, "resolve-").filter(_ <= wFinal)
        .foreach(id => Sidecar.delete(s"${txDir(dir)}/resolve-$id"))
    } finally Sidecar.releaseLock(lock, nonce)
  }

  /** Drop abort markers for transactions whose staged versions have
    * been physically purged from the data (the caller ran
    * [[Mvcc.compact]]-style maintenance and rewrote every file that
    * held `tx_min`/`tx_max` = these ids). Only markers at or below
    * the watermark may be forgotten — above it the id is unresolved
    * without its marker.
    */
  def forgetAborted(dir: String, ids: Set[Long]): Unit = {
    val w = watermark(dir)
    val bad = ids.filter(_ > w)
    require(bad.isEmpty,
      s"cannot forget aborts above the watermark $w: ${bad.toSeq.sorted.mkString(", ")}")
    ids.foreach { id =>
      // the purged record lands BEFORE the abort marker is dropped: a
      // crash between the two leaves both (still reads aborted; a
      // re-run finishes), never neither — the window where a late
      // commit(id) would read "folded as committed" and return a false
      // durability signal for a rolled-back transaction
      Sidecar.createExclusive(s"${txDir(dir)}/purged/$id"): Unit
      Sidecar.delete(s"${txDir(dir)}/abort-$id")
    }
  }

  /** THE end-to-end rollback purge (the maintenance recipe `forgetAborted`
    * assumes): take every abort marker at or below the watermark,
    * rewrite the versioned data with those transactions physically
    * removed ([[Mvcc.purgeAborted]] — staged creates dropped, staged
    * deletes re-opened), hand the purged frame to `persist` (the
    * caller's durable snapshot rewrite — forgetting markers before the
    * rewrite is durable would make the staged versions visible on a
    * crash, which is why the two steps compose HERE and not ad hoc),
    * and only then drop the markers. Returns the purged ids. Aborts
    * above the watermark stay: they may still be racing a commit.
    * Invariant (gated by TxLogSpec): after a purge cycle no surviving
    * row has `tx_min`/`tx_max` in the purged set, the abort markers
    * are gone (replaced by permanent `purged/<id>` records so the
    * point queries stay fail-loud), and reads through
    * [[committedColumn]] are unchanged.
    */
  def purgeAborted(dir: String, versioned: org.apache.spark.sql.DataFrame)(
      persist: org.apache.spark.sql.DataFrame => Unit): Set[Long] = {
    val w = watermark(dir)
    val purgeable = abortedSet(dir).filter(_ <= w)
    if (purgeable.isEmpty) return Set.empty
    // materialize BEFORE persist runs: the natural caller overwrites
    // the very files `versioned` lazily reads ("Cannot overwrite a
    // path that is also being read from"); the checkpoint severs that
    // lineage so same-path rewrites just work
    val purged = Mvcc.purgeAborted(versioned, purgeable).localCheckpoint(true)
    try persist(purged)
    finally purged.queryExecution.analyzed match {
      // release the maintenance frame's blocks once persisted (or on
      // a failed persist — the markers stay, so a re-run re-purges)
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false): Unit
      case _ => ()
    }
    forgetAborted(dir, purgeable)
    purgeable
  }
}
