package graft.core

/** Maintenance-window mutual exclusion for the COUPLED stores — the
  * families whose takedowns write a (marker, counter) or negated-count
  * PAIR rather than a bare id marker: the lexical index
  * ([[graft.pipeline.Retrieval.deleteDocs]] writes tombstone rows plus
  * a negative counter delta), the LM count store
  * ([[graft.pipeline.LmIndex.delete]] appends negated gram counts and
  * rewrites the token-total sidecar), and the CDC chunk store
  * ([[graft.pipeline.Cdc.deleteFromChunkStore]] appends negated
  * segments).
  *
  * Why a mechanism and not prose: a versioned compact snapshots the
  * store, rebuilds it, and flips the pointer — a coupled takedown
  * landing inside that window is applied to NEITHER side or HALF
  * applied (counters without markers, or negated segments the
  * snapshot already folded), silently corrupting counts. Marker-ONLY
  * stores close the window automatically
  * ([[graft.pipeline.Tombstones.compactVersioned]] re-applies
  * straggler batches — always safe because markers carry no
  * counters); the coupled write CANNOT be replayed without
  * double-counting, so the two writers must exclude each other. That
  * exclusion used to be a runbook rule ("pause takedowns during the
  * maintenance window"); this object makes it a lock both sides take
  * on the SAME store directory — coupled takedowns through
  * [[withLock]], versioned compacts through [[compactVersioned]] —
  * built on the single-winner nonce lock
  * ([[Sidecar.acquireLock]]/[[Sidecar.releaseLock]], the primitive
  * [[Model]] and [[graft.operators.TxLog]] compaction already trust,
  * SidecarLockSpec).
  *
  * Policy is fail-loud, not block: a takedown arriving while a
  * compact holds the lock raises [[MaintLock.StoreBusy]] immediately
  * (and vice versa) — the caller retries after the window, exactly
  * what the runbook said to do, but now the mistimed write is an
  * exception instead of silent corruption. The lock lives INSIDE the
  * store directory being compacted (`<store>/_maint.lock`), so for a
  * versioned root each version dir carries its own lock and the
  * compact locks the SOURCE version — the one takedowns of the live
  * pointer resolve to. A crashed holder's lock is broken by age
  * (default 30 min — generously above any observed compact).
  *
  * Reference semantics anchor: the reference serializes all mutation
  * behind one MVar'd handle (HGraphStorage API.hs:57-75 — writes go
  * through the single open database), so a takedown racing a defrag
  * cannot exist there; this lock restores that guarantee at
  * shared-filesystem scope.
  */
object MaintLock {

  /** Raised when the store's maintenance lock is held by another
    * writer — retry after the maintenance window.
    */
  final class StoreBusy(store: String, role: String) extends IllegalStateException(
    s"$role on $store refused: maintenance lock ${lockPath(store)} is held " +
      "(a compact or takedown is in flight) — coupled-store writes cannot " +
      "overlap a maintenance window; retry after it closes")

  def lockPath(store: String): String = s"$store/_maint.lock"

  /** Default staleness horizon: long enough that no live compact gets
    * its lock stolen, short enough that a crashed holder does not
    * wedge takedowns for a shift.
    */
  val DefaultHorizonMs: Long = 30L * 60 * 1000

  /** Run `f` holding `store`'s maintenance lock; raise [[StoreBusy]]
    * if another writer holds it. Both compacts and coupled takedowns
    * go through here, so their mutual exclusion is structural.
    */
  def withLock[A](store: String, role: String,
      horizonMs: Long = DefaultHorizonMs)(f: => A): A = {
    val lock = lockPath(store)
    val nonce = Sidecar.acquireLock(lock, horizonMs)
      .getOrElse(throw new StoreBusy(store, role))
    try f finally Sidecar.releaseLock(lock, nonce)
  }

  /** Compact the live version of the versioned `root` into its next
    * version via `write(src, dst)` and flip the pointer, holding the
    * SOURCE version's lock across the whole snapshot→flip window — the
    * coupled stores' counterpart of
    * [[graft.pipeline.Tombstones.compactVersioned]]. Returns the new
    * live version; raises when `root` has no live version, and
    * [[StoreBusy]] (as `role`) while a takedown holds the lock.
    */
  def compactVersioned(root: String, role: String)(
      write: (String, String) => Unit): Long = {
    val src = Versions.requireCurrentPath(root)
    withLock(src, role)(Versions.publish(root)(write(src, _)))
  }
}
