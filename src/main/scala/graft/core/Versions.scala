package graft.core

/** Versioned layout roots: snapshot-isolated REPUBLISH for published
  * artifacts (ANN layouts, band indexes, graph snapshots). A root
  * holds immutable version dirs `v=N/` plus a `_current` pointer
  * file:
  *
  *  - [[publish]] writes the NEXT version dir completely, then flips
  *    the pointer by atomic rename. A reader that resolved the
  *    pointer before the flip keeps reading its version — immutable
  *    and still present; one that resolves after sees the new version
  *    complete. No reader ever observes a half-written layout, which
  *    an in-place `mode("overwrite")` republish cannot guarantee on
  *    any filesystem (the old files are gone before the new ones
  *    land).
  *  - [[retire]] collects versions BELOW the live one (minus a grace
  *    window for in-flight readers). Versions above it — crashed
  *    publishes that never flipped — were never visible, are
  *    superseded by the next publish's higher number, and are left
  *    for a later retire pass once the pointer passes them.
  *
  * One publisher per root (the usual shape: one ingestion pipeline
  * owns an index); the version-dir existence check turns most
  * concurrent-publisher collisions into a loud error rather than an
  * interleaved write, but coordination between publishers is the
  * caller's job — readers need none.
  *
  * Reference anchor: the reference checkpoints whole database states
  * and reopens at a chosen root (STMGraph Raw.hs:105-109, the
  * `GraphSnapshot.write` manifest's anchor); this is that
  * publish-then-reopen discipline applied to shared layout roots, so
  * retrain/republish cycles (new IVF centroids, new codebooks, new
  * band geometry) swap atomically under live readers.
  */
object Versions {

  def versionDir(root: String, v: Long): String = s"$root/v=$v"
  private def pointerPath(root: String) = s"$root/_current"

  /** The live version number, if any publish ever flipped. The
    * bounded-retry read covers filesystems without atomic
    * rename-over-existing, where a concurrent flip has a
    * delete-then-rename gap — but only when version dirs prove a
    * publish happened; a virgin root answers None immediately.
    */
  def current(root: String): Option[Long] =
    Sidecar.readString(pointerPath(root))
      .orElse {
        if (versions(root).nonEmpty) Sidecar.readStringExpected(pointerPath(root))
        else None
      }
      .map(_.trim.toLong)

  /** Directory of the live version — resolve ONCE per query/job and
    * keep using the resolved path; every read under it is then
    * consistent regardless of concurrent flips.
    */
  def currentPath(root: String): Option[String] =
    current(root).map(versionDir(root, _))

  /** [[currentPath]] for a maintenance job (a versioned compact):
    * raises when `root` has no live version, before anything is
    * written under it.
    */
  private[graft] def requireCurrentPath(root: String): String =
    currentPath(root).getOrElse(throw new IllegalArgumentException(
      s"no live version at $root — publish through Versions first"))

  /** All version numbers present, flipped or not. */
  def versions(root: String): Seq[Long] =
    Sidecar.listNames(root)
      .collect { case n if n.startsWith("v=") => n.drop(2).toLong }
      .sorted

  /** Write version max+1 via `write(dir)`, then flip the pointer.
    * A crash inside `write` leaves an unflipped, never-visible dir
    * that the next publish supersedes (its number is counted, so no
    * retry ever reuses a possibly-partial dir).
    */
  def publish(root: String)(write: String => Unit): Long = {
    val v = versions(root).foldLeft(0L)(math.max) + 1
    val dir = versionDir(root, v)
    require(!Sidecar.exists(dir),
      s"version dir $dir already exists — a concurrent publisher took this number; " +
        "one publisher per root (coordinate publishes, readers need no coordination)")
    write(dir)
    Sidecar.writeString(pointerPath(root), v.toString)
    v
  }

  /** Delete versions below the live one, keeping the `keep` most
    * recent of them as a grace window for readers that resolved just
    * before a flip (size it to the longest query against the layout).
    * Returns the versions removed. Never touches the live version or
    * anything above it.
    */
  def retire(root: String, keep: Int = 1): Seq[Long] =
    current(root) match {
      case None => Nil
      case Some(live) =>
        val dead = versions(root).filter(_ < live).dropRight(keep)
        dead.foreach(v => Sidecar.delete(versionDir(root, v), recursive = true))
        dead
    }
}
