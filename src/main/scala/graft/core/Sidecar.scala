package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Few-byte metadata ("sidecar") I/O for published layouts — the IVF /
  * LSH / IVF-PQ geometry files, streaming append markers, and the
  * snapshot manifest. All of it goes through the Hadoop FileSystem
  * API, resolved per-path from the active session's configuration, so
  * a layout published to hdfs:// or s3a:// works exactly like file:
  * (the reference's metadata lives in its storage root the same way —
  * HGraphStorage API.hs:57-75 opens model+data together). java.nio
  * would silently treat "hdfs://nn/x" as a relative local path and
  * fail AFTER the expensive parquet publish; routing the few bytes
  * here makes the scheme a non-event. SidecarFsSpec exercises a
  * non-`file:` scheme end-to-end.
  *
  * Writes are atomic: content lands in a hidden temp name and is
  * renamed onto the target (single-file rename — atomic on HDFS and
  * POSIX), so a concurrent reader never observes a half-written
  * sidecar.
  */
object Sidecar {

  /** Per-path FileSystem from the active session's Hadoop conf (falls
    * back to a default Configuration off-session, e.g. in tools).
    */
  private def fsFor(path: String): (FileSystem, Path) = {
    val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration).getOrElse(new Configuration())
    val p = new Path(path)
    (p.getFileSystem(conf), p)
  }

  def exists(path: String): Boolean = {
    val (fs, p) = fsFor(path); fs.exists(p)
  }

  /** Create `path` exclusively (no overwrite): true iff THIS caller
    * created it — the claim primitive for id allocation (HDFS create
    * without overwrite is atomic; local FS close enough for the
    * single-machine test rig).
    */
  def createExclusive(path: String): Boolean = {
    val (fs, p) = fsFor(path)
    fs.mkdirs(p.getParent)
    fs match {
      // Hadoop's local create(overwrite=false) is exists-then-create —
      // NOT atomic under contention; O_CREAT|O_EXCL via nio is
      case _: org.apache.hadoop.fs.LocalFileSystem | _: org.apache.hadoop.fs.RawLocalFileSystem =>
        try {
          java.nio.file.Files.createFile(java.nio.file.Paths.get(p.toUri.getPath))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          case _: java.io.IOException => false
        }
      case _ => // HDFS-class stores: create-no-overwrite is atomic
        try {
          val out = fs.create(p, false)
          out.close()
          true
        } catch { case _: java.io.IOException => false }
    }
  }

  /** [[createExclusive]] with `content` landing atomically WITH the
    * claim on local filesystems: the content is written to a hidden
    * sibling first and the target is created as a hard LINK to it
    * (link(2) fails if the target exists and is atomic), so no reader
    * can ever observe the claimed file without its content. On
    * HDFS-class stores create-no-overwrite is the atomic claim and the
    * content lands before close — a reader in that sub-millisecond
    * window sees an empty file, which every consumer here treats as
    * "foreign owner" (a safe no-op, see [[releaseLock]]).
    */
  def createExclusiveWithContent(path: String, content: String): Boolean = {
    val (fs, p) = fsFor(path)
    fs.mkdirs(p.getParent)
    val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    fs match {
      case _: org.apache.hadoop.fs.LocalFileSystem | _: org.apache.hadoop.fs.RawLocalFileSystem =>
        val target = java.nio.file.Paths.get(p.toUri.getPath)
        val tmp = target.resolveSibling(
          s".${p.getName}.claim-${java.util.UUID.randomUUID().toString.take(8)}")
        try {
          java.nio.file.Files.write(tmp, bytes)
          try { java.nio.file.Files.createLink(target, tmp); true }
          catch {
            case _: java.nio.file.FileAlreadyExistsException => false
            case _: java.io.IOException => false
          }
        } catch { case _: java.io.IOException => false }
        finally {
          try java.nio.file.Files.deleteIfExists(tmp)
          catch { case _: java.io.IOException => () }
        }
      case _ =>
        try {
          val out = fs.create(p, false)
          try out.write(bytes) finally out.close()
          true
        } catch { case _: java.io.IOException => false }
    }
  }

  def readString(path: String): Option[String] = {
    val (fs, p) = fsFor(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
    }
  }

  /** `k=v` lines → map; None if the file does not exist. */
  def readProps(path: String): Option[Map[String, String]] =
    readString(path).map(parseProps)

  private def parseProps(s: String): Map[String, String] =
    s.linesIterator
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap

  /** [[readString]] with bounded retry while the file is missing or
    * unreadable — for paths the caller EXPECTS to exist (a published
    * layout's geometry sidecar): closes the replacement window on
    * filesystems where [[writeString]] must fall back to
    * delete-then-rename because a rename cannot overwrite. Still
    * returns None once the retries are exhausted, so a genuinely
    * unpublished layout fails loud in the caller exactly as before —
    * the retries only add latency to that (already-fatal) path.
    */
  def readStringExpected(path: String, attempts: Int = 5,
      delayMs: Long = 40): Option[String] = {
    var i = 1
    while (i < attempts) {
      try {
        val r = readString(path)
        if (r.isDefined) return r
      } catch { case _: java.io.IOException => /* mid-replace; retry */ }
      Thread.sleep(delayMs)
      i += 1
    }
    readString(path)
  }

  /** [[readProps]] under [[readStringExpected]]'s retry. */
  def readPropsExpected(path: String): Option[Map[String, String]] =
    readStringExpected(path).map(parseProps)

  /** Atomic: write a sibling temp file, then rename onto the target.
    * The rename is tried FIRST (POSIX / RawLocalFileSystem rename
    * replaces an existing target atomically, so a concurrent reader
    * sees old-or-new content and never a gap); only where the
    * filesystem refuses to rename onto an existing file (HDFS) does
    * the delete-then-rename fallback run — that window is covered on
    * the read side by [[readStringExpected]]'s bounded retry.
    */
  def writeString(path: String, content: String): Unit = {
    val (fs, p) = fsFor(path)
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, p)) {
      if (fs.exists(p)) fs.delete(p, false)
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"sidecar rename $tmp -> $p failed")
    }
  }

  def writeProps(path: String, props: Seq[(String, String)]): Unit =
    writeString(path, props.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n"))

  def mkdirs(dir: String): Unit = {
    val (fs, p) = fsFor(dir); fs.mkdirs(p): Unit
  }

  def delete(path: String, recursive: Boolean = false): Unit = {
    val (fs, p) = fsFor(path)
    if (fs.exists(p)) fs.delete(p, recursive): Unit
  }

  /** Remove `dir` only if it is an empty directory — for shared
    * staging roots where a recursive delete would clobber another
    * writer's in-flight content. Losing the race (someone created an
    * entry between the check and the delete) is fine: the non-recursive
    * delete refuses a non-empty dir, and the root is just left behind.
    */
  def deleteIfEmpty(dir: String): Unit = {
    val (fs, p) = fsFor(dir)
    try if (fs.exists(p) && fs.listStatus(p).isEmpty) fs.delete(p, false): Unit
    catch { case _: java.io.IOException => /* raced with a writer; leave it */ }
  }

  /** Modification time of `path` in epoch millis (None if absent) —
    * the staleness signal for crash-janitor policies (a dead writer's
    * abandoned marker/lock is only breakable by age).
    */
  def modificationTime(path: String): Option[Long] = {
    val (fs, p) = fsFor(path)
    // exists-then-getFileStatus is a TOCTOU under concurrent marker
    // deletion (Model.compact removing claims, TxLog.compact cleanup):
    // a file deleted between the two calls must read as "absent", not
    // throw out of visibleSegments/abortStale
    try { if (!fs.exists(p)) None else Some(fs.getFileStatus(p).getModificationTime) }
    catch { case _: java.io.FileNotFoundException => None }
  }

  /** Single-file rename WITHOUT overwrite fallbacks: true iff THIS
    * caller moved `src` to `dst`. Because a rename's source must exist
    * at the instant of the move, racing callers renaming the same file
    * to distinct destinations get exactly one winner — the steal
    * primitive for breaking stale locks ([[graft.operators.TxLog.compact]]).
    */
  def rename(src: String, dst: String): Boolean = {
    val (fs, s) = fsFor(src)
    val d = new Path(dst)
    try fs.exists(s) && fs.rename(s, d)
    catch { case _: java.io.IOException => false }
  }

  /** Acquire `lock` exclusively, breaking a STALE holder (a dead
    * process's lock, mtime older than `horizonMs`; see the steal rule
    * below). Returns an OWNERSHIP nonce iff THIS caller now holds the
    * lock; None means a live holder exists or the break race was lost
    * — callers treat both as "someone else is doing the job". The
    * nonce IS the lock file's content, written atomically with the
    * claim ([[createExclusiveWithContent]]), so ownership has no
    * separate owner-file whose stamp could race the claim (a pre-claim
    * stamp can land AFTER a competing winner's and hijack its release;
    * a post-claim stamp leaves a window where the winner is
    * unreleasable). Release with [[releaseLock]], whose rename-based
    * check-and-remove has exactly one winner per lock incarnation —
    * a holder that outlived the staleness horizon and got broken can
    * never remove its breaker's lock.
    */
  def acquireLock(lock: String, horizonMs: Long): Option[String] = {
    val nonce = java.util.UUID.randomUUID().toString
    def claim(): Option[String] =
      if (createExclusiveWithContent(lock, nonce)) Some(nonce) else None
    claim().orElse {
      def staleNow = modificationTime(lock)
        .exists(_ < System.currentTimeMillis() - horizonMs)
      if (!staleNow) None
      else {
        // break by RENAME to a unique tombstone: a rename's source must
        // exist at the instant of the move, so racing breakers get
        // exactly one winner — check-mtime-then-delete would let a pair
        // delete a stale lock AND a fresh replacement. The mtime is
        // re-read immediately before the steal to shrink the
        // fresh-lock-replaced-stale window to microseconds.
        val tomb = s"$lock-broken-${java.util.UUID.randomUUID().toString.take(8)}"
        if (!staleNow || !rename(lock, tomb)) None
        else { delete(tomb); claim() }
      }
    }
  }

  /** Release `lock` if still owned by `nonce` — SINGLE-WINNER, like
    * the steal path: the lock is renamed to a private tombstone first
    * (one winner per incarnation), its content verified against the
    * nonce, and only a verified-own tombstone is deleted. A plain
    * read-owner-then-delete would be a check-then-act race two
    * filesystem ops wide: a holder that outlived the staleness horizon
    * could verify its own nonce, then — after a breaker renamed the
    * stale lock away, re-claimed, and stamped its own ownership —
    * delete the BREAKER'S fresh lock and admit a third party
    * concurrently. Here the rename removes exactly one incarnation; if
    * its content turns out foreign (the pathological zombie case: the
    * break happened between this caller's content pre-check and the
    * rename), the foreign lock is restored by the reverse rename. The
    * only unrecoverable interleaving left needs a THIRD claimant to
    * slip into the microsecond tombstone window — strictly narrower
    * than the race this replaces, and it degrades to the foreign
    * holder losing its lock (its own release then no-ops on the
    * content pre-check; the staleness break recovers the slot).
    */
  def releaseLock(lock: String, nonce: String): Unit = {
    // a concurrent breaker's rename can race readString's exists/open
    // pair — a mid-rename lock must read as "absent" (no-op), never
    // throw out of the caller's finally
    def contentIs(path: String): Boolean =
      try readString(path).contains(nonce)
      catch { case _: java.io.IOException => false }
    if (!contentIs(lock)) return // foreign/absent: no-op
    val tomb = s"$lock.rel-${java.util.UUID.randomUUID().toString.take(8)}"
    if (!rename(lock, tomb)) return // lost to a racing breaker: no-op
    if (contentIs(tomb)) delete(tomb) // ours: released
    else if (exists(lock) || !rename(tomb, lock)) {
      // restore failed (slot re-claimed meanwhile): drop the tombstone;
      // the displaced holder's own release no-ops on its content check
      delete(tomb)
    }
  }

  /** Total bytes of all files under `dir`, recursively (0 if absent) —
    * the size evidence behind conditional broadcast hints: a join side
    * whose backing files total a few MB is safe to broadcast
    * regardless of `spark.sql.autoBroadcastJoinThreshold`, and one
    * that has grown past the bound must not be.
    */
  def treeSize(dir: String): Long = {
    val (fs, p) = fsFor(dir)
    try { if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength }
    catch { case _: java.io.FileNotFoundException => 0L }
  }

  /** Fully qualified paths of the data files under `dir`, recursively
    * and sorted (empty if absent) — the files a parquet read of `dir`
    * lists: names starting with `.` or `_` (checksums, `_SUCCESS`, a
    * committer's `_temporary` tree) are skipped at every depth, except
    * `col=value` partition directories. Overwrites and republishes
    * write new uuid-named part files, so the listing is a version
    * signal for the store state.
    */
  def dataFiles(dir: String): Seq[String] = {
    val (fs, p) = fsFor(dir)
    def hidden(n: String) = n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
    // a directory removed mid-listing (a compaction's delete) reads as empty
    def walk(d: Path): Seq[String] =
      (try fs.listStatus(d).toSeq catch { case _: java.io.FileNotFoundException => Nil })
        .flatMap { s =>
          if (hidden(s.getPath.getName)) Nil
          else if (s.isDirectory) walk(s.getPath)
          else Seq(s.getPath.toString)
        }
    walk(p).sorted
  }

  /** Child names of `dir` (empty if absent). */
  def listNames(dir: String): Seq[String] = {
    val (fs, p) = fsFor(dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).map(_.getPath.getName).toSeq
  }

  /** Atomic directory rename (mkdirs the destination's parent first).
    * The unit of all-or-nothing visibility for multi-file artifacts: a
    * writer stages a whole directory invisibly, then renames it into
    * the watched location in one filesystem operation (atomic on HDFS
    * and POSIX; object-store semantics are the committer's problem,
    * same as every other rename in this file).
    */
  def renameDir(srcDir: String, dstDir: String): Unit = {
    val (fs, src) = fsFor(srcDir)
    val dst = new Path(dstDir)
    fs.mkdirs(dst.getParent)
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"directory rename $srcDir -> $dstDir failed")
  }

  /** Move every data file under `srcDir`'s immediate subdirectories
    * into the same-named subdirectory of `dstDir` (creating it),
    * skipping committer artifacts (`_SUCCESS`, hidden files). Each
    * file move is one atomic rename, so a crashed move resumes by
    * calling this again: already-moved files are simply no longer in
    * `srcDir`. Used to promote a staged partitioned write into a live
    * layout (cell=N/part-*.parquet → layout/cell=N/).
    */
  def promoteTree(srcDir: String, dstDir: String): Unit = {
    val (fs, src) = fsFor(srcDir)
    if (!fs.exists(src)) return
    val entries = fs.listStatus(src)
    // only `col=value/` subdirectories are promoted; a top-level DATA
    // file means the staging dir was not written by a partitioned
    // write, and silently dropping it would turn that misuse into
    // invisible data loss — refuse loudly instead. (An empty staging
    // dir — e.g. an empty micro-batch's `_SUCCESS` alone, or a resumed
    // promote whose files already moved — stays a legitimate no-op.)
    val strays = entries.filter(e => e.isFile &&
      !e.getPath.getName.startsWith("_") && !e.getPath.getName.startsWith("."))
    require(strays.isEmpty,
      s"promoteTree: $srcDir contains top-level data files " +
        s"(${strays.map(_.getPath.getName).mkString(", ")}) — expected only " +
        "partitioned `col=value/` subdirectories; refusing to silently drop them")
    entries.filter(_.isDirectory).foreach { part =>
      val dst = new Path(new Path(dstDir), part.getPath.getName)
      fs.mkdirs(dst)
      fs.listStatus(part.getPath)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
          !f.getPath.getName.startsWith("."))
        .foreach { f =>
          val to = new Path(dst, f.getPath.getName)
          if (!fs.rename(f.getPath, to))
            throw new java.io.IOException(s"promote rename ${f.getPath} -> $to failed")
        }
    }
    fs.delete(src, true): Unit
  }
}
