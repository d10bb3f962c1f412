package graft.streaming

import graft.core.Sidecar

/** The staged-marker exactly-once commit protocol shared by the
  * streaming sinks ([[AnnStream]] raw + PQ appends, [[DedupStream]]):
  *
  *  1. the batch's output directories are written under a private
  *     per-key staging dir — invisible to readers;
  *  2. a per-key marker file is created by atomic rename — THE commit
  *     point;
  *  3. staged files move into the live directories (atomic per-file
  *     renames via [[Sidecar.promoteTree]]) and staging is dropped.
  *
  * Crash-window analysis (spec-pinned on both sides in AnnStreamSpec
  * and DedupStreamSpec): a crash before 2 leaves only staged files —
  * the retry re-stages (overwrite) and commits, nothing was visible,
  * nothing duplicates; a crash after 2 leaves marker + staged files —
  * the retry recognizes the marker and finishes the move (renames are
  * resumable, already-moved files are gone from staging). The batch
  * lands exactly once whichever side of the marker the writer died on.
  *
  * Keys are (checkpoint-token, batch-id): batch ids are only
  * meaningful relative to a checkpoint (a checkpoint-less restart
  * resets them to 0, and a bare-id marker would silently DROP
  * never-seen data), so the checkpoint dir is REQUIRED. Each key is
  * its own marker file written by atomic rename — concurrent writers
  * with different checkpoints dedupe independently and cannot corrupt
  * each other's markers.
  */
private[streaming] object StagedCommit {

  def batchKey(checkpointDir: String, id: Long): String =
    s"${graft.queries.SessionPublish.token(checkpointDir)}:$id"

  // ':' is not legal inside a Hadoop Path segment — marker files use
  // '_' (the token is hex, so the mapping is unambiguous)
  def keyToFile(key: String): String = key.replace(':', '_')
  def fileToKey(name: String): String = name.replace('_', ':')

  /** One micro-batch under the protocol above. `stage` writes the
    * batch's output as subdirectories of the given staging dir; the
    * batch counts as applied iff its own marker file exists. Returns
    * None for a replay — including the crashed-after-marker case,
    * where the retry's only job is to finish moving the staged files
    * in.
    */
  def run[A](markerDir: String, stagingRoot: String, promoteInto: String,
      checkpointDir: String, batchId: Long)(stage: String => A): Option[A] = {
    val keyFile = keyToFile(batchKey(checkpointDir, batchId))
    val staging = s"$stagingRoot/$keyFile"
    if (Sidecar.exists(s"$markerDir/$keyFile")) {
      // crashed between marker and promote: complete the move
      Sidecar.promoteTree(staging, promoteInto)
      None
    } else {
      // a crash mid-stage leaves partial files; overwrite restages
      val result = stage(staging)
      Sidecar.writeString(s"$markerDir/$keyFile", "")
      Sidecar.promoteTree(staging, promoteInto)
      Some(result)
    }
  }
}
