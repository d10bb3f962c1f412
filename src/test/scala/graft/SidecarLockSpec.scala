package graft

import graft.core.Sidecar

/** The ownership-lock protocol ([[Sidecar.acquireLock]] /
  * [[Sidecar.releaseLock]]): nonce-as-content claims, single-winner
  * staleness breaks, and — the r13 hardening — a single-winner RELEASE,
  * so a holder that outlived the staleness horizon can never delete its
  * breaker's fresh lock (the two-op read-owner-then-delete race).
  */
class SidecarLockSpec extends GraftSuite {

  private def tmpLock(): String = {
    val d = java.nio.file.Files.createTempDirectory("locks").toString
    s"$d/compact-lock"
  }

  private def backdate(path: String, ageMs: Long): Unit =
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(path),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - ageMs))

  test("createExclusiveWithContent: one winner, content atomic with the claim") {
    val d = java.nio.file.Files.createTempDirectory("locks").toString
    assert(Sidecar.createExclusiveWithContent(s"$d/m", "alpha"))
    assert(!Sidecar.createExclusiveWithContent(s"$d/m", "beta"))
    assert(Sidecar.readString(s"$d/m").contains("alpha"))
    // the hidden claim temp is cleaned up on both outcomes
    assert(Sidecar.listNames(d) == Seq("m"))
  }

  test("acquire/release roundtrip; live lock blocks a second claimant") {
    val lock = tmpLock()
    val nonce = Sidecar.acquireLock(lock, horizonMs = 60000).get
    assert(Sidecar.readString(lock).contains(nonce), "nonce IS the lock content")
    assert(Sidecar.acquireLock(lock, 60000).isEmpty, "live lock is not stealable")
    Sidecar.releaseLock(lock, nonce)
    assert(!Sidecar.exists(lock))
    assert(Sidecar.acquireLock(lock, 60000).isDefined, "released slot re-claimable")
  }

  test("release with a foreign nonce is a no-op (lock survives untouched)") {
    val lock = tmpLock()
    val nonce = Sidecar.acquireLock(lock, 60000).get
    Sidecar.releaseLock(lock, "not-the-nonce")
    assert(Sidecar.readString(lock).contains(nonce), "foreign release must not remove the lock")
    Sidecar.releaseLock(lock, nonce)
    assert(!Sidecar.exists(lock))
  }

  test("stale break: breaker wins, zombie's release cannot remove the breaker's lock") {
    val lock = tmpLock()
    val zombie = Sidecar.acquireLock(lock, 60000).get
    backdate(lock, ageMs = 120000) // the holder outlived the horizon
    val breaker = Sidecar.acquireLock(lock, horizonMs = 60000).get
    assert(breaker != zombie)
    assert(Sidecar.readString(lock).contains(breaker))
    // the ADVICE race: the evicted zombie releases with its old nonce —
    // under the r13 protocol this is a verified no-op, never a delete
    // of the breaker's incarnation
    Sidecar.releaseLock(lock, zombie)
    assert(Sidecar.readString(lock).contains(breaker),
      "zombie release removed the breaker's lock (check-then-act race)")
    Sidecar.releaseLock(lock, breaker)
    assert(!Sidecar.exists(lock))
  }

  test("contended acquire: exactly one winner among racing claimants") {
    val lock = tmpLock()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val wins = Await.result(
      Future.sequence((1 to 8).map(_ => Future(Sidecar.acquireLock(lock, 60000)))),
      30.seconds).flatten
    assert(wins.size == 1, s"expected one winner, got ${wins.size}")
    Sidecar.releaseLock(lock, wins.head)
    assert(!Sidecar.exists(lock))
  }
}
