package graft

import java.util.concurrent.atomic.AtomicBoolean

import graft.core.{Sidecar, Versions}

/** Versioned layout roots: the pointer always lands on a COMPLETE
  * version, republish never disturbs a reader that already resolved,
  * crashed publishes are superseded (never resurrected, never block a
  * retry), retire spares the live version plus a grace window, and
  * the collision guard fails loud.
  */
class VersionsSpec extends GraftSuite {

  private def newRoot() =
    java.nio.file.Files.createTempDirectory("versions").toString + "/root"

  test("publish flips the pointer; old versions stay immutable and readable") {
    val root = newRoot()
    assert(Versions.current(root).isEmpty, "virgin root has no live version")
    assert(Versions.currentPath(root).isEmpty)

    val v1 = Versions.publish(root)(d => Sidecar.writeString(s"$d/data.txt", "one"))
    assert(v1 == 1L && Versions.current(root).contains(1L))
    val v2 = Versions.publish(root)(d => Sidecar.writeString(s"$d/data.txt", "two"))
    assert(v2 == 2L && Versions.current(root).contains(2L))
    assert(Versions.versions(root) == Seq(1L, 2L))

    assert(Sidecar.readString(s"${Versions.currentPath(root).get}/data.txt").contains("two"))
    // the superseded version is still there for readers that resolved earlier
    assert(Sidecar.readString(s"${Versions.versionDir(root, 1)}/data.txt").contains("one"))
  }

  test("a crashed publish is invisible, superseded, and never blocks the retry") {
    val root = newRoot()
    Versions.publish(root)(d => Sidecar.writeString(s"$d/data.txt", "live"))

    // the writer dies mid-publish, after creating some of the dir
    intercept[RuntimeException] {
      Versions.publish(root) { d =>
        Sidecar.writeString(s"$d/data.txt", "partial")
        throw new RuntimeException("writer killed")
      }
    }
    assert(Versions.current(root).contains(1L),
      "a crashed publish must not move the pointer")
    assert(Versions.versions(root) == Seq(1L, 2L), "the partial dir exists but is unflipped")

    // the retry takes a FRESH number — the possibly-partial dir is
    // never reused — and becomes live
    val v = Versions.publish(root)(d => Sidecar.writeString(s"$d/data.txt", "retry"))
    assert(v == 3L && Versions.current(root).contains(3L))
    assert(Sidecar.readString(s"${Versions.currentPath(root).get}/data.txt").contains("retry"))
  }

  test("retire spares the live version and the grace window, never anything above") {
    val root = newRoot()
    (1 to 5).foreach(i => Versions.publish(root)(d => Sidecar.writeString(s"$d/d", i.toString)))
    // a crashed publish above the live version
    Sidecar.writeString(s"${Versions.versionDir(root, 6)}/d", "crashed")

    val removed = Versions.retire(root, keep = 1)
    assert(removed == Seq(1L, 2L, 3L), s"retire must drop all but live+grace, got $removed")
    assert(Versions.versions(root) == Seq(4L, 5L, 6L),
      "live (5), grace (4), and the unflipped dir above (6) all survive")
    assert(Versions.retire(root, keep = 1).isEmpty, "retire is idempotent")
  }

  test("publish skips numbers another writer already took") {
    val root = newRoot()
    Versions.publish(root)(d => Sidecar.writeString(s"$d/d", "x"))
    // another publisher's dir (flipped or not) occupies the next slot:
    // the scan counts it, so this publish takes the one after — the
    // in-code existence require only fires in the both-computed-
    // the-same-number race window
    Sidecar.writeString(s"${Versions.versionDir(root, 2)}/d", "them")
    assert(Versions.publish(root)(d => Sidecar.writeString(s"$d/d", "y")) == 3L)
    assert(Versions.current(root).contains(3L))
  }

  test("versioned compacts on a root with nothing published raise and write no version") {
    val root = newRoot()
    val marker = intercept[IllegalArgumentException] {
      graft.pipeline.Tombstones.compactVersioned(spark, root)((_, _) => fail("wrote"))
    }
    val coupled = intercept[IllegalArgumentException] {
      graft.core.MaintLock.compactVersioned(root, "test")((_, _) => fail("wrote"))
    }
    Seq(marker, coupled).foreach(e =>
      assert(e.getMessage.contains(root), s"the message must name the root: ${e.getMessage}"))
    assert(Versions.versions(root).isEmpty, "no v= dir may be left behind")
    assert(Versions.current(root).isEmpty)
  }

  test("compactVersioned: deletes purge into the next version; the live flip is the swap") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables(spark, sf001).embeddings
    val idx = graft.pipeline.Ivf.train(spark, emb, "vec_id", "embedding", nlist = 4)
    val root = newRoot()
    Versions.publish(root)(d => graft.pipeline.Ivf.writePartitioned(emb, "embedding", idx, d))
    val v1 = Versions.currentPath(root).get

    val doomed = emb.filter(col("vec_id") % 10 === 7).select(col("vec_id"))
    val nDoomed = graft.pipeline.Tombstones.delete(v1, doomed, "vec_id")
    assert(nDoomed > 0)

    val v2 = graft.pipeline.Tombstones.compactVersioned(spark, root)(
      graft.pipeline.Ivf.compactPartitioned(spark, _, _, "vec_id"))
    assert(v2 == 2L && Versions.current(root).contains(2L))
    val live = Versions.currentPath(root).get
    assert(spark.read.parquet(live).count() == emb.count() - nDoomed,
      "the compacted live version physically purged the tombstoned rows")
    // the old version is untouched (still tombstone-masked, not purged)
    assert(spark.read.parquet(v1).count() == emb.count(),
      "the superseded version's files are intact for in-flight readers")
    // search over the live version == fresh publish of the survivors
    val q = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val fresh = java.nio.file.Files.createTempDirectory("cmpv-fresh").toString + "/layout"
    graft.pipeline.Ivf.writePartitioned(
      emb.filter(col("vec_id") % 10 =!= 7), "embedding", idx, fresh)
    val got = graft.pipeline.Ivf.topKPartitioned(spark, live, "vec_id", "embedding",
      idx, q, 10, nprobe = 4).collect().map(_.getLong(0)).toSeq
    val want = graft.pipeline.Ivf.topKPartitioned(spark, fresh, "vec_id", "embedding",
      idx, q, 10, nprobe = 4).collect().map(_.getLong(0)).toSeq
    assert(got == want)
  }

  test("a reader racing 40 republishes always sees a complete version") {
    val root = newRoot()
    Versions.publish(root)(d => Sidecar.writeString(s"$d/data.txt", "payload v1 ok"))

    val failed = new java.util.concurrent.atomic.AtomicReference[String](null)
    val stop = new AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        val path = Versions.currentPath(root)
        if (path.isEmpty) failed.compareAndSet(null, "pointer vanished")
        else {
          val data = Sidecar.readString(s"${path.get}/data.txt")
          if (!data.exists(_.endsWith("ok")))
            failed.compareAndSet(null, s"torn read at ${path.get}: $data")
        }
      }
    })
    reader.start()
    try {
      // keep=5: the reader's resolve->read window would need SIX
      // publishes inside it to lose its version — the grace window is
      // the documented knob for exactly this (size it to the longest
      // read against the layout)
      (2 to 41).foreach { i =>
        Versions.publish(root)(d => Sidecar.writeString(s"$d/data.txt", s"payload v$i ok"))
        Versions.retire(root, keep = 5)
      }
    } finally { stop.set(true); reader.join(10000) }
    assert(failed.get() == null, String.valueOf(failed.get()))
    assert(Versions.current(root).contains(41L))
  }
}
