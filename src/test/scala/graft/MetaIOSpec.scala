package graft

import graft.table.{GraftTable, MetaIO}

/** The optimistic-CAS loop every metadata mutation goes through, with the
  * race made deterministic: the attempt itself commits a rival version
  * before returning, so its own CAS on the stale base must lose. */
class MetaIOSpec extends GraftSuite {

  private def freshRoot(name: String): String = {
    val root = TestFixtures.workRoot.resolve(name).toString
    GraftTable.create(root, spark)
    root
  }

  /** Commit a rival snapshot `op` through the loop, as another writer. */
  private def rival(root: String, op: String): Unit =
    MetaIO.casRetry(root, "rival") { (_, m) => Some(m.appendSnapshot(op, Nil, Map.empty)) }

  test("a lost CAS is re-derived from the fresh base; both changes survive") {
    val root = freshRoot("cas-lost-once")
    var attempts = 0
    val out = MetaIO.casRetry(root, "test") { (_, m) =>
      attempts += 1
      if (attempts == 1) rival(root, "rival")
      Some(m.appendSnapshot("mine", Nil, Map("attempt" -> attempts.toString)))
    }
    assert(attempts == 2)
    val (v, m) = MetaIO.load(root).get
    assert(v == 3, "create, the rival, then the re-derived attempt")
    assert(m == out)
    assert(m.snapshots.map(_.operation) == Seq("rival", "mine"))
    val mine = m.currentSnapshot.get
    assert(mine.summary == Map("attempt" -> "2"))
    assert(mine.parentId == Some(m.snapshots.head.snapshotId))
  }

  test("an attempt that always loses throws naming the mutation once the bound is reached") {
    val root = freshRoot("cas-always-lost")
    var attempts = 0
    val e = intercept[IllegalStateException] {
      MetaIO.casRetry(root, "doomed-op") { (_, m) =>
        attempts += 1
        rival(root, s"rival-$attempts")
        Some(m.appendSnapshot("mine", Nil, Map.empty))
      }
    }
    assert(e.getMessage.contains("doomed-op"), e.getMessage)
    assert(attempts == 21)
    val m = MetaIO.load(root).get._2
    assert(m.snapshots.map(_.operation) == (1 to 21).map(i => s"rival-$i"))
  }

  test("a concurrent reader never sees a version file before it is whole") {
    val root = freshRoot("cas-torn-read")
    // Large versions widen the window between a file's creation and its
    // last byte, where a reader would parse an empty or cut JSON document.
    val pad = "x" * (512 * 1024)
    @volatile var done = false
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val reader = new Thread(() =>
      while (!done) try MetaIO.load(root) catch { case e: Throwable => errors.add(e) })
    reader.start()
    try (1 to 30).foreach { i =>
      MetaIO.casRetry(root, "big") { (_, m) =>
        Some(m.copy(properties = m.properties + ("pad" -> s"$i$pad")))
      }
    } finally { done = true; reader.join() }
    assert(errors.isEmpty, s"${errors.size} failed loads, first: ${errors.peek()}")
    assert(MetaIO.load(root).get._1 == 31)
  }
}
