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
}
