package graft

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.images.ImageGen
import graft.jobs.{Compact, ExpireSnapshots}
import graft.table.GraftTable

/** Table-format completeness: as-of-timestamp time travel, rollback,
  * declarative retention, and CAS linearization under concurrent writers. */
class TimeTravelSpec extends GraftSuite {

  test("time travel by timestamp resolves the latest snapshot at or before ts") {
    val t = TestFixtures.freshTable("timetravel")
    val s1 = t.currentSnapshot
    Thread.sleep(5) // distinct commit timestamps
    GraftTable.append(t, ImageGen.df(spark, 10, seed = 5L, partitions = 1))
    val s2 = t.currentSnapshot
    assert(s2.snapshotId != s1.snapshotId)
    assert(t.snapshotAsOf(s1.timestampMs).snapshotId == s1.snapshotId)
    assert(t.snapshotAsOf(s2.timestampMs).snapshotId == s2.snapshotId)
    assert(t.snapshotAsOf(System.currentTimeMillis()).snapshotId == s2.snapshotId)
    assert(t.scan(Some(t.snapshotAsOf(s1.timestampMs).snapshotId)).count() ==
      TestFixtures.BaseRows)
    assert(t.scan(Some(t.snapshotAsOf(s2.timestampMs).snapshotId)).count() ==
      TestFixtures.BaseRows + 10)
    intercept[IllegalArgumentException] { t.snapshotAsOf(s1.timestampMs - 100000) }
  }

  test("rollback moves the current pointer without destroying snapshots") {
    val t = TestFixtures.freshTable("rollback")
    val s1 = t.currentSnapshot
    val before = canon(t.scan())
    Compact.run(t, targetBytes = 4L * 1024 * 1024)
    val s2 = t.currentSnapshot
    assert(s2.snapshotId != s1.snapshotId)

    t.rollback(s1.snapshotId)
    assert(t.currentSnapshot.snapshotId == s1.snapshotId)
    assert(canon(t.scan()) == before)
    // The rolled-past snapshot is still reachable (not expired).
    assert(canon(t.scan(Some(s2.snapshotId))) == before)
    // Roll forward again; unknown ids refused.
    t.rollback(s2.snapshotId)
    assert(t.currentSnapshot.snapshotId == s2.snapshotId)
    intercept[IllegalArgumentException] { t.rollback(99999L) }
  }

  test("retention policy: keep-last and max-age always retain the current snapshot") {
    val t = TestFixtures.freshTable("retention")
    GraftTable.append(t, ImageGen.df(spark, 5, seed = 6L, partitions = 1))
    GraftTable.append(t, ImageGen.df(spark, 5, seed = 7L, partitions = 1))
    val m = t.meta
    val ids = m.snapshots.map(_.snapshotId).sorted
    assert(ids.size == 3)

    assert(ExpireSnapshots.retainByPolicy(m, keepLast = Some(2)) == ids.takeRight(2))
    assert(ExpireSnapshots.retainByPolicy(m, keepLast = Some(99)) == ids)
    // keep-last 0 still keeps current.
    assert(ExpireSnapshots.retainByPolicy(m, keepLast = Some(0)) == Seq(ids.last))
    // Age window covering every commit keeps all; a zero window keeps current.
    assert(ExpireSnapshots.retainByPolicy(m, maxAgeMs = Some(24L * 3600 * 1000)) == ids)
    assert(ExpireSnapshots.retainByPolicy(m, maxAgeMs = Some(0L),
      nowMs = System.currentTimeMillis() + 10000) == Seq(ids.last))

    // Policy-driven expire end-to-end.
    val r = ExpireSnapshots.run(t,
      ExpireSnapshots.retainByPolicy(t.meta, keepLast = Some(1)),
      orphanMinAgeMs = Long.MaxValue)
    assert(r.retainedSnapshots == Seq(ids.last))
    assert(r.expiredSnapshots.toSet == ids.dropRight(1).toSet)
    assert(t.scan().count() == TestFixtures.BaseRows + 10)
  }

  test("concurrent appenders linearize through the CAS: no lost snapshots, no lost rows") {
    val t = TestFixtures.freshTable("cas-stress")
    val base = t.currentSnapshot.snapshotId
    val writers = 6
    val pool = Executors.newFixedThreadPool(writers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (1 to writers).map { k =>
        Future {
          GraftTable.append(t,
            ImageGen.df(spark, 20, seed = 100L + k, partitions = 2)).snapshotId
        }
      }
      val ids = Await.result(Future.sequence(fs), Duration.Inf)
      assert(ids.distinct.size == writers, s"snapshot ids collided: $ids")
    } finally pool.shutdown()
    // Every writer's snapshot is in the chain; each parent link is a real
    // snapshot; the final row count reflects all appends.
    val m = t.meta
    assert(m.snapshots.size == writers + 1)
    val known = m.snapshots.map(_.snapshotId).toSet
    m.snapshots.filter(_.snapshotId != base).foreach { s =>
      assert(s.parentId.exists(known.contains), s"dangling parent in $s")
    }
    assert(t.scan().count() == TestFixtures.BaseRows + writers * 20)
  }
}
