package graft

import graft.jobs.{Compact, RewriteManifests}
import graft.table.MetaIO

class RewriteManifestsSpec extends GraftSuite {

  test("rewrite consolidates manifests sorted by phash bound; skip-unchanged on rerun") {
    val t = TestFixtures.freshTable("manifests")
    // Several appends -> several manifests.
    GraftTable_appendTwice(t)
    val before = t.currentSnapshot.manifests.size
    assert(before >= 3)

    val r1 = RewriteManifests.run(t, targetFilesPerManifest = 1000)
    assert(!r1.skippedUnchanged)
    assert(t.currentSnapshot.manifests.size == 1)
    assert(t.scan().count() == TestFixtures.BaseRows + 40)

    // Manifest entries ordered by phash lower bound.
    val files = MetaIO.readManifest(t.root, t.currentSnapshot.manifests.head).files
    val mins = files.flatMap(_.stats.get("phash").flatMap(_.min).map(_.toLong))
    assert(mins == mins.sorted)

    // I1 skip-unchanged.
    val r2 = RewriteManifests.run(t)
    assert(r2.skippedUnchanged)

    // A new append invalidates the skip gate.
    GraftTable.append(t, graft.images.ImageGen.df(spark, 10, seed = 3L, partitions = 1))
    val r3 = RewriteManifests.run(t)
    assert(!r3.skippedUnchanged)
  }

  private def GraftTable_appendTwice(t: graft.table.GraftTable): Unit = {
    GraftTable.append(t, graft.images.ImageGen.df(spark, 20, seed = 1L, partitions = 1))
    GraftTable.append(t, graft.images.ImageGen.df(spark, 20, seed = 2L, partitions = 1))
  }

  private val GraftTable = graft.table.GraftTable
}
