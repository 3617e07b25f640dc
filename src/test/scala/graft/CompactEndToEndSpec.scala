package graft

import java.nio.file.{Files, Paths}

import graft.jobs.{Compact, ExpireSnapshots}
import graft.table.{EqString, GeLong, GraftTable}

/** SURVEY.md §7.3 minimum end-to-end slice: tiny-file table -> Compact ->
  * identical scan results, fewer files, lineage written, resumable after an
  * injected kill. */
class CompactEndToEndSpec extends GraftSuite {

  test("compact merges tiny files, preserves every row and all scan results") {
    val t = TestFixtures.freshTable("compact-e2e")
    val before = snapshotReplay(t)
    val filesBefore = t.currentFiles.size
    val rowsBefore = t.currentFiles.map(_.rowCount).sum
    assert(filesBefore >= 48, s"fixture should be a small-files problem, got $filesBefore")

    val res = Compact.run(t, targetBytes = 4L * 1024 * 1024, maxConcurrentBins = 4)
    assert(res.snapshot.isDefined)
    assert(res.binsExecuted == res.binsPlanned)

    val filesAfter = t.currentFiles.size
    val rowsAfter = t.currentFiles.map(_.rowCount).sum
    assert(filesAfter < filesBefore / 4, s"expected big file-count drop: $filesBefore -> $filesAfter")
    assert(rowsAfter == rowsBefore)

    val after = snapshotReplay(t)
    for ((name, rows) <- before)
      assert(after(name) == rows, s"replay query '$name' changed after compaction")
  }

  test("compacting one bin of 40+ tiny files starts one Spark job per wave and no listing job") {
    val t = TestFixtures.freshTable("compact-one-bin")
    val target = 4L * 1024 * 1024
    val bins = Compact.plan(t.currentFiles, target)
    assert(bins.size == 1 && bins.head.size >= 40, s"bins: ${bins.map(_.size)}")
    val (res, jobs) = sparkJobsDuring(Compact.run(t, targetBytes = target))
    assert(res.binsExecuted == 1 && res.filesIn == bins.head.size)
    // The bin's files plan from its manifest entries; Spark would list more
    // than 32 paths in a job of its own.
    assert(jobs.size == 1, s"expected the wave's write job only, got: $jobs")
    assert(!jobs.exists(_.startsWith("Listing leaf files")))
    assert(t.currentFiles.map(_.rowCount).sum == TestFixtures.BaseRows)
  }

  test("snapshot isolation: a pinned pre-compaction scan is unaffected by the commit") {
    val t = TestFixtures.freshTable("compact-isolation")
    val pinned = t.currentSnapshot.snapshotId
    val beforeRows = canon(t.scan(Some(pinned)))
    Compact.run(t, targetBytes = 4L * 1024 * 1024)
    assert(t.currentSnapshot.snapshotId != pinned)
    // The pinned snapshot still reads the ORIGINAL files byte-for-byte.
    assert(canon(t.scan(Some(pinned))) == beforeRows)
    assert(canon(t.scan(Some(pinned))) == canon(t.scan()))
  }

  test("killed compaction resumes at unit granularity and commits the same result") {
    val t = TestFixtures.freshTable("compact-resume")
    val before = snapshotReplay(t)
    val binBytes = 192L * 1024 // small capacity => several bins on the fixture
    val planned = Compact.plan(t.currentFiles, binBytes).size
    assert(planned >= 2, s"need >=2 bins to test resume, got $planned")

    // Injected kill after 1 unit commits (waveSize=3 => several waves, so
    // the kill lands between waves with units still outstanding).
    intercept[Exception] {
      Compact.run(t, targetBytes = binBytes, maxConcurrentBins = 1,
        failAfterUnits = Some(1), waveSize = 3)
    }
    assert(t.currentSnapshot.operation == "append", "no snapshot must commit on kill")

    // Restart: resumes, re-running only the unfinished units.
    val res = Compact.run(t, targetBytes = binBytes, maxConcurrentBins = 1,
      waveSize = 3)
    assert(res.snapshot.isDefined)
    assert(res.binsResumed >= 1, s"expected resumed units, got ${res.binsResumed}")
    assert(res.binsResumed + res.binsExecuted == res.binsPlanned)
    assert(snapshotReplay(t) == before)

    // Running again on the new base is a fresh (smaller or empty) plan and
    // must preserve results either way.
    Compact.run(t, targetBytes = binBytes)
    assert(snapshotReplay(t) == before)
  }

  test("resume after an orphan sweep re-runs the units whose outputs were swept") {
    val t = TestFixtures.freshTable("compact-resume-swept")
    val before = snapshotReplay(t)
    val binBytes = 192L * 1024
    intercept[Exception] {
      Compact.run(t, targetBytes = binBytes, maxConcurrentBins = 1,
        failAfterUnits = Some(1), waveSize = 3)
    }
    // The killed run's outputs are in no snapshot: a sweep with no min-age
    // deletes them all, the finished unit's output included.
    val swept = ExpireSnapshots.run(t, Seq(t.currentSnapshot.snapshotId), orphanMinAgeMs = 0L)
    assert(swept.orphansSwept >= 1)
    val res = Compact.run(t, targetBytes = binBytes, maxConcurrentBins = 1, waveSize = 3)
    assert(t.scan().count() == TestFixtures.BaseRows)
    assert(res.binsResumed == 0 && res.binsExecuted == res.binsPlanned, res.toString)
    assert(t.currentFiles.forall(f => Files.exists(Paths.get(t.root, f.path))))
    assert(snapshotReplay(t) == before)
  }

  test("pruned scan opens fewer files and returns the same rows as a full filter") {
    val t = TestFixtures.baseTable
    val all = t.currentFiles.size
    val filters = Seq(EqString("fmt", "png"), GeLong("w", 64))
    val planned = t.planFiles(filters).size
    assert(planned <= all)
    val pruned = canon(t.scanWhere(filters))
    val full = canon(t.scan().filter("fmt = 'png' AND w >= 64"))
    assert(pruned == full)
  }

  test("file-size histogram reflects the small-files fixture") {
    val hist = Compact.sizeHistogram(TestFixtures.baseTable)
    assert(hist.nonEmpty)
    assert(hist.map(_._2).sum == TestFixtures.baseTable.currentFiles.size)
  }
}
