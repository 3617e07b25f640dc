package graft.jobs

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.table.{GraftTable, MetaIO, TableMetadata}
import graft.util.Fs

/**
 * Reference-counted snapshot expiration over the metadata tree
 * (snapshot -> manifest -> data file).
 *
 * Direct re-grounding of the reference's refcounted orphan cleanup
 * (pipeline/src/indexing/pipeline.ts:263-308: delete entities whose
 * sourceChunkIds refcount drains to zero): a manifest is live iff a retained
 * snapshot lists it (the graph is one hop deep), and a data file is dead iff
 * a dead manifest lists it and no live manifest does — never deleting
 * anything reachable from a retained snapshot, no matter how many snapshots
 * share a manifest.
 *
 * Scale design: liveness is plain set work on the driver over manifests read
 * through the [[MetaIO.readManifest]] cache. That is the same O(live file
 * entries) driver walk every [[GraftTable.commit]] (and every scan plan)
 * already does, so expire adds no new driver-scale bound. Every deletion is
 * a driver loop that starts no Spark job: the table lives on a local file
 * system (`java.nio`), where an executor would unlink on the same disk at
 * the same few microseconds per file, and Apache Iceberg's Spark expire
 * action likewise deletes from the driver.
 */
object ExpireSnapshots {

  case class Result(
      retainedSnapshots: Seq[Long],
      expiredSnapshots: Seq[Long],
      deletedManifests: Long,
      deletedDataFiles: Long,
      deletedBytes: Long,
      orphansSwept: Long)

  /** Every data-file path that `manifests` list. */
  private def listedPaths(root: String, manifests: Iterable[String]): Set[String] =
    manifests.iterator.flatMap(mf => MetaIO.readManifest(root, mf).files.map(_.path)).toSet

  /** Delete `files` (path relative to `dir`, size) in one driver loop and
    * return (deleted count, deleted bytes). A file already gone counts for
    * nothing, so a re-run deletes and reports nothing. */
  private[graft] def deleteListed(dir: Path, files: Seq[(String, Long)]): (Long, Long) =
    files.foldLeft((0L, 0L)) { case ((n, bytes), (p, size)) =>
      if (Files.deleteIfExists(dir.resolve(p))) (n + 1, bytes + size) else (n, bytes)
    }

  /** Delete each commit directory holding one of `paths` (root-relative
    * data files just deleted) once no `.parquet` file is left in it. A
    * commit directory belongs to one write, so no writer can still be
    * adding to one whose data files are dead. */
  private def deleteEmptiedDirs(root: String, paths: Seq[String]): Unit = {
    val dataDir = Paths.get(root, "data").toAbsolutePath
    paths.map(p => Paths.get(root, p).toAbsolutePath.getParent).distinct
      .filter(_.getParent == dataDir)
      .filterNot(Fs.list(_).exists(_.getFileName.toString.endsWith(".parquet")))
      .foreach(Fs.deleteRecursively)
  }

  /** Retain set from a declarative policy (Iceberg's retain-last /
    * max-snapshot-age): the current snapshot always, plus the newest
    * `keepLast` snapshots, plus every snapshot younger than `maxAgeMs`.
    * Metadata-only computation. */
  def retainByPolicy(m: TableMetadata, keepLast: Option[Int] = None,
      maxAgeMs: Option[Long] = None,
      nowMs: Long = System.currentTimeMillis()): Seq[Long] = {
    val ids = m.snapshots.sortBy(_.snapshotId)
    val byLast = keepLast.map(n => ids.takeRight(math.max(0, n)).map(_.snapshotId))
      .getOrElse(Nil)
    val byAge = maxAgeMs.map(a => ids.filter(_.timestampMs > nowMs - a).map(_.snapshotId))
      .getOrElse(Nil)
    (byLast ++ byAge ++ m.currentSnapshotId.toSeq).distinct.sorted
  }

  def run(t: GraftTable, retain: Seq[Long],
      orphanMinAgeMs: Long = 60L * 60 * 1000): Result = {
    val jobT0 = System.nanoTime()
    val m = t.meta
    val retainSet = retain.toSet
    require(m.currentSnapshotId.forall(retainSet.contains),
      "refusing to expire the current snapshot")
    val known = m.snapshots.map(_.snapshotId).toSet
    require(retainSet.subsetOf(known), s"unknown snapshot ids: ${retainSet -- known}")

    // Manifest liveness: the manifests a retained snapshot lists.
    val liveManifests = m.snapshots.filter(s => retainSet.contains(s.snapshotId))
      .flatMap(_.manifests).toSet
    val deadManifests = m.snapshots.flatMap(_.manifests).distinct
      .filterNot(liveManifests.contains)

    // File liveness: dead manifests' entries minus every path a live manifest
    // lists, one entry per path (max size, should manifests disagree).
    val livePaths = listedPaths(t.root, liveManifests)
    val deadFiles: Seq[(String, Long)] = deadManifests
      .flatMap(mf => MetaIO.readManifest(t.root, mf).files)
      .filterNot(f => livePaths.contains(f.path))
      .groupMapReduce(_.path)(_.fileSizeBytes)(math.max)
      .toSeq.sorted

    // Commit new metadata first (CAS), then physically delete: a crash
    // between the two only leaves sweepable orphans, never dangling refs.
    // Retry semantics under concurrent writers: snapshots committed AFTER
    // planning are preserved (they descend from a retained snapshot, so
    // their manifests/files are live by construction), and the refreshed
    // current pointer is re-validated each attempt.
    MetaIO.casRetry(t.root, "expire") { (_, cur) =>
      val keep = cur.snapshots.filter(s =>
        retainSet.contains(s.snapshotId) || !known.contains(s.snapshotId))
      require(cur.currentSnapshotId.forall(id => keep.exists(_.snapshotId == id)),
        "concurrent commit moved the current snapshot to an id this expire would drop")
      Some(cur.copy(snapshots = keep))
    }

    val rootDir = Paths.get(t.root)
    val metaDir = MetaIO.metadataDir(t.root)
    val (deletedFiles, deletedBytes) = deleteListed(rootDir, deadFiles)
    deleteEmptiedDirs(t.root, deadFiles.map(_._1))
    deleteListed(metaDir, deadManifests.map(_ -> 0L))

    // Orphan sweeps: manifests no snapshot lists (a lost CAS attempt writes
    // its manifests first) and data files no manifest lists (outputs of
    // killed, never-committed units). Min-age guard: an in-flight writer's
    // outputs are in no snapshot yet, so only files old enough that no live
    // writer can still be about to commit them go. Liveness is read from the
    // FRESH post-CAS metadata, after the disk listing (arguments evaluate in
    // order): a snapshot committed concurrently references files absent from
    // the planning-time set, and the min-age guard alone must not be their
    // only protection (orphanMinAgeMs = 0 is a supported single-writer mode).
    val now = System.currentTimeMillis()
    def unreferencedOld(dir: Path, onDisk: Seq[String], referenced: Set[String]): Seq[String] =
      onDisk.filter(p => !referenced.contains(p) &&
        now - Files.getLastModifiedTime(dir.resolve(p)).toMillis >= orphanMinAgeMs)
    deleteListed(metaDir, unreferencedOld(metaDir,
      Fs.list(metaDir).map(_.getFileName.toString).filter(_.startsWith("manifest-")),
      t.meta.snapshots.flatMap(_.manifests).toSet).map(_ -> 0L))
    val dataDir = rootDir.resolve("data")
    val onDisk = if (!Files.exists(dataDir)) Nil else {
      val walk = Files.walk(dataDir)
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
        .map(p => rootDir.relativize(p).toString).toVector
      finally walk.close()
    }
    val swept = unreferencedOld(rootDir, onDisk,
      listedPaths(t.root, t.meta.snapshots.flatMap(_.manifests).distinct))
    val (orphans, _) = deleteListed(rootDir, swept.map(_ -> 0L))
    deleteEmptiedDirs(t.root, swept)

    graft.lineage.Metrics.recordJob(t.root, "expire", jobT0, Map(
      "expired" -> (known -- retainSet).size.toString,
      "deleted-files" -> deletedFiles.toString,
      "deleted-bytes" -> deletedBytes.toString,
      "orphans" -> orphans.toString))
    Result(retainSet.toSeq.sorted, (known -- retainSet).toSeq.sorted,
      deadManifests.size, deletedFiles, deletedBytes, orphans)
  }
}
