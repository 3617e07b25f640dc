package graft.jobs

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

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
 * already does, so expire adds no new driver-scale bound. The one step that
 * is distributed is physical deletion above [[DriverDeleteMax]] files
 * (executor-side foreachPartition — the natural place for object-store
 * bulk-DELETE batches); smaller lists are deleted in a driver loop that
 * starts no Spark job.
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

  /** Driver-loop cutoff: deletion lists at or below this are deleted in a
    * driver loop (no Spark job); above it, deletes run executor-side via
    * foreachPartition. */
  val DriverDeleteMax = 512

  /** Physically delete `files` (root-relative path, fileSizeBytes),
    * returning (deletedCount, deletedBytes). A small list (<= DriverDeleteMax)
    * is a driver loop; a larger one is distributed: each executor partition
    * deletes its slice (on object storage this is where the bulk DELETE
    * batch call goes), counts flow back via accumulators. At 10^7 dead files
    * the driver-serial alternative is hours of wall clock. */
  private[graft] def deleteListed(spark: SparkSession, root: String,
      files: Seq[(String, Long)]): (Long, Long) = {
    // Absolutized ON THE DRIVER before the closure captures it: executor JVMs
    // under local-cluster have different working directories, so a relative
    // root would make executor-side deleteIfExists silently no-op.
    val rootAbs = Paths.get(root).toAbsolutePath.toString
    if (files.size <= DriverDeleteMax) {
      var cnt = 0L; var bytes = 0L
      files.foreach { case (p, b) =>
        if (Files.deleteIfExists(Paths.get(rootAbs, p))) { cnt += 1; bytes += b }
      }
      (cnt, bytes)
    } else {
      import spark.implicits._
      val cnt = spark.sparkContext.longAccumulator("expire.deletedFiles")
      val bytes = spark.sparkContext.longAccumulator("expire.deletedBytes")
      files.toDF("path", "fileSizeBytes").foreachPartition {
        it: Iterator[org.apache.spark.sql.Row] =>
          it.foreach { r =>
            if (Files.deleteIfExists(Paths.get(rootAbs, r.getString(0)))) {
              cnt.add(1); bytes.add(r.getLong(1))
            }
          }
      }
      (cnt.value, bytes.value)
    }
  }

  /** Delete each commit directory holding one of `paths` (root-relative
    * data files just deleted) once no `.parquet` file is left in it, with
    * whatever else remains (markers of older writers). A commit directory
    * belongs to one write, so no writer can still be adding to one whose
    * data files are dead. */
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

  def run(t: GraftTable, retain: Seq[Long], deleteFiles: Boolean = true,
      sweepOrphans: Boolean = true, orphanMinAgeMs: Long = 60L * 60 * 1000): Result = {
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
      // Legacy streaming idempotence markers live ONLY in snapshot
      // summaries on tables written before the properties watermark;
      // deleting those snapshots would reopen the duplicate window for a
      // batch redelivered across the upgrade boundary. Fold the max batch
      // id per checkpoint into the watermark properties in the SAME CAS
      // (properties survive expiry; StreamingIngest checks them first).
      // The fold covers ALL snapshots' markers — kept AND dropped: folding
      // only dropped ones could write a watermark BELOW a kept snapshot's
      // marker (drop batch 5, keep batch 7 -> property 5), and
      // alreadyCommitted short-circuits on the property when present, so a
      // redelivery of batch 7 would re-append duplicate rows. The property
      // is a running max over committed batches, so folding kept markers
      // early is always sound.
      val legacyWm: Map[String, String] = cur.snapshots
        .flatMap(s => for {
          ck <- s.summary.get(graft.streaming.StreamingIngest.CheckpointKey)
          bid <- s.summary.get(graft.streaming.StreamingIngest.BatchIdKey)
        } yield (graft.streaming.StreamingIngest.watermarkKey(ck), bid.toLong))
        .groupBy(_._1)
        .map { case (k, vs) =>
          k -> math.max(vs.map(_._2).max,
            cur.properties.get(k).map(_.toLong).getOrElse(Long.MinValue)).toString
        }
      Some(cur.copy(snapshots = keep, properties = cur.properties ++ legacyWm))
    }

    val (deletedFiles, deletedBytes) =
      if (!deleteFiles) {
        // Dry run: report the PLANNED reclamation so callers can preview.
        (deadFiles.size.toLong, deadFiles.map(_._2).sum)
      } else {
        val deleted = deleteListed(t.spark, t.root, deadFiles)
        deleteEmptiedDirs(t.root, deadFiles.map(_._1))
        deadManifests.foreach(mf =>
          Files.deleteIfExists(MetaIO.metadataDir(t.root).resolve(mf)))
        deleted
      }

    // Manifest-orphan sweep: manifest files on disk referenced by no
    // snapshot at all (lost CAS attempts write manifests first) — metadata
    // scale, age-guarded like data orphans. Gated on sweepOrphans: that
    // flag exists precisely to protect in-flight writers' not-yet-committed
    // artifacts, and a pre-CAS manifest is exactly such an artifact.
    if (sweepOrphans && deleteFiles) {
      val referenced = t.meta.snapshots.flatMap(_.manifests).toSet
      val now = System.currentTimeMillis()
      Fs.list(MetaIO.metadataDir(t.root))
        .filter(p => p.getFileName.toString.startsWith("manifest-") &&
          !referenced.contains(p.getFileName.toString) &&
          now - Files.getLastModifiedTime(p).toMillis >= orphanMinAgeMs)
        .foreach(Files.deleteIfExists(_))
    }

    // Orphan sweep: data files on disk referenced by NO manifest of any
    // retained snapshot (e.g. outputs of killed, never-committed units).
    // The disk listing is driver-side (a storage-API LIST).
    var orphans = 0L
    if (sweepOrphans && deleteFiles) {
      val dataDir = Paths.get(t.root, "data")
      if (Files.exists(dataDir)) {
        val rootAbs = Paths.get(t.root).toAbsolutePath
        val now = System.currentTimeMillis()
        val walk = Files.walk(dataDir)
        val onDisk = try walk.iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
          .collect {
            // Min-age guard: an in-flight job's just-written unit outputs are
            // not yet in any manifest; only sweep files old enough that no
            // live writer can still be about to commit them.
            case p if now - Files.getLastModifiedTime(p).toMillis >= orphanMinAgeMs =>
              rootAbs.relativize(p.toAbsolutePath).toString
          }.toSeq
        finally walk.close()
        if (onDisk.nonEmpty) {
          // Liveness against FRESH post-CAS metadata, not the planning-time
          // set: a snapshot committed concurrently between planning and the
          // sweep references files absent from the old live set, and the
          // min-age guard alone must not be their only protection
          // (orphanMinAgeMs=0 is a supported single-writer mode).
          val freshLive = listedPaths(t.root, t.meta.snapshots.flatMap(_.manifests).distinct)
          val swept = onDisk.filterNot(freshLive.contains)
          orphans = deleteListed(t.spark, t.root, swept.map(_ -> 0L))._1
          deleteEmptiedDirs(t.root, swept)
        }
      }
    }

    graft.lineage.Metrics.recordJob(t.root, "expire", jobT0, Map(
      "expired" -> (known -- retainSet).size.toString,
      "deleted-files" -> deletedFiles.toString,
      "deleted-bytes" -> deletedBytes.toString,
      "orphans" -> orphans.toString))
    Result(retainSet.toSeq.sorted, (known -- retainSet).toSeq.sorted,
      deadManifests.size, deletedFiles, deletedBytes, orphans)
  }
}
