package graft.jobs

import graft.table.{DataFileMeta, GraftTable, ManifestData, MetaIO, Snapshot}
import java.util.UUID

/**
 * Manifest rewrite: consolidate the current snapshot's manifests into
 * size-balanced manifests with complete per-file min/max stats, ordered by
 * each file's phash lower bound so that stat-based pruning touches few
 * manifests for a phash-range query.
 *
 * Re-grounds the reference's metadata-file rewrite with config-hash change
 * detection (mcp/src/metadata.ts:29-40,72-113): recomputation is gated on a
 * content hash of the current manifest organization, so an unchanged table is
 * a no-op (I1 skip-unchanged).
 */
object RewriteManifests {

  case class Result(
      snapshot: Option[Snapshot],
      skippedUnchanged: Boolean,
      manifestsBefore: Int,
      manifestsAfter: Int,
      files: Int,
      statsRecomputed: Int)

  def run(t: GraftTable, targetFilesPerManifest: Int = 1000,
      recomputeStats: Boolean = false): Result = {
    val jobT0 = System.nanoTime()
    // The whole derive-and-commit is retried from a FRESH base on CAS loss:
    // committing manifests built from a stale file set would silently drop
    // files a concurrent commit added (or resurrect ones it removed) — a
    // lost update that a later expire would turn into data-file deletion.
    var attempts = 0
    while (true) {
      attempts += 1
      val (v, m) = MetaIO.load(t.root).get
      val base = m.currentSnapshot.get
      val files0 = t.snapshotFiles(base)
      val before = base.manifests.size

      // Skip-unchanged gate: already exactly one pass of well-sized manifests
      // sorted by phash min produced by this job (marker in summary).
      if (base.operation == "rewrite-manifests" &&
          base.summary.get("manifest-layout").contains(layoutHash(base.manifests)))
        return Result(None, skippedUnchanged = true, before, before, files0.size, 0)

      // Optionally recompute stats by re-scanning stats columns (used when
      // files were produced by a writer without stats).
      var recomputed = 0
      val files =
        if (recomputeStats) {
          val byDir = files0.groupBy(f => f.path.substring(0, f.path.lastIndexOf('/')))
          byDir.flatMap { case (dir, fs) =>
            val fresh = t.collectStats(dir).map(f => f.path -> f).toMap
            fs.map { f => fresh.get(f.path).map { nf => recomputed += 1; nf }.getOrElse(f) }
          }.toSeq
        } else files0

      // Partitioned tables: group by partition value FIRST (one manifest
      // chain per value, so manifest-level partition pruning survives the
      // rewrite), then phash-sort + size-group within each partition.
      val partGroups: Seq[(Option[String], Seq[DataFileMeta])] =
        m.partitionSpec match {
          case None => Seq((None, files))
          case Some(sp) =>
            files.groupBy(f => graft.table.PartitionSpec.partitionOf(sp, f))
              .toSeq.sortBy(_._1.getOrElse(""))
        }
      val pvals = scala.collection.mutable.Map[String, String]()
      val names = partGroups.flatMap { case (pv, fs) =>
        val sorted = fs.sortBy(f =>
          (f.stats.get("phash").flatMap(_.min).map(_.toLong).getOrElse(Long.MinValue), f.path))
        sorted.grouped(math.max(1, targetFilesPerManifest)).map { g =>
          val nn = s"manifest-${UUID.randomUUID().toString.take(12)}.json"
          MetaIO.writeManifest(t.root, nn, ManifestData(g, pv))
          pv.foreach(v => pvals += nn -> v)
          nn
        }
      }

      // Commit a snapshot with the SAME files, new manifest organization —
      // CAS'd against the exact version the file set was derived from.
      val snap = Snapshot(m.nextSnapshotId, Some(base.snapshotId),
        System.currentTimeMillis(), "rewrite-manifests", names,
        Map("manifest-layout" -> layoutHash(names),
          "manifests-before" -> before.toString,
          "manifests-after" -> names.size.toString),
        partitionValues = if (pvals.isEmpty) None else Some(pvals.toMap))
      val nm = m.copy(currentSnapshotId = Some(snap.snapshotId),
        snapshots = m.snapshots :+ snap)
      if (MetaIO.tryCommit(t.root, v, nm)) {
        graft.lineage.Metrics.recordJob(t.root, "rewrite-manifests",
          (System.nanoTime() - jobT0) / 1000000, Map(
          "before" -> before.toString, "after" -> names.size.toString,
          "files" -> files.size.toString))
        return Result(Some(snap), skippedUnchanged = false, before, names.size,
          files.size, recomputed)
      }
      // Lost the race: the manifests written this attempt become sweepable
      // orphans; re-derive everything from the winner's metadata.
      if (attempts > 20) throw new IllegalStateException("rewrite-manifests: CAS contention")
    }
    throw new IllegalStateException("unreachable")
  }

  private def layoutHash(names: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    names.foreach(n => md.update(n.getBytes))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}
