package graft.jobs

import graft.table.{GraftTable, MetaIO, PartitionSpec, Snapshot}

/**
 * Manifest rewrite: consolidate the current snapshot's manifests into
 * size-balanced manifests with complete per-file min/max stats, ordered by
 * each file's phash lower bound so that stat-based pruning touches few
 * manifests for a phash-range query.
 *
 * Re-grounds the reference's metadata-file rewrite with config-hash change
 * detection (mcp/src/metadata.ts:29-40,72-113): a table whose current
 * snapshot is already a manifest rewrite is a no-op (I1 skip-unchanged).
 */
object RewriteManifests {

  case class Result(
      snapshot: Option[Snapshot],
      skippedUnchanged: Boolean,
      manifestsBefore: Int,
      manifestsAfter: Int,
      files: Int)

  def run(t: GraftTable, targetFilesPerManifest: Int = 1000): Result = {
    val jobT0 = System.nanoTime()
    // The whole derive-and-commit is retried from a FRESH base on CAS loss:
    // committing manifests built from a stale file set would silently drop
    // files a concurrent commit added (or resurrect ones it removed) — a
    // lost update that a later expire would turn into data-file deletion.
    // A lost attempt's manifests become sweepable orphans.
    var result: Result = null
    MetaIO.casRetry(t.root, "rewrite-manifests") { (_, m) =>
      val base = m.currentSnapshot.get
      val files = t.snapshotFiles(base)
      val before = base.manifests.size

      // Skip-unchanged gate: the current snapshot is already this job's
      // output (a snapshot's manifest list never changes after commit).
      if (base.operation == "rewrite-manifests") {
        result = Result(None, skippedUnchanged = true, before, before, files.size)
        None
      } else {
        // Partitioned tables: group by partition value FIRST (one manifest
        // chain per value, so manifest-level partition pruning survives the
        // rewrite), then phash-sort + size-group within each partition.
        val manifests = PartitionSpec.group(m.partitionSpec, files).flatMap { case (pv, fs) =>
          fs.sortBy(f =>
            (f.stats.get("phash").flatMap(_.min).map(_.toLong).getOrElse(Long.MinValue), f.path))
            .grouped(math.max(1, targetFilesPerManifest))
            .map(g => MetaIO.writeManifest(t.root, g, pv) -> pv)
        }
        // Same files, new manifest organization — CAS'd against the exact
        // version the file set was derived from.
        val nm = m.appendSnapshot("rewrite-manifests", manifests, Map(
          "manifests-before" -> before.toString,
          "manifests-after" -> manifests.size.toString))
        result = Result(nm.currentSnapshot, skippedUnchanged = false, before,
          manifests.size, files.size)
        Some(nm)
      }
    }
    if (!result.skippedUnchanged)
      graft.lineage.Metrics.recordJob(t.root, "rewrite-manifests", jobT0, Map(
        "before" -> result.manifestsBefore.toString,
        "after" -> result.manifestsAfter.toString,
        "files" -> result.files.toString))
    result
  }
}
