package graft.jobs

import java.net.URI
import java.nio.file.Paths

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, input_file_name}

import graft.table.{DataFileMeta, GraftTable, Snapshot}

/**
 * The copy-on-write (COW) rewrite path shared by MERGE INTO, its delete
 * form, phash dedup and format transcode. A job supplies only the rows it
 * transforms and its result; this owns the rest of the rewrite:
 *  - discovery: a key semi-join over a projection-only (image_id, source
 *    file) scan, mapped back to manifest entries — only FILE PATHS reach
 *    the driver;
 *  - reading the affected files (through [[GraftTable.readFiles]]);
 *  - the output layout: on a clustered table the rewrite is range-exchanged
 *    on the active curve ([[Cluster.shapeForCurve]]) so COW traffic never
 *    erodes the layout phash-range pruning depends on; otherwise it is
 *    sized to ceil(affected bytes / targetBytes) files;
 *  - the commit and the job record, timed from job start.
 *
 * One instance per job run, created when the job starts: `base` pins the
 * snapshot the rewrite reads. Untouched files are carried by manifest reuse.
 */
final class CopyOnWrite(t: GraftTable, job: String) {
  private val jobT0 = System.nanoTime()
  val base: Snapshot = t.currentSnapshot
  /** The base snapshot's files: what discovery maps source files back to. */
  lazy val files: Seq[DataFileMeta] = t.snapshotFiles(base)

  /** Projection-only (image_id, __file) scan of `of`: Parquet column
    * pruning keeps every other column on disk. */
  def keyScan(of: Seq[DataFileMeta]): DataFrame =
    t.readFiles(of).select(col("image_id"), input_file_name().as("__file"))

  /** Base files holding a row of `scan` (a [[keyScan]]) whose image_id is in
    * `keys`. */
  def affected(scan: DataFrame, keys: DataFrame): Seq[DataFileMeta] = {
    val rootAbs = Paths.get(t.root).toAbsolutePath
    val rel = scan.join(keys.select("image_id"), Seq("image_id"), "left_semi")
      .select("__file").distinct().collect().map { r =>
        val uri = r.getString(0)
        rootAbs.relativize(Paths.get(URI.create(
          if (uri.startsWith("file:")) uri else s"file:$uri")).toAbsolutePath).toString
      }.toSet
    files.filter(f => rel.contains(f.path))
  }

  /** Read `affected`, transform their rows with `rows`, and write the result
    * in the table's layout. A write task with no rows writes no file, so a
    * rewrite that keeps no row needs no emptiness check.
    * `partitionMayChange`: the job can rewrite the partition column (see
    * [[Cluster.shapeForCurve]]). */
  def rewrite(affected: Seq[DataFileMeta], targetBytes: Long,
      partitionMayChange: Boolean = false)(rows: DataFrame => DataFrame): Seq[DataFileMeta] = {
    val out = rows(t.readFiles(affected))
    Cluster.activeCurve(t, base) match {
      case Some(cv) => t.writeDataFiles(
        Cluster.shapeForCurve(t, affected, out, cv, targetBytes, partitionMayChange))
      case None => t.writeDataFiles(out, targetFiles = Some(math.max(1, math.ceil(
        affected.map(_.fileSizeBytes).sum.toDouble / targetBytes).toInt)))
    }
  }

  /** Commit `added` in place of `removed`, then record the job. */
  def commit(operation: String, added: Seq[DataFileMeta], removed: Seq[DataFileMeta],
      summary: Map[String, String], detail: Map[String, String]): Snapshot = {
    val snap = t.commit(operation, added, removed.map(_.path).toSet, summary)
    graft.lineage.Metrics.recordJob(t.root, job, jobT0, detail)
    snap
  }
}
