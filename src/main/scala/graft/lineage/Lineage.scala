package graft.lineage

import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets

import graft.table.{DataFileMeta, TableJson}
import graft.util.Fs

/**
 * Per-partition lineage checkpointing (north rule: every stage checkpoints
 * (files-in, files-out, rows, bytes) to a resumable manifest so a killed run
 * restarts at partition granularity). The protocol over these records is
 * run in one place, [[graft.jobs.UnitJob]], for compact, cluster and the IVF
 * build; its single injected kill point falls between a unit's durable
 * output and its lineage row.
 *
 * Re-grounds the reference's hash-after-success commit-marker ordering
 * (pipeline/src/indexing/pipeline.ts:93-94) and its skip-unchanged planning
 * (pipeline.ts:63-72): a unit's lineage row is written only after its output
 * files are durable, so a restarted job diffs planned-units vs committed-units
 * and re-runs exactly the difference. Unit outputs are content-complete
 * (full DataFileMeta), so resume never re-reads the data, and a unit's rows
 * and bytes are sums over them.
 */
case class UnitLineage(
    jobId: String,
    unit: Int,
    filesIn: Seq[String],
    filesOut: Seq[DataFileMeta],
    durationMs: Long) {
  def rows: Long = filesOut.map(_.rowCount).sum
  def bytes: Long = filesOut.map(_.fileSizeBytes).sum
}

object Lineage {
  def dir(root: String, jobId: String): Path = Paths.get(root, "lineage", jobId)

  private def unitFile(root: String, jobId: String, unit: Int): Path =
    dir(root, jobId).resolve(f"unit-$unit%06d.json")
  private def doneFile(root: String, jobId: String): Path =
    dir(root, jobId).resolve("COMMITTED")

  /** Durably record a finished unit. */
  def commitUnit(root: String, e: UnitLineage): Unit =
    Fs.writeAtomic(unitFile(root, e.jobId, e.unit), TableJson.write(e))

  def committedUnits(root: String, jobId: String): Map[Int, UnitLineage] =
    Fs.list(dir(root, jobId))
      .filter(p => p.getFileName.toString.startsWith("unit-"))
      .map { p =>
        val e = TableJson.read[UnitLineage](
          new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
        e.unit -> e
      }.toMap

  /** Durably persist a named job ARTIFACT: a phase output that later
    * phases — and a resumed run — reuse instead of recomputing (e.g.
    * BuildIvf's trained centroids, so a killed 100 TB index build never
    * retrains). Artifact names must not collide with the `unit-*` /
    * `COMMITTED` lineage files. */
  def putArtifact(root: String, jobId: String, name: String, content: String): Unit = {
    require(!name.startsWith("unit-") && name != "COMMITTED", s"reserved name: $name")
    Fs.writeAtomic(dir(root, jobId).resolve(name), content)
  }

  def getArtifact(root: String, jobId: String, name: String): Option[String] = {
    val f = dir(root, jobId).resolve(name)
    if (Files.exists(f))
      Some(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
    else None
  }

  /** Mark the whole job's snapshot commit done (idempotence guard: a restart
    * after the table commit but before cleanup must not re-commit). */
  def markCommitted(root: String, jobId: String, snapshotId: Long): Unit =
    Fs.writeAtomic(doneFile(root, jobId), snapshotId.toString)

  def committedSnapshot(root: String, jobId: String): Option[Long] = {
    val f = doneFile(root, jobId)
    if (Files.exists(f))
      Some(new String(Files.readAllBytes(f), StandardCharsets.UTF_8).trim.toLong)
    else None
  }
}
