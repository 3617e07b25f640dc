package graft.jobs

import graft.table.{DataFileMeta, GraftTable, PartitionSpec, Snapshot}

/**
 * Bin-packing small-file compaction (north star: greedy first-fit-decreasing
 * packer over file-size histograms).
 *
 * Re-grounds the reference's one-JSON-file-per-record storage shape
 * (storage-json/src/json-kv-storage.ts:24-46) — the literal small-files
 * problem — plus its bounded-parallelism batching
 * (pipeline/src/indexing/pipeline.ts:339-345).
 *
 * Scale design: the FFD plan runs on the driver over file-level METADATA only
 * (path/size — never data rows), exactly like Iceberg's binpack rewrite. Each
 * bin is an independent rewrite unit: read its files, coalesce(1) (no
 * shuffle — a narrow N->1 coalesce), write one ~target-size file. Units run
 * concurrently on a bounded pool; the cluster scheduler fans tasks across
 * executors, so wall-clock scales with cores until IO-bound. Each finished
 * unit checkpoints lineage ([[UnitJob]]); a killed run resumes at unit
 * granularity and reuses the completed units' outputs without re-reading
 * data.
 */
object Compact {

  case class Result(
      snapshot: Option[Snapshot],
      jobId: String,
      binsPlanned: Int,
      binsExecuted: Int,
      binsResumed: Int,
      filesIn: Int,
      filesOut: Int,
      bytesIn: Long,
      bytesOut: Long,
      rows: Long)

  /** The small-file rule: a file below 3/4 of the target size is a
    * compaction candidate (also what streaming upkeep counts). */
  def isSmall(f: DataFileMeta, targetBytes: Long): Boolean =
    f.fileSizeBytes < (targetBytes * 3) / 4

  /** First-fit-decreasing pack of the compaction candidates ([[isSmall]])
    * into bins of capacity `targetBytes` ([[Cluster.packGroups]]); singleton
    * bins are dropped (rewriting one file alone buys nothing).
    * Deterministic, so a resumed run re-derives the identical plan. `files`
    * is one group: [[run]] plans each partition value separately, since a
    * partitioned table's compaction must not merge files across partitions,
    * or the outputs would lose their partition value and with it
    * manifest-level pruning. */
  def plan(files: Seq[DataFileMeta], targetBytes: Long): Seq[Seq[DataFileMeta]] =
    Cluster.packGroups(files.filter(isSmall(_, targetBytes)), targetBytes)
      .filter(_.size >= 2)

  /** Execute bins grouped into WAVES: each wave is ONE Spark job built as a
    * union of per-bin coalesce(1) children, so partition i of the wave reads
    * exactly bin i's files and writes exactly one ~target-size output file,
    * mapped back to bin i by the partition index its task reports (per-bin
    * lineage).
    * Rationale: one Spark job per bin has a serial scheduling floor
    * (measured ~30-50ms/job on the DAGScheduler event loop — dominates when
    * bins are small); one job per WAVE amortizes it while keeping bin-level
    * lineage and resume ([[UnitJob]], one wave per batch). waveSize=1
    * degenerates to the job-per-bin mode; waveSize=0 (default) picks
    * ~maxConcurrentBins equal waves, so the driver-side construction +
    * analysis of one wave's union plan (measured ~3-4 s for a 92-child
    * union, identical at every executor count — pure non-scaling driver
    * time) OVERLAPS the execution of the others instead of serializing in
    * front of the only job. */
  def run(t: GraftTable,
      targetBytes: Long = 8L * 1024 * 1024,
      maxConcurrentBins: Int = 8,
      failAfterUnits: Option[Int] = None,
      waveSize: Int = 0): Result = {
    val jobT0 = System.nanoTime()
    val base = t.currentSnapshot
    val bins = PartitionSpec.group(t.meta.partitionSpec, t.snapshotFiles(base))
      .flatMap { case (_, fs) => plan(fs, targetBytes) }
    val job = new UnitJob(t.root, UnitJob.id("compact", base.snapshotId,
      targetBytes.toString, bins.flatten.map(_.path)), jobT0)
    val removed = bins.flatten.map(_.path).toSet
    val bytesIn = bins.flatten.map(_.fileSizeBytes).sum

    // Idempotence: if a previous attempt already committed the table snapshot,
    // report it and do nothing (restart-after-commit case).
    job.committed.foreach { sid =>
      return Result(t.meta.snapshot(sid), job.jobId, bins.size, 0, bins.size,
        removed.size, 0, bytesIn, 0, 0)
    }
    if (bins.isEmpty)
      return Result(None, job.jobId, 0, 0, 0, 0, 0, 0, 0, 0)

    // Wave jobs need Union to CONCATENATE child partitions (see
    // GraftSession); set defensively for externally-built sessions.
    t.spark.conf.set("spark.sql.unionOutputPartitioning", "false")
    val sch = t.schema
    val executed = job.run(bins.size, maxConcurrentBins, failAfterUnits,
      batch = todo => if (waveSize > 0) waveSize else math.min(128, math.max(4,
        math.ceil(todo.toDouble / math.max(1, maxConcurrentBins)).toInt))) { wave =>
      // Each child plans from its bin's manifest entries: no file-system
      // call, so a wave of many small bins is cheap to build.
      val children = wave.map(b => t.readFiles(bins(b), sch).coalesce(1))
      val out = t.writePartitions(children.reduce(_ unionAll _)).toMap
      wave.zipWithIndex.map { case (b, j) => (bins(b).map(_.path), out.get(j).toSeq) }
    }
    val (snap, added) = job.finish(t, bins.size, "compact", removed, Map(
      "job-id" -> job.jobId,
      "bins" -> bins.size.toString,
      "target-bytes" -> targetBytes.toString), "compact") { added => Map(
        "job-id" -> job.jobId, "bins" -> bins.size.toString,
        "files-in" -> removed.size.toString, "files-out" -> added.size.toString,
        "bytes-out" -> added.map(_.fileSizeBytes).sum.toString) }
    Result(Some(snap), job.jobId, bins.size, executed, job.resumed.size,
      removed.size, added.size, bytesIn, added.map(_.fileSizeBytes).sum,
      added.map(_.rowCount).sum)
  }

  /** File-size histogram over the current snapshot (reference analog: type
    * histograms, cli/src/commands/graph.ts:15-37) — the FFD packer's input
    * summary, useful for deciding targetBytes. Buckets are powers of two. */
  def sizeHistogram(t: GraftTable): Seq[(Long, Long, Long)] = {
    t.currentFiles.groupBy { f =>
      java.lang.Long.highestOneBit(math.max(1L, f.fileSizeBytes))
    }.map { case (b, fs) => (b, fs.size.toLong, fs.map(_.fileSizeBytes).sum) }
      .toSeq.sortBy(_._1)
  }
}
