package graft.jobs

import java.security.MessageDigest
import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.lineage.{Lineage, UnitLineage}
import graft.table.{DataFileMeta, GraftTable, Snapshot}

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
 * unit checkpoints lineage; a killed run resumes at unit granularity and
 * reuses the completed units' outputs without re-reading data.
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

  /** First-fit-decreasing pack of the compaction candidates into bins of
    * capacity `targetBytes`. Only files < smallFileThreshold participate;
    * singleton bins are dropped (rewriting one file alone buys nothing).
    * Deterministic: candidates sorted by (size desc, path) so a resumed run
    * re-derives the identical plan. `groupOf` keeps bins within one group
    * (the table's partition value): a partitioned table's compaction must
    * not merge files across partitions, or the outputs would lose their
    * partition value and with it manifest-level pruning. */
  def plan(files: Seq[DataFileMeta], targetBytes: Long,
      smallFileFraction: Double = 0.75,
      groupOf: DataFileMeta => Option[String] = _ => None): Seq[Seq[DataFileMeta]] = {
    val threshold = (targetBytes * smallFileFraction).toLong
    files.filter(_.fileSizeBytes < threshold)
      .groupBy(groupOf).toSeq.sortBy(_._1.getOrElse(""))
      .flatMap { case (_, group) =>
        val candidates = group.sortBy(f => (-f.fileSizeBytes, f.path))
        val bins = scala.collection.mutable.ArrayBuffer[(scala.collection.mutable.ArrayBuffer[DataFileMeta], Long)]()
        for (f <- candidates) {
          val i = bins.indexWhere { case (_, used) => used + f.fileSizeBytes <= targetBytes }
          if (i >= 0) {
            val (b, used) = bins(i)
            b += f
            bins(i) = (b, used + f.fileSizeBytes)
          } else bins += ((scala.collection.mutable.ArrayBuffer(f), f.fileSizeBytes))
        }
        bins.map(_._1.toSeq).filter(_.size >= 2).toSeq
      }
  }

  /** Deterministic job id from (op, base snapshot, params, inputs): a
    * restarted run on the same base re-derives the same id and resumes. */
  def jobId(op: String, baseSnapshot: Long, params: String, inputs: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(s"$op|$baseSnapshot|$params|".getBytes)
    inputs.sorted.foreach(p => md.update(p.getBytes))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Execute bins grouped into WAVES: each wave is ONE Spark job built as a
    * union of per-bin coalesce(1) children, so partition i of the wave reads
    * exactly bin i's files and writes exactly one ~target-size output file
    * (part-i, positionally mapped back to the bin for per-bin lineage).
    * Rationale: one Spark job per bin has a serial scheduling floor
    * (measured ~30-50ms/job on the DAGScheduler event loop — dominates when
    * bins are small); one job per WAVE amortizes it while keeping bin-level
    * lineage and wave-level resume. waveSize=1 degenerates to the
    * job-per-bin mode (used by the kill/resume test); waveSize=0 (default)
    * picks ~maxConcurrentBins equal waves, so the driver-side construction +
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
    val files = t.snapshotFiles(base)
    val spec = t.meta.partitionSpec
    val bins = plan(files, targetBytes,
      groupOf = f => spec.flatMap(graft.table.PartitionSpec.partitionOf(_, f)))
    val jid = jobId("compact", base.snapshotId, targetBytes.toString, bins.flatten.map(_.path))

    // Idempotence: if a previous attempt already committed the table snapshot,
    // report it and do nothing (restart-after-commit case).
    Lineage.committedSnapshot(t.root, jid).foreach { sid =>
      return Result(t.meta.snapshot(sid), jid, bins.size, 0, bins.size,
        bins.map(_.size).sum, 0, bins.flatten.map(_.fileSizeBytes).sum, 0, 0)
    }
    if (bins.isEmpty)
      return Result(None, jid, 0, 0, 0, 0, 0, 0, 0, 0)

    val already = Lineage.committedUnits(t.root, jid)
    val todo = bins.indices.filterNot(already.contains)
    val effWave =
      if (waveSize > 0) waveSize
      else math.min(128, math.max(4,
        math.ceil(todo.size.toDouble / math.max(1, maxConcurrentBins)).toInt))
    val waves = todo.grouped(math.max(1, effWave)).toSeq

    // Wave jobs need Union to CONCATENATE child partitions (see
    // GraftSession); set defensively for externally-built sessions.
    t.spark.conf.set("spark.sql.unionOutputPartitioning", "false")
    val sch = t.schema
    val pool = Executors.newFixedThreadPool(math.max(1, maxConcurrentBins))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val executed = new java.util.concurrent.atomic.AtomicInteger(0)
    try {
      val futures = waves.map { waveBins =>
        Future {
          val t0 = System.nanoTime()
          // Each child plans from its bin's manifest entries: no file-system
          // call, so a wave of many small bins is cheap to build.
          val children = waveBins.map(binIdx => t.readFiles(bins(binIdx), sch).coalesce(1))
          val waveDf = children.reduce(_ unionAll _)
          val out = t.writeDataFiles(waveDf) // sorted by path = part index order
          require(out.size == waveBins.size,
            s"wave output mismatch: ${out.size} files for ${waveBins.size} bins")
          val elapsed = (System.nanoTime() - t0) / 1000000
          waveBins.zip(out).foreach { case (binIdx, f) =>
            val done = executed.incrementAndGet()
            failAfterUnits.foreach { k =>
              if (done > k) throw new RuntimeException(s"injected failure after $k units")
            }
            Lineage.commitUnit(t.root, UnitLineage(jid, binIdx,
              bins(binIdx).map(_.path), Seq(f), f.rowCount, f.fileSizeBytes, elapsed))
          }
        }
      }
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally pool.shutdown()

    val units = Lineage.committedUnits(t.root, jid)
    require(units.size == bins.size, s"lineage incomplete: ${units.size}/${bins.size}")
    val added = units.values.flatMap(_.filesOut).toSeq.sortBy(_.path)
    val removed = bins.flatten.map(_.path).toSet
    val snap = t.commit("compact", added, removed, Map(
      "job-id" -> jid,
      "bins" -> bins.size.toString,
      "target-bytes" -> targetBytes.toString))
    Lineage.markCommitted(t.root, jid, snap.snapshotId)
    graft.lineage.Metrics.recordJob(t.root, "compact",
      (System.nanoTime() - jobT0) / 1000000, Map(
        "job-id" -> jid, "bins" -> bins.size.toString,
        "files-in" -> removed.size.toString, "files-out" -> added.size.toString,
        "bytes-out" -> added.map(_.fileSizeBytes).sum.toString))
    Result(Some(snap), jid, bins.size, todo.size, already.size,
      removed.size, added.size,
      bins.flatten.map(_.fileSizeBytes).sum, added.map(_.fileSizeBytes).sum,
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
