package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.table.GraftTable

/**
 * Structured Streaming surface (SURVEY.md §2.9: the reference has no streams;
 * its incrementality is batch-diff — the lakehouse-native streaming analog is
 * micro-batch append with exactly-once table commits).
 *
 * One entry point, [[appendStreamWithUpkeep]]: readStream -> foreachBatch ->
 * snapshot-committed appends, with inline compaction and incremental
 * clustering once small files accumulate. Each micro-batch becomes one
 * atomic snapshot; the per-checkpoint batch watermark makes replayed batches
 * idempotent at the snapshot level (re-grounding I2 hash-after-success
 * ordering, indexing/pipeline.ts:93-94).
 */
object StreamingIngest {

  private[graft] def watermarkKey(checkpointDir: String): String =
    s"stream.batch-watermark.$checkpointDir"

  /** foreachBatch is AT-LEAST-once: a crash between the table's snapshot
    * commit and the streaming checkpoint's offset commit re-delivers the
    * batch on restart. The table-side guard (Iceberg's WAP-style watermark):
    * the highest committed batchId per checkpoint lives in TABLE PROPERTIES,
    * written in the SAME CAS as the append snapshot — so the check is an
    * O(1) property lookup (not a scan of the ever-growing snapshot list),
    * and ExpireSnapshots can never delete the marker (properties survive
    * snapshot expiry). batchIds are monotonic per checkpoint (foreachBatch
    * is serial), so <= watermark means already committed, and a checkpoint
    * without the property has committed no batch. */
  private def alreadyCommitted(t: GraftTable, checkpointDir: String,
      batchId: Long): Boolean =
    t.meta.properties.get(watermarkKey(checkpointDir)).exists(_.toLong >= batchId)

  private[graft] def idempotentAppend(t: GraftTable, batch: DataFrame,
      checkpointDir: String, batchId: Long): Boolean = {
    if (alreadyCommitted(t, checkpointDir, batchId)) false
    else {
      GraftTable.append(t, batch,
        propertiesUpdate = Map(watermarkKey(checkpointDir) -> batchId.toString))
      true
    }
  }

  /** Micro-batch append with INLINE table upkeep: after each committed
    * batch, if the small-file population crossed `maintainEveryFiles`, run a
    * compaction and fold the newly compacted files into the clustered layout
    * (incremental groups-mode cluster — no global shuffle). This is the
    * steady-state 10^12-row shape: ingest keeps the table query-optimal
    * continuously instead of letting small files pile up for a nightly job;
    * both maintenance commits are snapshot-atomic, so concurrent readers
    * only ever see before/after states. Re-grounds the reference's
    * index-after-ingest refresh (pipeline.ts:63-94) as table upkeep. The
    * query drains what is available now (`Trigger.AvailableNow`) and stops;
    * clustering uses the z-order curve. */
  def appendStreamWithUpkeep(t: GraftTable, stream: DataFrame,
      checkpointDir: String,
      targetBytes: Long = 8L * 1024 * 1024,
      maintainEveryFiles: Int = 64): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // Maintenance still runs when the batch itself was a replayed
          // duplicate — the small-file population it reacts to is real.
          idempotentAppend(t, batch, checkpointDir, batchId)
          val small = t.currentFiles.count(graft.jobs.Compact.isSmall(_, targetBytes))
          if (small >= maintainEveryFiles) {
            graft.jobs.Compact.run(t, targetBytes)
            graft.jobs.Cluster.runIncremental(t, "zorder", targetBytes): Unit
          }
        }
      }
      .start()
}
