package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expr.{functions => gf}
import graft.table.{DataFileMeta, GraftTable, Snapshot}

/**
 * MERGE INTO: upsert a source of (image_id, caption?, bytes?) changes into
 * the table as a copy-on-write file rewrite. Matched rows take the source's
 * non-null columns (bytes replacement recomputes w/h/phash via the engine's
 * expressions); unmatched source rows are inserted.
 *
 * Conflict semantics carried from the reference's mergeEntities
 * (createFlowRAG.ts:51-119): natural-key upsert (image_id, analog of
 * entity-id-by-name, indexing/pipeline.ts:184), last-write-wins per column,
 * natural-key dedup of the source (dropDuplicates, J5), self-merge skips.
 *
 * Scale design:
 *  - Affected-file discovery is a projection-only scan (image_id +
 *    input_file_name) joined to source keys: only FILE PATHS reach the
 *    driver. The scan is persisted and reused by the insert anti-join, so
 *    the candidate files' key column is read from Parquet exactly ONCE per
 *    merge (guarded by MergeDedupSpec's single-scan plan test).
 *  - Join strategy: source below `broadcastThreshold` -> broadcast hash join
 *    (zero shuffle of the big side). Larger sources -> sort-merge join with
 *    AQE skew-split enabled; because image_id is the unique natural key the
 *    SMJ is well-distributed, and hot phash buckets only arise in the dedup
 *    variant ([[DedupPhash]]) where explicit salting is applied.
 *  - Only matched files are rewritten, through [[CopyOnWrite]]; untouched
 *    files are carried by manifest reuse.
 */
object MergeInto {

  case class Result(
      snapshot: Option[Snapshot],
      matchedRows: Long,
      updatedFiles: Int,
      insertedRows: Long,
      rewrittenBytes: Long,
      strategy: String)

  /** Files whose image_id stats admit any key in [klo, khi] — the manifest-
    * stats prune that keeps a narrow-key MERGE from scanning every file's
    * key column. Null bounds (empty source) or stat-less files keep. */
  private[graft] def candidateFiles(files: Seq[DataFileMeta], klo: String,
      khi: String): Seq[DataFileMeta] =
    if (klo == null || khi == null) files
    else files.filter(f => graft.table.PruneFilter.mayMatch(f,
      graft.table.RangeString("image_id", klo, khi)))

  /** `source` columns: image_id (required), caption/bytes nullable; absent
    * columns are treated as all-null (keep target values). */
  def run(t: GraftTable, source0: DataFrame,
      broadcastThresholdBytes: Long = 64L * 1024 * 1024,
      targetBytes: Long = 8L * 1024 * 1024): Result = {
    val cow = new CopyOnWrite(t, "merge")

    // Normalize source: ensure caption/bytes columns exist; natural-key dedup
    // (reference J5: dropDuplicates on natural keys; last wins is arbitrary
    // but deterministic via max_by on caption length then caption).
    var src = source0
    if (!src.columns.contains("caption")) src = src.withColumn("caption", lit(null).cast("string"))
    if (!src.columns.contains("bytes")) src = src.withColumn("bytes", lit(null).cast("binary"))
    src = src.select(col("image_id"), col("caption").as("src_caption"),
        col("bytes").as("src_bytes"))
      .groupBy(col("image_id"))
      .agg(max_by(struct(col("src_caption"), col("src_bytes")),
        struct(length(col("src_caption")), col("src_caption"))).as("s"))
      .select(col("image_id"), col("s.src_caption"), col("s.src_bytes"))

    // Source size estimate for the join strategy — MEASURED payload, not a
    // per-row guess: a 200k-row source carrying 1 MB images would pass a
    // rows*256 estimate and then broadcast 200 GB. One aggregate action
    // returns rows + actual bytes/caption volume + the source's key range
    // (for stats pruning below) + the rows carrying a payload (only those
    // can be inserts) together.
    val srcStats = src.agg(
      count(lit(1)).as("n"),
      coalesce(sum(length(col("src_bytes"))), lit(0L)).as("payload"),
      coalesce(sum(length(col("src_caption"))), lit(0L)).as("cap"),
      min(col("image_id")).as("klo"), max(col("image_id")).as("khi"),
      count(col("src_bytes")).as("payloadRows")).head()
    val srcCount = srcStats.getLong(0)
    val estBytes = srcCount * 64L + srcStats.getLong(1) + srcStats.getLong(2)
    val useBroadcast = estBytes <= broadcastThresholdBytes
    val strategy = if (useBroadcast) "broadcast" else "sort-merge+aqe-skew"
    val srcKeyed = if (useBroadcast) broadcast(src) else src

    // Candidate files by manifest stats: only files whose image_id min/max
    // admits the source's key range can contain a match OR an absent key in
    // that range, so BOTH the affected-file discovery and the insert
    // anti-join below read candidates only. A 10-row targeted merge on a
    // key-ordered table opens ~its files, not every file's key column.
    val candidates = candidateFiles(cow.files, srcStats.getString(3), srcStats.getString(4))

    // 1. ONE projection-only key scan serves BOTH the affected-file
    // discovery and the insert anti-join below (they used to scan the key
    // column independently — 2x the key-column IO on a wide-range merge for
    // no benefit). The persisted frame is two thin columns (image_id +
    // source file), MEMORY_AND_DISK so a giant candidate set spills rather
    // than evicting; Parquet reads just image_id, once, at materialization.
    val keyScan = cow.keyScan(candidates)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // try/finally: a merge that throws mid-rewrite (disk full, corrupt
    // source bytes) must not leak the pinned key-column cache for the rest
    // of the session.
    val (affected, updatedFilesMeta, insertFiles) = try {
    val affected = cow.affected(keyScan, srcKeyed)

    // 2. Rewrite matched files with source columns folded in. A merge
    // carrying replacement bytes can change fmt (and with it a fmt partition
    // value); caption-only merges can't.
    val updatedFilesMeta: Seq[DataFileMeta] =
      if (affected.isEmpty) Nil
      else cow.rewrite(affected, targetBytes,
          partitionMayChange = srcStats.getLong(1) > 0) { tgt =>
        tgt.join(srcKeyed, Seq("image_id"), "left_outer")
          .withColumn("__wh", when(col("src_bytes").isNotNull,
            gf.decode_wh(col("src_bytes"))))
          .select(Seq(
          col("image_id"),
          coalesce(col("src_bytes"), col("bytes")).as("bytes"),
          coalesce(col("__wh.w"), col("w")).as("w"),
          coalesce(col("__wh.h"), col("h")).as("h"),
          when(col("src_bytes").isNotNull, gf.detect_fmt(col("src_bytes"))).otherwise(col("fmt")).as("fmt"),
          coalesce(col("src_caption"), col("caption")).as("caption"),
          when(col("src_bytes").isNotNull, gf.phash64(col("src_bytes"))).otherwise(col("phash")).as("phash"))
          // Schema-evolved extra columns pass through from the target —
          // a COW rewrite must never drop columns it does not transform.
          ++ t.schema.fieldNames.toSeq.filterNot(GraftTable.BaseColumns).map(col): _*)
      }

    // 3. Inserts: source keys not in the target at all (left-anti on the
    // SAME persisted key scan — anti-join U3, zero additional file IO).
    // Candidate files suffice: a source key can only exist in a file whose
    // stats range admits it, and every such file is a candidate by
    // construction.
    val tgtKeys = keyScan.select("image_id")
    val inserts = src.join(tgtKeys, Seq("image_id"), "left_anti")
      .filter(col("src_bytes").isNotNull) // an insert needs a payload
      .withColumn("__wh", gf.decode_wh(col("src_bytes")))
      .select(Seq(
        col("image_id"),
        col("src_bytes").as("bytes"),
        col("__wh.w").as("w"),
        col("__wh.h").as("h"),
        gf.detect_fmt(col("src_bytes")).as("fmt"),
        coalesce(col("src_caption"), lit("")).as("caption"),
        gf.phash64(col("src_bytes")).as("phash"))
        // Evolved extra columns: inserts carry typed NULLs (the source has
        // no values for them), matching what a scan of pre-evolution files
        // returns.
        ++ t.schema.fields.toSeq.filterNot(f => GraftTable.BaseColumns(f.name))
          .map(f => lit(null).cast(f.dataType).as(f.name)): _*)
    // Written with the anti-join's natural distribution — NOT coalesce(1),
    // which would funnel a bulk-insert batch through a single task/file. AQE
    // partition coalescing keeps small batches to few files; empty
    // partitions produce no files. A source with no payload (caption-only)
    // has nothing to insert and skips the write, and with it the anti-join
    // job.
    val insertFiles = if (srcStats.getLong(5) == 0) Nil else t.writeDataFiles(inserts)
    (affected, updatedFilesMeta, insertFiles)
    } finally { keyScan.unpersist(); () }
    val insertedRows = insertFiles.map(_.rowCount).sum

    if (affected.isEmpty && insertFiles.isEmpty)
      return Result(None, 0, 0, 0, 0, strategy)

    val snap = cow.commit("merge", updatedFilesMeta ++ insertFiles, affected,
      Map("strategy" -> strategy, "source-rows" -> srcCount.toString), Map(
      "strategy" -> strategy, "matched-files" -> affected.size.toString,
      "inserted-rows" -> insertedRows.toString))
    Result(Some(snap), srcCount - insertedRows, affected.size, insertedRows,
      affected.map(_.fileSizeBytes).sum, strategy)
  }

  case class DeleteResult(
      snapshot: Option[Snapshot],
      deletedRows: Long,
      rewrittenFiles: Int)

  /** MERGE ... WHEN MATCHED THEN DELETE: remove the rows whose image_id
    * appears in `keys`, as a copy-on-write rewrite of ONLY the files that
    * contain matches (the targeted-delete/GDPR shape; reference analog:
    * scoped deleteEntity + refcount cleanup, pipeline.ts:263-308).
    *
    * Scale: discovery is the same projection-only (image_id, file) scan as
    * the upsert path — a delete touching 0.1% of a 100 TB table rewrites
    * ~0.1% of it; keys join under AQE (broadcast when small). */
  def deleteMatched(t: GraftTable, keys: DataFrame,
      targetBytes: Long = 8L * 1024 * 1024): DeleteResult = {
    val cow = new CopyOnWrite(t, "delete")
    val k = keys.select("image_id").distinct()

    // Manifest-stats prune on the key range first (one tiny agg): a
    // targeted delete on a key-ordered table reads ~its files' key columns.
    val kr = k.agg(min(col("image_id")).as("klo"), max(col("image_id")).as("khi")).head()
    val candidates = candidateFiles(cow.files, kr.getString(0), kr.getString(1))
    val affected = cow.affected(cow.keyScan(candidates), k)
    if (affected.isEmpty) return DeleteResult(None, 0, 0)

    val out = cow.rewrite(affected, targetBytes)(_.join(k, Seq("image_id"), "left_anti"))
    val deleted = affected.map(_.rowCount).sum - out.map(_.rowCount).sum
    val snap = cow.commit("delete", out, affected,
      Map("deleted-rows" -> deleted.toString), Map(
      "deleted-rows" -> deleted.toString,
      "rewritten-files" -> affected.size.toString))
    DeleteResult(Some(snap), deleted, affected.size)
  }
}
