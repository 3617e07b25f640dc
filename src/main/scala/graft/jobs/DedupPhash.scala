package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.expr.{functions => gf}
import graft.table.{DataFileMeta, GraftTable, Snapshot}

/**
 * Phash-based image deduplication as a copy-on-write delete — the "dedup
 * upsert" half of the north star's MERGE semantics.
 *
 * Semantics from the reference's mergeEntities (createFlowRAG.ts:51-119):
 * rows with the same signature collapse to one canonical row; the canonical
 * keeps the longest caption (A6 max-by-description, createFlowRAG.ts:73-75),
 * ties broken deterministically; self-comparison never deletes (self-loop
 * skip, createFlowRAG.ts:113).
 *
 * Skew design (north rule: explicit handling for hot phash buckets): the
 * synthetic fixture's near-duplicate clusters put >3% of all rows on single
 * phash values. Canonical selection runs as a SALTED TWO-STAGE aggregation —
 * stage 1 groups on (phash, salt16) so a hot phash splits across 16
 * reducers, stage 2 merges the 16 partial winners — and the victim join is
 * salted the same way on the build side. AQE skew-join splitting is enabled
 * session-wide as the runtime backstop.
 *
 * Near-dup mode (hamming <= t): LSH banding on four 16-bit phash bands —
 * exact-equal collapse runs first so band buckets stay small, then the band
 * self-join emits candidate pairs, hamming-filtered, and connected
 * components are resolved by iterative min-canonical propagation (the same
 * frontier-loop shape as [[graft.operators.GraphOps.traverse]]).
 */
object DedupPhash {

  case class Result(
      snapshot: Option[Snapshot],
      dupGroups: Long,
      victims: Long,
      rewrittenFiles: Int,
      mode: String)

  val Salts = 16

  /** Canonical row per phash group: longest caption, then caption, then
    * max image_id — computed with a salted two-stage aggregation. */
  private def canonicalByPhash(cand: DataFrame): DataFrame = {
    val rank = struct(length(col("caption")).as("l"), col("caption").as("c"),
      col("image_id").as("i"))
    val stage1 = cand
      .withColumn("__salt", pmod(xxhash64(col("image_id")), lit(Salts)))
      .groupBy(col("phash"), col("__salt"))
      .agg(count(lit(1)).as("cnt"), max(rank).as("best"))
    stage1.groupBy(col("phash"))
      .agg(sum(col("cnt")).as("cnt"), max(col("best")).as("best"))
      .select(col("phash"), col("cnt"), col("best.i").as("canonical_id"))
  }

  def run(t: GraftTable,
      hammingThreshold: Int = 0,
      targetBytes: Long = 8L * 1024 * 1024): Result = {
    val jobT0 = System.nanoTime()
    val spark = t.spark
    val base = t.currentSnapshot
    val files = t.snapshotFiles(base)
    val mode = if (hammingThreshold == 0) "exact" else s"near<=$hammingThreshold"

    // Projection-only candidate scan: image_id, phash, caption. Parquet
    // column pruning keeps the binary payload on disk.
    val cand = t.scan(Some(base.snapshotId)).select("image_id", "phash", "caption")

    val exactCanon = canonicalByPhash(cand).filter(col("cnt") > 1)

    // Victims of exact collapse: same phash, not the canonical.
    val exactVictims = cand
      .join(exactCanon.select("phash", "canonical_id"), Seq("phash"), "inner")
      .filter(col("image_id") =!= col("canonical_id"))
      .select(col("image_id"))

    val victims: DataFrame =
      if (hammingThreshold == 0) exactVictims
      else {
        // Survivors of exact collapse, one representative per phash.
        val reps = cand.join(exactVictims.withColumnRenamed("image_id", "v"),
            cand("image_id") === col("v"), "left_anti")
        // LSH banding: 4 bands x 16 bits; equal phash already collapsed, so
        // each band bucket is small; pairs within a bucket hamming-checked.
        val banded = reps.select(col("image_id"), col("phash"),
            explode(sequence(lit(0), lit(3))).as("band"))
          .withColumn("bv", expr("(phash >> (band * 16)) & 65535"))
        val l = banded.select(col("band"), col("bv"),
          col("image_id").as("ida"), col("phash").as("pa"))
        val r = banded.select(col("band"), col("bv"),
          col("image_id").as("idb"), col("phash").as("pb"))
        val pairs = l.join(r, Seq("band", "bv"))
          .filter(col("ida") < col("idb")) // self-pair skip + symmetry break
          .filter(gf.hamming(col("pa"), col("pb")) <= hammingThreshold)
          .select(col("ida"), col("idb")).distinct()
        // Connected components by iterative min-label propagation.
        val edges = pairs.union(pairs.select(col("idb"), col("ida"))).toDF("a", "b")
          .localCheckpoint(true)
        var labels = edges.select(col("a").as("id")).distinct()
          .withColumn("lbl", col("id"))
        var changed = 1L
        var iter = 0
        while (changed > 0 && iter < 20) {
          val prop = edges.join(labels, edges("b") === labels("id"))
            .groupBy(col("a")).agg(min(col("lbl")).as("nlbl"))
          val next = labels.join(prop, labels("id") === prop("a"), "left_outer")
            .select(col("id"), least(col("lbl"),
              coalesce(col("nlbl"), col("lbl"))).as("lbl"))
            .localCheckpoint(true)
          changed = next.join(labels.withColumnRenamed("lbl", "old"), Seq("id"))
            .filter(col("lbl") =!= col("old")).count()
          labels = next
          iter += 1
        }
        // Canonical of a component: SAME rule as exact mode — longest
        // caption, then caption, then max image_id (reference A6,
        // createFlowRAG.ts:73-75) — applied per connected component by
        // joining the labels back to the candidate rank struct and taking
        // the max_by per label. One extra shuffle on lbl, component-scale.
        val rank = struct(length(col("caption")).as("l"), col("caption").as("c"),
          col("image_id").as("i"))
        val ranked = labels.join(
          cand.select(col("image_id").as("id"), rank.as("r")), Seq("id"))
        val canon = ranked.groupBy(col("lbl"))
          .agg(max(col("r")).as("best"))
          .select(col("lbl"), col("best.i").as("canon_id"))
        val nearVictims = labels.join(canon, Seq("lbl"))
          .filter(col("id") =!= col("canon_id"))
          .select(col("id").as("image_id"))
        exactVictims.union(nearVictims).distinct()
      }

    // Victims are DATA-scale (a dup-heavy table can make them a large
    // fraction of all rows), so no broadcast hint — AQE picks the join
    // strategy from the measured size. Persisted because the set is used
    // twice (affected-file discovery, then the COW anti-join) and its plan
    // (salted agg + LSH + label propagation) is expensive to recompute.
    val victimsB = victims.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vCount = victimsB.count()
    if (vCount == 0) { victimsB.unpersist(); return Result(None, 0, 0, 0, mode) }

    // Affected files (paths only to the driver), then COW rewrite minus
    // victims — same anti-join shape as the reference's refcount delete
    // (indexing/pipeline.ts:276-297).
    val rootAbs = java.nio.file.Paths.get(t.root).toAbsolutePath
    val affectedUris = t.scan(Some(base.snapshotId))
      .select(col("image_id"), input_file_name().as("__file"))
      .join(victimsB, Seq("image_id"), "left_semi")
      .select("__file").distinct().collect().map(_.getString(0))
    val affectedRel = affectedUris.map { u =>
      rootAbs.relativize(java.nio.file.Paths.get(java.net.URI.create(
        if (u.startsWith("file:")) u else s"file:$u")).toAbsolutePath).toString
    }.toSet
    val affected = files.filter(f => affectedRel.contains(f.path))

    val kept = spark.read.schema(t.schema).parquet(affected.map(_.absPath(t.root)): _*)
      .join(victimsB, Seq("image_id"), "left_anti")
    val rewritten: Seq[DataFileMeta] =
      if (kept.isEmpty) Nil
      else Cluster.activeCurve(t, base) match {
        case Some(cv) => t.writeDataFiles(
          Cluster.shapeForCurve(t, affected, kept, cv, targetBytes))
        case None => t.writeDataFiles(kept, targetFiles = Some(math.max(1,
          math.ceil(affected.map(_.fileSizeBytes).sum.toDouble / targetBytes).toInt)))
      }

    val dupGroups = exactCanon.count()
    victimsB.unpersist()
    val snap = t.commit("merge", rewritten, affected.map(_.path).toSet,
      Map("op" -> "dedup", "mode" -> mode, "victims" -> vCount.toString))
    graft.lineage.Metrics.recordJob(t.root, "dedup",
      (System.nanoTime() - jobT0) / 1000000, Map(
      "mode" -> mode, "groups" -> dupGroups.toString,
      "victims" -> vCount.toString,
      "rewritten-files" -> affected.size.toString))
    Result(Some(snap), dupGroups, vCount, affected.size, mode)
  }
}
