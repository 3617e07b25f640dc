package graft.jobs

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.{functions => gf}
import graft.table.{DataFileMeta, GraftTable, PartitionSpec, Snapshot}

/**
 * Multi-dimensional clustering: rewrite data files in space-filling-curve
 * order over (phash, w, h), computed by the ZOrder64 / HilbertIndex64
 * Catalyst expressions. Per-file curve-correlated min/max stats then make the
 * manifest a batch "index" — the engine's replacement for the reference's
 * secondary/ANN indexes (sqlite-graph-storage.ts:79-85,
 * redis/vector-storage.ts:31-46; SURVEY.md O3/O4).
 *
 * Scale design, two modes:
 *  - `global` (default): one repartitionByRange over the curve key — a single
 *    full shuffle that range-partitions the table globally (sampled
 *    boundaries), each output file a tight, non-overlapping curve range.
 *    Best pruning quality; shuffle volume = table size, the unavoidable cost
 *    of a first-time layout change.
 *  - `groups`: FFD-packed input-file groups sorted independently (like
 *    Iceberg's sort rewrite): no global shuffle, unit-level resume via
 *    lineage, slightly overlapping ranges across groups. The right mode for
 *    incrementally clustering newly-appended files at 10^12-row scale.
 */
object Cluster {

  case class Result(
      snapshot: Option[Snapshot],
      jobId: String,
      mode: String,
      curve: String,
      filesIn: Int,
      filesOut: Int,
      bytesIn: Long,
      rows: Long)

  private def curveCol(curve: String) = curve match {
    case "zorder" => gf.clusterKeyZ(col("phash"), col("w"), col("h"))
    case "hilbert" => gf.clusterKeyHilbert(col("phash"), col("w"), col("h"))
    case other => throw new IllegalArgumentException(s"unknown curve: $other")
  }

  /** Incremental clustering: rewrite only the files added since the last
    * cluster snapshot (groups mode), leaving already-clustered files
    * untouched — the steady-state maintenance path at 10^12-row scale where
    * a full re-sort is never affordable. Appended data arrives unclustered;
    * this folds it into curve-ordered files; periodic `global` runs restore
    * a fully non-overlapping layout if range overlap accumulates. */
  def runIncremental(t: GraftTable,
      curve: String = "zorder",
      targetBytes: Long = 8L * 1024 * 1024): Result = {
    val clustered: Set[String] = t.meta.snapshots
      .filter(_.operation == "cluster")
      .sortBy(_.snapshotId).lastOption
      .map(s => t.snapshotFiles(s).map(_.path).toSet)
      .getOrElse(Set.empty)
    run(t, curve, "groups", targetBytes,
      only = Some(t.currentFiles.filterNot(f => clustered.contains(f.path))))
  }

  def run(t: GraftTable,
      curve: String = "zorder",
      mode: String = "global",
      targetBytes: Long = 8L * 1024 * 1024,
      maxConcurrentGroups: Int = 8,
      only: Option[Seq[graft.table.DataFileMeta]] = None,
      failAfterUnits: Option[Int] = None): Result = {
    val jobT0 = System.nanoTime()
    val base = t.currentSnapshot
    val files = only.getOrElse(t.snapshotFiles(base))
    if (files.isEmpty) return Result(None, "", mode, curve, 0, 0, 0, 0)
    val bytesIn = files.map(_.fileSizeBytes).sum
    val job = new UnitJob(t.root, UnitJob.id(s"cluster-$mode-$curve", base.snapshotId,
      targetBytes.toString, files.map(_.path)), jobT0)
    job.committed.foreach { sid =>
      return Result(t.meta.snapshot(sid), job.jobId, mode, curve, files.size, 0, bytesIn, 0)
    }

    val groups = PartitionSpec.group(t.meta.partitionSpec, files)
    // A unit is a file group and the curve-key bounds of its range exchange.
    val (units, boundsOf): (Seq[Seq[DataFileMeta]], Seq[DataFileMeta] => Array[Long]) =
      mode match {
        case "global" =>
          // PARTITION-PRESERVING: on a partitioned table, the full re-sort
          // range-exchanges WITHIN each partition value, so every output
          // file stays partition-pure and the commit re-derives valued
          // manifests — a single whole-table exchange would mix partition
          // values into each output file, silently demoting the declared
          // spec's manifest pruning to zero.
          // Each partition group is an independently resumable unit, on the
          // SAME bounded pool as groups mode: a table with many SMALL
          // partition values must not serialize many under-parallel
          // exchanges — each small value's job leaves most task slots idle,
          // and pooling overlaps them. Big values saturate the cluster
          // alone and simply queue.
          (groups.map(_._2), { g =>
            val numFiles = alignToSlots(
              math.max(1, math.ceil(g.map(_.fileSizeBytes).sum.toDouble / targetBytes).toInt),
              t.spark.sparkContext.defaultParallelism)
            val t0 = System.nanoTime()
            // Boundary pass on a PROJECTION of the curve key only: Parquet
            // column pruning never reads the image payload, so the table's
            // bytes are read once, in the rewrite pass — repartitionByRange's
            // sampling would execute the payload-bearing child a second
            // time. The pass reads a deterministic stratified FILE sample
            // (every k-th by path, ~32 files): boundaries only steer
            // partition balance, never correctness, and a full-table key
            // scan is a non-scaling fixed cost (~1.5 s at any core count on
            // the 1024-file fixture) that grows with file count at 10^12
            // rows.
            val sampleFiles = strideSample(g.sortBy(_.path), BoundsSampleFiles)
            val bounds = curveBoundaries(
              t.readFiles(sampleFiles).select(curveCol(curve).as("__ck")),
              numFiles, sampleFiles.map(_.rowCount).sum)
            graft.lineage.Metrics.recordJob(t.root, "cluster-bounds", t0,
              Map("parts" -> numFiles.toString, "bounds" -> bounds.length.toString))
            bounds
          })
        case "groups" =>
          // Pack input files into ~4x-target groups; each group is an
          // independently sorted, independently resumable unit. Partitioned
          // tables pack within partition values (same invariant as Compact:
          // rewrites must not mix partitions or the outputs lose their value).
          (groups.flatMap { case (_, fs) => packGroups(fs, targetBytes * 4) },
            g => curveBoundaries(t.readFiles(g).select(curveCol(curve).as("__ck")),
              math.max(1, math.ceil(g.map(_.fileSizeBytes).sum.toDouble / targetBytes).toInt),
              g.map(_.rowCount).sum))
        case other => throw new IllegalArgumentException(s"unknown mode: $other")
      }
    job.run(units.size, maxConcurrentGroups, failAfterUnits) { _.map { u =>
      val g = units(u)
      val bounds = boundsOf(g)
      // NOTE (measured, do not "fix"): leaving the scan at the default
      // 128 MB packing beats shrinking partitions to 4x-cores
      // granularity. More map tasks looks like better utilization, but
      // the bypass-merge shuffle writer's cost scales with mapTasks x
      // reducers (each map task materializes one segment per reducer),
      // and the extra file churn measured ~40% slower at 8 cores on the
      // 1.48 GB fixture.
      val df = t.readFiles(g).withColumn("__ck", curveCol(curve))
      (g.map(_.path), t.writeDataFiles(rangeExchange(df, col("__ck"), bounds)
        .sortWithinPartitions(col("__ck")).drop("__ck")))
    } }

    val (snap, added) = job.finish(t, units.size, "cluster", files.map(_.path).toSet, Map(
      "job-id" -> job.jobId, "curve" -> curve, "mode" -> mode), "cluster") { added => Map(
        "job-id" -> job.jobId, "curve" -> curve, "mode" -> mode,
        "files-in" -> files.size.toString, "files-out" -> added.size.toString,
        "bytes-in" -> bytesIn.toString) }
    Result(Some(snap), job.jobId, mode, curve, files.size, added.size, bytesIn,
      added.map(_.rowCount).sum)
  }

  /** Round the reducer/output-file count UP to a multiple of the cluster's
    * task slots (when above one full wave): a final partial reduce wave
    * leaves `slots - n % slots` slots idle for a whole task duration — the
    * measured 22-reducers-over-8-cores artifact cost ~8% of the exchange.
    * Rounding up only ever makes files slightly SMALLER than target, and at
    * production scale (reducers >> slots) the adjustment is negligible. */
  def alignToSlots(n: Int, slots: Int): Int =
    if (slots <= 0 || n <= slots || n % slots == 0) n
    else ((n + slots - 1) / slots) * slots

  /** The curve of the table's most recent cluster commit at or before
    * `base` — how COW jobs discover the layout they must preserve. None
    * until the table has ever been clustered. */
  def activeCurve(t: GraftTable, base: Snapshot): Option[String] =
    t.meta.snapshots
      .filter(s => s.operation == "cluster" && s.snapshotId <= base.snapshotId)
      .sortBy(_.snapshotId).lastOption.flatMap(_.summary.get("curve"))

  /** Shape a COW rewrite's output to preserve a clustered layout: range-
    * exchange the rewritten rows on the curve key (bounds from a projection-
    * only pass over the affected files — Parquet column pruning keeps image
    * payloads on disk) and sort within partitions. Without this, the
    * repartition(n) that sizes COW output files round-robins rows, so every
    * merge/delete/transcode/dedup widens the touched files' curve ranges and
    * the clustering that q-pruning depends on decays monotonically until the
    * next full re-cluster. Callers pass the result to writeDataFiles with NO
    * targetFiles (a further repartition would undo the exchange).
    *
    * Partitioned tables: when every affected file is partition-pure (the
    * invariant all engine writers maintain), the exchange is COMPOSITE —
    * each partition value owns a contiguous BLOCK of output partitions with
    * its own curve bounds, routed by one chained-when projection, so a
    * single shuffle (the rewrite executes once) yields files that are both
    * curve-tight and partition-pure; NULL partition-column rows get a
    * trailing block (a COW rewrite must never drop them). A mixed affected
    * file (foreign writer) falls back to the plain curve exchange: still
    * correct, outputs just lose their manifest partition value. */
  def shapeForCurve(t: GraftTable, affected: Seq[DataFileMeta], df: DataFrame,
      curve: String, targetBytes: Long,
      partitionMayChange: Boolean = false): DataFrame = {
    // Bounds passes read a bounded stratified FILE sample, like the global
    // cluster's boundary pass — a COW whose affected set covers most of a
    // huge table must not pay a full key-column scan before the rewrite
    // (bounds steer balance only, never correctness).
    def boundsFor(files: Seq[DataFileMeta], capN: Option[Int] = None): Array[Long] = {
      val n0 = math.max(1, math.ceil(
        files.map(_.fileSizeBytes).sum.toDouble / targetBytes).toInt)
      val n = capN.fold(n0)(c => math.min(n0, math.max(1, c)))
      val sample = strideSample(files.sortBy(_.path), BoundsSampleFiles)
      curveBoundaries(
        t.readFiles(sample).select(curveCol(curve).as("__ck")),
        n, sample.map(_.rowCount).sum)
    }
    val ck = curveCol(curve)
    val spec = t.meta.partitionSpec
    val groups = PartitionSpec.group(spec, affected)
    spec match {
      case Some(sp) if groups.nonEmpty && groups.forall(_._1.isDefined) =>
        val pvCol = PartitionSpec.toColumn(sp)
        val perValue = groups.map { case (pv, g) => (pv.get, boundsFor(g)) }
        // The OVERFLOW block catches rows whose partition value is NULL or
        // differs from every affected file's value — a rewrite may CHANGE
        // the partition column (transcode on a fmt-partitioned table maps
        // every row to the new format). Jobs that CAN change the column
        // (`partitionMayChange`) get a full curve-range block, so a
        // whole-value-change rewrite still spreads across ~target-sized,
        // curve-sorted files (they regain manifest values from their own
        // stats at commit when they land pure). Jobs that can't (delete,
        // dedup, caption-only merge) get ONE TASK WAVE of partitions: the
        // block is empty in their common case, and empty reducers still
        // cost shuffle bookkeeping — a full-width block roughly doubled
        // every COW rewrite's reducer count for nothing.
        val ovCap = if (partitionMayChange) None
          else Some(t.spark.sparkContext.defaultParallelism)
        val ovBounds = boundsFor(affected, ovCap)
        val blockSizes = perValue.map(_._2.length + 1) :+ (ovBounds.length + 1)
        val offsets = blockSizes.scanLeft(0)(_ + _)
        val total = blockSizes.sum
        val reps = partitionReps(total)
        val overflow: Column = gf.range_rep(ck, ovBounds,
          reps.slice(offsets(perValue.length), total))
        val repCol = perValue.zipWithIndex.foldRight(overflow) {
          case (((pv, bounds), i), els) =>
            when(pvCol === lit(pv), gf.range_rep(ck, bounds,
              reps.slice(offsets(i), offsets(i) + bounds.length + 1)))
              .otherwise(els)
        }
        df.withColumn("__ck", ck).withColumn("__rep", repCol)
          .repartition(total, col("__rep"))
          .sortWithinPartitions(col("__ck"))
          .drop("__ck", "__rep")
      case _ =>
        rangeExchange(df.withColumn("__ck", ck), col("__ck"), boundsFor(affected))
          .sortWithinPartitions(col("__ck")).drop("__ck")
    }
  }

  /** Max files the global-mode boundary pass reads. Stratified (stride over
    * path-sorted files): uniform coverage whether the layout is random
    * (post-compact) or already key-ordered (re-cluster). */
  val BoundsSampleFiles = 32

  /** Deterministic every-k-th sample of `files` down to ~`target` entries. */
  def strideSample(files: Seq[DataFileMeta], target: Int): Seq[DataFileMeta] =
    if (files.size <= target) files
    else {
      val step = files.size.toDouble / target
      (0 until target).map(i => files((i * step).toInt))
    }

  /** Range boundaries for `numParts` balanced buckets of the `__ck` column:
    * one narrow job that row-samples the key projection to a bounded driver
    * collect (~2000 keys per boundary, deterministic seed), exact-sorts, and
    * strides — replacing the earlier approxQuantile sketch, whose
    * aggregation cost was a flat non-scaling ~1.5 s at every core count.
    * Boundaries steer partition BALANCE only, never correctness (the
    * RangeRep exchange routes by binary search over whatever bounds it
    * gets), so sample-rank quantiles are exactly as good. Duplicate
    * boundaries (skewed keys) collapse; the exchange then just has fewer,
    * non-empty buckets. `totalRows` sizes the sample fraction (callers know
    * it from file metadata — no counting pass). */
  def curveBoundaries(proj: DataFrame, numParts: Int, totalRows: Long): Array[Long] = {
    if (numParts <= 1) return Array.empty
    val spark = proj.sparkSession
    import spark.implicits._
    val cap = math.max(100000L, numParts * 2000L)
    val sampled =
      if (totalRows <= cap || totalRows <= 0) proj
      else proj.sample(withReplacement = false, cap.toDouble / totalRows, seed = 42L)
    val keys = sampled.as[Long].collect()
    java.util.Arrays.sort(keys)
    if (keys.isEmpty) return Array.empty
    (1 until numParts)
      .map(i => keys(math.min(keys.length - 1, (i.toLong * keys.length / numParts).toInt)))
      .distinct.sorted.toArray
  }

  /** Exact range exchange: bucket each row by driver-computed `bounds`
    * (codegen'd binary search) and hash-repartition on a REPRESENTATIVE value
    * chosen so bucket i lands exactly at partition i — a range partitioning
    * with zero sampling executions of the child. */
  def rangeExchange(df: DataFrame, ck: Column, bounds: Array[Long]): DataFrame = {
    val n = bounds.length + 1
    if (n == 1) return df.repartition(1)
    df.withColumn("__rep", gf.range_rep(ck, bounds, partitionReps(n)))
      .repartition(n, col("__rep"))
      .drop("__rep")
  }

  /** reps(i) = smallest non-negative long whose Spark Murmur3 hash pmod n is
    * i, so HashPartitioning(reps(bucket), n) == bucket. Coupon-collector cost
    * ~n ln n driver-side hashes — microseconds at any realistic file count. */
  def partitionReps(n: Int): Array[Long] = {
    val reps = new Array[Long](n)
    val found = new Array[Boolean](n)
    var remaining = n
    var v = 0L
    while (remaining > 0) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(v, 42)
      val p = ((h % n) + n) % n
      if (!found(p)) { found(p) = true; reps(p) = v; remaining -= 1 }
      v += 1
    }
    reps
  }

  /** First-fit-decreasing grouping of files into rewrite groups of at most
    * `capacity` bytes (a larger file gets a group of its own); candidates
    * sorted by (size desc, path), so the grouping is deterministic. Callers
    * pack each partition value's files separately ([[PartitionSpec.group]]). */
  def packGroups(files: Seq[DataFileMeta], capacity: Long): Seq[Seq[DataFileMeta]] = {
    val out = scala.collection.mutable.ArrayBuffer[(scala.collection.mutable.ArrayBuffer[DataFileMeta], Long)]()
    for (f <- files.sortBy(f => (-f.fileSizeBytes, f.path))) {
      val i = out.indexWhere { case (_, used) => used + f.fileSizeBytes <= capacity }
      if (i >= 0) { val (b, u) = out(i); b += f; out(i) = (b, u + f.fileSizeBytes) }
      else out += ((scala.collection.mutable.ArrayBuffer(f), f.fileSizeBytes))
    }
    out.map(_._1.toSeq).toSeq
  }
}
