package graft.table

import java.io.{Closeable, FileNotFoundException}
import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{DataFrame, SparkSession, Column}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation, PartitionedFile}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/**
 * File-level prune predicates evaluated against per-file min/max stats in the
 * manifests, before any Parquet is opened. Spark-side analog of the
 * reference's pushed-down LanceDB metadata filter
 * (storage-lancedb/src/lancedb-vector-storage.ts:100-112) versus the SQLite
 * post-filter (sqlite-vector-storage.ts:77-83): we prune at plan-construction
 * time, then let Catalyst + Parquet row-group pruning handle the rest.
 */
sealed trait PruneFilter { def col: String }
case class EqString(col: String, v: String) extends PruneFilter
case class EqLong(col: String, v: Long) extends PruneFilter
/** Membership in a (small, driver-held) long set — one scan plan for a
  * multi-value lookup such as the IVF probe's nprobe buckets, instead of
  * one scanWhere branch per value unioned (nprobe parquet scan nodes). */
case class InLong(col: String, vs: Seq[Long]) extends PruneFilter
case class RangeLong(col: String, lo: Long, hi: Long) extends PruneFilter
case class RangeString(col: String, lo: String, hi: String) extends PruneFilter
case class GeString(col: String, lo: String) extends PruneFilter
case class LeString(col: String, hi: String) extends PruneFilter
case class GeLong(col: String, lo: Long) extends PruneFilter
case class LeLong(col: String, hi: Long) extends PruneFilter

/** Unsigned UTF-8 byte-order string comparison — the ONE ordering the whole
  * stats-pruning stack agrees on. Spark's min/max aggregates compare
  * UTF8Strings byte-wise, Parquet's per-block string extrema are chosen in
  * unsigned byte order, and the scan-side residual filters (`col >= lit`)
  * evaluate in UTF8String order too. Scala `String` comparison (UTF-16 code
  * units) disagrees for supplementary-plane code points — surrogates sort
  * BELOW U+E000..U+FFFF in UTF-16 but ABOVE all of the BMP in UTF-8 — so a
  * UTF-16 comparison against byte-ordered extrema can unsoundly prune a file
  * that contains a matching non-BMP key (a MERGE would then silently skip
  * the update and re-insert the key as a duplicate). Every comparison of a
  * manifest string stat goes through here. */
object Utf8Ord {
  // Encode-then-compare (not a char-wise surrogate-adjusted walk): String
  // .getBytes replaces UNPAIRED surrogates with '?' exactly like
  // UTF8String.fromString does, so this stays sign-identical to Spark even
  // on malformed input — worth two small allocations on the (metadata-only)
  // planning path. Utf8OrdSpec pins the agreement with 20k sampled pairs.
  def cmp(a: String, b: String): Int = java.util.Arrays.compareUnsigned(
    a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
    b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  def leq(a: String, b: String): Boolean = cmp(a, b) <= 0
  def geq(a: String, b: String): Boolean = cmp(a, b) >= 0
}

object PruneFilter {
  /** Residual row-level Column for a prune filter (applied on the scan). */
  def toColumn(f: PruneFilter): Column = f match {
    case EqString(c, v)       => col(c) === lit(v)
    case EqLong(c, v)         => col(c) === lit(v)
    case InLong(c, vs)        => col(c).isin(vs.map(Long.box): _*)
    case RangeLong(c, l, h)   => col(c) >= lit(l) && col(c) <= lit(h)
    case RangeString(c, l, h) => col(c) >= lit(l) && col(c) <= lit(h)
    case GeString(c, l)       => col(c) >= lit(l)
    case LeString(c, h)       => col(c) <= lit(h)
    case GeLong(c, l)         => col(c) >= lit(l)
    case LeLong(c, h)         => col(c) <= lit(h)
  }

  /** Can `file` possibly contain rows matching `f`? Missing stats => keep.
    * String bounds compare in unsigned UTF-8 byte order ([[Utf8Ord]]) —
    * the same ordering that produced both sides. One-sided stats (older
    * manifests dropped an untrustworthy truncated max) leave the missing side
    * unbounded rather than falling through to the all-null check. */
  def mayMatch(file: DataFileMeta, f: PruneFilter): Boolean = {
    val st = file.stats.get(f.col)
    st match {
      case None => true
      case Some(s) =>
        val mn = s.min
        val mx = s.max
        if (mn.isEmpty && mx.isEmpty)
          s.nullCount < file.rowCount // all-null file only matches IS NULL
        else {
          import Utf8Ord.{geq, leq}
          f match {
            case EqString(_, v)       => mn.forall(leq(_, v)) && mx.forall(geq(_, v))
            case EqLong(_, v)         => mn.forall(_.toLong <= v) && mx.forall(_.toLong >= v)
            case InLong(_, vs)        =>
              vs.exists(v => mn.forall(_.toLong <= v) && mx.forall(_.toLong >= v))
            case RangeLong(_, l, h)   => mn.forall(_.toLong <= h) && mx.forall(_.toLong >= l)
            case RangeString(_, l, h) => mn.forall(leq(_, h)) && mx.forall(geq(_, l))
            case GeString(_, l)       => mx.forall(geq(_, l))
            case LeString(_, h)       => mn.forall(leq(_, h))
            case GeLong(_, l)         => mx.forall(_.toLong >= l)
            case LeLong(_, h)         => mn.forall(_.toLong <= h)
          }
        }
    }
  }
}

/**
 * The engine's table handle: snapshot-isolated reads, append/rewrite commits,
 * manifest bookkeeping, stats collection.
 *
 * All planning here is metadata-relative: only file-level metadata (path,
 * size, rows, min/max) reaches the driver, and data rows stay distributed
 * except in a `scanWhere` whose kept files fit the driver-read cutoff. That
 * keeps the same code plausible from the sandbox's 10^4 rows to the target
 * 10^12.
 */
class GraftTable(val root: String, val spark: SparkSession) {
  import GraftTable._

  // Observability (I7): every DataFrame action on this session records
  // duration/rows/bytes under <root>/lineage/_metrics (idempotent install).
  graft.lineage.Metrics.install(spark, root)

  def meta: TableMetadata = MetaIO.load(root).map(_._2)
    .getOrElse(throw new IllegalStateException(s"no table at $root"))
  def version: Int = MetaIO.currentVersion(root)
    .getOrElse(throw new IllegalStateException(s"no table at $root"))

  def schema: StructType = schemaOf(meta)
  private def schemaOf(m: TableMetadata): StructType = StructType.fromDDL(m.schemaDdl)

  def currentSnapshot: Snapshot = resolveSnapshot(meta, None)

  def snapshotFiles(s: Snapshot): Seq[DataFileMeta] =
    s.manifests.flatMap(m => MetaIO.readManifest(root, m).files)

  def currentFiles: Seq[DataFileMeta] = snapshotFiles(currentSnapshot)

  // ---------------------------------------------------------------- reads

  /** Full scan of a snapshot (default: current). Snapshot isolation: the file
    * list is pinned from the snapshot's manifests at plan time, so concurrent
    * maintenance commits do not change what this DataFrame reads —
    * the engine's analog of the reference's namespace isolation
    * (core/src/namespace.ts:17-23). */
  def scan(snapshotId: Option[Long] = None): DataFrame = {
    val m = meta
    readFiles(snapshotFiles(resolveSnapshot(m, snapshotId)), schemaOf(m))
  }

  private def resolveSnapshot(m: TableMetadata, snapshotId: Option[Long]): Snapshot =
    snapshotId match {
      case None => m.currentSnapshot
        .getOrElse(throw new IllegalStateException(s"table at $root has no snapshot"))
      case Some(id) => m.snapshot(id).getOrElse(throw new IllegalArgumentException(
        s"unknown snapshot id $id (known: ${m.snapshots.map(_.snapshotId).mkString(",")})"))
    }

  /** Time travel by timestamp: the latest snapshot committed at or before
    * `tsMs` (Iceberg's as-of-timestamp resolution). */
  def snapshotAsOf(tsMs: Long): Snapshot =
    meta.snapshots.filter(_.timestampMs <= tsMs).sortBy(_.snapshotId).lastOption
      .getOrElse(throw new IllegalArgumentException(
        s"no snapshot at or before $tsMs (earliest: ${meta.snapshots.map(_.timestampMs).minOption.getOrElse(-1L)})"))

  def scanAsOf(tsMs: Long): DataFrame = scan(Some(snapshotAsOf(tsMs).snapshotId))

  /** Roll the current pointer back (or forward) to an existing snapshot.
    * Metadata-only CAS; no snapshot is created or destroyed, so the rolled-
    * past snapshots stay time-travelable until expired — Iceberg's
    * rollback-to-snapshot semantics. */
  def rollback(snapshotId: Long): Snapshot = {
    var target: Snapshot = null
    MetaIO.casRetry(root, "rollback") { (_, m) =>
      target = m.snapshot(snapshotId).getOrElse(throw new IllegalArgumentException(
        s"unknown snapshot id $snapshotId (known: ${m.snapshots.map(_.snapshotId).mkString(",")})"))
      if (m.currentSnapshotId.contains(snapshotId)) None
      else Some(m.copy(currentSnapshotId = Some(snapshotId)))
    }
    target
  }

  /** Manifests a filtered scan must OPEN, after partition pruning: a
    * declared partition spec + per-manifest partition values (resident in
    * the snapshot) refute whole manifests without reading them — the coarse
    * prune that runs before any per-file stats walk. */
  def planManifests(filters: Seq[PruneFilter],
      snapshotId: Option[Long] = None): Seq[String] =
    planManifests(meta, filters, snapshotId)

  private def planManifests(m: TableMetadata, filters: Seq[PruneFilter],
      snapshotId: Option[Long]): Seq[String] = {
    val s = resolveSnapshot(m, snapshotId)
    m.partitionSpec match {
      case None => s.manifests
      case Some(spec) => s.manifests.filter { name =>
        s.partitionOfManifest(name) match {
          case Some(pv) => filters.forall(PartitionSpec.mayMatch(spec, pv, _))
          case None => true // unpartitioned/mixed manifest: always scanned
        }
      }
    }
  }

  /** Files a pruned scan of `m` opens: manifests refuted by the partition
    * spec are skipped, then files whose min/max stats refute a filter. */
  private def planFiles(m: TableMetadata, filters: Seq[PruneFilter],
      snapshotId: Option[Long]): Seq[DataFileMeta] =
    planManifests(m, filters, snapshotId)
      .flatMap(n => MetaIO.readManifest(root, n).files)
      .filter(f => filters.forall(PruneFilter.mayMatch(f, _)))

  /** Pruned scan: skip whole manifests via the partition spec, then drop
    * files whose min/max stats refute the filters, then apply the filters
    * row-level. One metadata load plans the whole read.
    *
    * Kept files at or below [[GraftTable.DriverReadMaxFiles]] files and
    * [[GraftTable.DriverReadMaxBytes]] bytes (a point lookup) are read
    * EAGERLY, here on the driver, by Spark's own Parquet reader into a local
    * relation: collecting the result starts no Spark job, and a kept file
    * deleted behind its manifest raises `FAILED_READ_FILE.FILE_NOT_EXIST`
    * from this call rather than from the action. Larger file sets read
    * lazily through [[readFiles]], a distributed scan. */
  def scanWhere(filters: Seq[PruneFilter], snapshotId: Option[Long] = None): DataFrame = {
    val m = meta
    val files = planFiles(m, filters, snapshotId)
    val df =
      if (files.size <= DriverReadMaxFiles &&
          files.map(_.fileSizeBytes).sum <= DriverReadMaxBytes)
        readOnDriver(files, schemaOf(m))
      else readFiles(files, schemaOf(m))
    filters.foldLeft(df)((d, f) => d.filter(PruneFilter.toColumn(f)))
  }

  /** How many files a pruned scan would open (observability for tests/bench). */
  def planFiles(filters: Seq[PruneFilter]): Seq[DataFileMeta] = planFiles(meta, filters, None)

  /** The table's one reader of data files: a Parquet relation over a
    * [[ManifestFileIndex]] of `files`, planned from their manifest entries
    * with no file-system call (an empty list reads as an empty frame).
    * Columns are nullable, as for any file-source read. */
  private[graft] def readFiles(files: Seq[DataFileMeta], sch: StructType = schema): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(new ManifestFileIndex(root, files),
      partitionSchema = new StructType(), dataSchema = sch.toNullable, bucketSpec = None,
      fileFormat = new ParquetFileFormat(), options = Map.empty)(spark))

  /** Spark's Parquet reader per (nullable) schema, built once per handle:
    * building one broadcasts the Hadoop configuration, about 9 ms of driver
    * CPU, more than reading a small file. */
  private val driverReaders =
    new ConcurrentHashMap[StructType, PartitionedFile => Iterator[InternalRow]]()

  /** `files` read on the driver with the reader a distributed scan uses (the
    * same decoding, null-filled evolved columns and nullable schema), with
    * no pushed filters, as a DataFrame over a `LocalRelation` tagged for the
    * table's query metrics. */
  private def readOnDriver(files: Seq[DataFileMeta], sch: StructType): DataFrame = {
    val s = sch.toNullable
    val read = driverReaders.computeIfAbsent(s, _ =>
      new ParquetFileFormat().buildReaderWithPartitionValues(spark, s, new StructType(), s,
        Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConf()))
    val rows = files.flatMap { f =>
      val file = PartitionedFile(InternalRow.empty,
        SparkPath.fromPath(ManifestFileIndex.qualify(f.absPath(root))), 0L,
        f.fileSizeBytes, Array.empty[String], 0L, f.fileSizeBytes)
      val it = try read(file) catch {
        case e: FileNotFoundException => throw Bridge.fileNotExist(file.urlEncodedPath, e)
      }
      // The vectorized reader reuses one row per batch: copy each.
      try it.map(_.copy()).toVector
      finally it match { case c: Closeable => c.close(); case _ => () }
    }
    val rel = LocalRelation(DataTypeUtils.toAttributes(s), rows)
    rel.setTagValue(graft.lineage.Metrics.DriverReadTag, graft.lineage.Metrics.DriverRead(
      Paths.get(root).toAbsolutePath.toString, files.map(_.fileSizeBytes).sum))
    Bridge.ofRows(spark, rel)
  }

  // --------------------------------------------------------------- writes

  /** Write `df` as new data files (one commit dir) and return their
    * metadata. Does NOT commit a snapshot. */
  def writeDataFiles(df: DataFrame, targetFiles: Option[Int] = None): Seq[DataFileMeta] =
    writePartitions(targetFiles.map(n => df.repartition(n)).getOrElse(df)).map(_._2)

  /** The table's one writer of data files: each non-empty partition of `df`
    * is written by its task straight to its final path
    * `data/<commit>/part-<index>-<uuid>.parquet` (attempt-unique) and comes
    * back as (partition index, metadata), in index order, with stats from
    * the writer's own footer. No staging, rename, marker or listing: a file
    * becomes visible only when a commit names it, and a failed attempt
    * leaves an unreferenced file for the orphan sweep. The write runs as a
    * NAMED SQL execution: its end event completes `Observation`s on `df`
    * and, tagged with the table, leaves one `writeDataFiles` query event in
    * its `lineage/_metrics`. */
  private[graft] def writePartitions(df: DataFrame): Seq[(Int, DataFileMeta)] = {
    val t0 = System.nanoTime()
    val rel = s"data/${UUID.randomUUID().toString.take(12)}"
    // Executors may run in other working directories: tasks get the
    // absolute root.
    val rootAbs = Paths.get(root).toAbsolutePath.toString
    val sch = schema
    // Spark's own Parquet write settings (codec, row metadata, encodings),
    // prepared once on the driver.
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    new ParquetFileFormat().prepareWrite(spark, job, Map.empty, df.schema)
    val conf = new SerializableConfiguration(job.getConfiguration)
    val qe = df.queryExecution
    qe.executedPlan.setTagValue(graft.lineage.Metrics.WriteTag, rootAbs)
    val out = SQLExecution.withNewExecutionId(qe, Some("writeDataFiles")) {
      qe.toRdd.mapPartitionsWithIndex { (i, rows) =>
        if (!rows.hasNext) Iterator.empty
        else Iterator(i -> writeFile(rootAbs,
          f"$rel/part-$i%05d-${UUID.randomUUID()}.parquet", conf.value, rows, sch))
      }.collect().toSeq
    }
    graft.lineage.Metrics.recordJob(root, "write-data-files", t0, Map(
        "write-ms" -> ((System.nanoTime() - t0) / 1000000).toString,
        "files" -> out.size.toString))
    out
  }

  /** Per-file stats of `files` in one distributed pass (the reference the
    * footer stats are tested against). Reads only the stats columns
    * (binary payload column skipped via Parquet column pruning), groups by
    * input_file_name — file-level metadata only comes back to the driver.
    * Zero-row files yield no entry. */
  def collectStats(files: Seq[DataFileMeta]): Seq[DataFileMeta] = {
    val sch = schema
    val statCols = sch.fields.filterNot(_.dataType == BinaryType).map(_.name)
    val aggs = statCols.flatMap { c =>
      Seq(min(col(c)).cast(StringType).as(s"min_$c"),
          max(col(c)).cast(StringType).as(s"max_$c"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    }
    val rows = readFiles(files, sch)
      .groupBy(input_file_name().as("__file"))
      .agg(count(lit(1)).as("__rows"), aggs.toIndexedSeq: _*)
      .collect()
    val prefix = "file:" // input_file_name returns a URI on local FS
    rows.toSeq.map { r =>
      val uri = r.getAs[String]("__file")
      val p = Paths.get(java.net.URI.create(
        if (uri.startsWith(prefix)) uri else s"file:$uri"))
      val relPath = Paths.get(root).toAbsolutePath.relativize(p.toAbsolutePath).toString
      val stats = statCols.map { c =>
        c -> ColStats(Option(r.getAs[String](s"min_$c")),
                      Option(r.getAs[String](s"max_$c")),
                      r.getAs[Long](s"nulls_$c"))
      }.toMap
      DataFileMeta(relPath, Files.size(p), r.getAs[Long]("__rows"), stats)
    }.sortBy(_.path)
  }

  /** Evolve the table schema to `newDdl`. Additive changes (appended columns,
    * Parquet-upcast widenings) commit as a metadata-only CAS — zero data IO.
    * Breaking changes (drops, incompatible retypes) are refused with the full
    * classification, mirroring the reference's breaking-config reindex gate
    * (packages/mcp/src/metadata.ts:72-113). Returns the applied changes
    * (empty if the schemas already match). */
  def evolveSchema(newDdl: String): Seq[SchemaEvolution.Change] = {
    val proposed = StructType.fromDDL(newDdl) // parse before touching metadata
    var applied: Seq[SchemaEvolution.Change] = Nil
    MetaIO.casRetry(root, "schema evolution") { (_, m) =>
      val changes = SchemaEvolution.classify(StructType.fromDDL(m.schemaDdl), proposed)
      val breaking = changes.filter(_.breaking)
      if (breaking.nonEmpty) throw new IllegalArgumentException(
        "breaking schema changes refused (full rewrite required): " +
          breaking.map(_.describe).mkString("; "))
      applied = changes
      if (changes.isEmpty) None else Some(m.copy(schemaDdl = newDdl))
    }
    applied
  }

  /** Commit a snapshot that adds `added` and removes `removed` (by path)
    * relative to the current snapshot. Untouched manifests are reused by
    * path (shared across snapshots — the refcount structure); manifests that
    * lose files are rewritten minus those entries; added files go into fresh
    * manifest(s). Retries the optimistic CAS against a refreshed base.
    * Commit-last ordering as in the reference's hash-after-success
    * (pipeline/src/indexing/pipeline.ts:93-94): data files and manifests are
    * durable before the metadata pointer moves. */
  def commit(operation: String, added: Seq[DataFileMeta], removedPaths: Set[String],
      summary: Map[String, String] = Map.empty,
      propertiesUpdate: Map[String, String] = Map.empty): Snapshot = {
    val t0 = System.nanoTime()
    var attempts = 0
    var result: Snapshot = null
    MetaIO.casRetry(root, "commit") { (_, m) =>
      attempts += 1
      // Manifests are (re)derived from the FRESH base each attempt: a lost
      // race must never re-commit manifest sets built from a stale file set.
      val parent = m.currentSnapshot
      val kept = parent.toSeq.flatMap(_.manifests).flatMap { name =>
        val data = MetaIO.readManifest(root, name)
        // Removal never widens a manifest's value set, so the partition
        // value carries through rewrites unchanged.
        val pv = parent.flatMap(_.partitionOfManifest(name)).orElse(data.partition)
        val files = data.files.filterNot(f => removedPaths.contains(f.path))
        if (files.size == data.files.size) Some(name -> pv)
        else if (files.nonEmpty) Some(MetaIO.writeManifest(root, files, pv) -> pv)
        else None // fully-removed manifest: dropped
      }
      // Added files GROUP BY partition value (one manifest per value) when a
      // spec is declared — the grouping that makes manifest-level pruning
      // real. Files that span partitions (or lack stats) go into one
      // unpartitioned manifest that every filtered scan still opens.
      val fresh = PartitionSpec.group(m.partitionSpec, added).map { case (pv, fs) =>
        MetaIO.writeManifest(root, fs.sortBy(_.path), pv) -> pv
      }
      // propertiesUpdate rides the SAME CAS as the snapshot: a caller's
      // watermark (e.g. the streaming batch-id guard) and its data commit
      // are atomic — no window where one is visible without the other.
      val nm = m.appendSnapshot(operation, kept ++ fresh, summary ++ Map(
        "added-files" -> added.size.toString,
        "removed-files" -> removedPaths.size.toString,
        "added-bytes" -> added.map(_.fileSizeBytes).sum.toString,
        "added-rows" -> added.map(_.rowCount).sum.toString))
      result = nm.currentSnapshot.get
      Some(nm.copy(properties = nm.properties ++ propertiesUpdate))
    }
    graft.lineage.Metrics.recordJob(root, "commit", t0, Map(
        "op" -> operation, "attempts" -> attempts.toString,
        "manifests" -> result.manifests.size.toString))
    result
  }
}

object GraftTable {
  /** Driver-read cutoff of [[GraftTable.scanWhere]]: a kept file set of at
    * most this many files and bytes is read on the driver (no Spark job);
    * a larger one is a distributed scan. Both sit at the wall-clock
    * crossover of a driver read and a Spark read of the same files, measured
    * on 4 vCPUs: ~60 files of 10 KB, ~6.5 MB in 4 files (CHANGES.md). */
  val DriverReadMaxFiles = 48
  val DriverReadMaxBytes: Long = 6L * 1024 * 1024

  /** The engine's fixed row schema (BASELINE.json input_hint). */
  val ImageSchemaDdl: String =
    "image_id STRING, bytes BINARY, w INT, h INT, fmt STRING, caption STRING, phash BIGINT"

  /** The base columns every job transforms explicitly; schema-evolved
    * additions beyond these must pass through COW rewrites untouched. */
  val BaseColumns: Set[String] =
    Set("image_id", "bytes", "w", "h", "fmt", "caption", "phash")

  def create(root: String, spark: SparkSession, schemaDdl: String = ImageSchemaDdl,
      properties: Map[String, String] = Map.empty,
      partitionSpec: Option[PartitionSpec] = None): GraftTable = {
    require(MetaIO.currentVersion(root).isEmpty, s"table already exists at $root")
    partitionSpec.foreach { sp =>
      PartitionSpec.validate(sp)
      require(StructType.fromDDL(schemaDdl).fieldNames.contains(sp.column),
        s"partition column ${sp.column} not in schema")
    }
    // A prior table at this root (deleted by e.g. bench-trial cleanup) may
    // have live cache entries in this process; drop them before re-creating.
    MetaIO.invalidate(root)
    Files.createDirectories(Paths.get(root))
    val meta = TableMetadata(
      formatVersion = 1,
      tableUuid = UUID.randomUUID().toString,
      schemaDdl = schemaDdl,
      properties = Map("write.target-file-size-bytes" -> (8L * 1024 * 1024).toString)
        ++ properties,
      currentSnapshotId = None,
      snapshots = Nil,
      partitionSpec = partitionSpec)
    if (!MetaIO.tryCommit(root, 0, meta))
      throw new IllegalStateException(s"race creating table at $root")
    new GraftTable(root, spark)
  }

  def load(root: String, spark: SparkSession): GraftTable = {
    require(MetaIO.currentVersion(root).isDefined, s"no table at $root")
    new GraftTable(root, spark)
  }

  /** Parquet writer of Spark rows through Spark's `ParquetWriteSupport`. */
  private class RowWriterBuilder(file: LocalOutputFile)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override protected def self(): RowWriterBuilder = this
    override protected def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport()
  }

  /** Write `rows` to `<rootAbs>/<rel>` with the settings in `conf` (as
    * prepared by `ParquetFileFormat.prepareWrite`) and return the file's
    * metadata. A failed write deletes its partial file. */
  private def writeFile(rootAbs: String, rel: String, conf: Configuration,
      rows: Iterator[InternalRow], sch: StructType): DataFileMeta = {
    val p = Paths.get(rootAbs, rel)
    Files.createDirectories(p.getParent)
    val w = new RowWriterBuilder(new LocalOutputFile(p)).withConf(conf)
      .withCompressionCodec(ParquetOutputFormat.getCompression(conf))
      .withRowGroupSize(ParquetOutputFormat.getLongBlockSize(conf))
      .withPageSize(ParquetOutputFormat.getPageSize(conf))
      .withDictionaryPageSize(ParquetOutputFormat.getDictionaryPageSize(conf))
      .withDictionaryEncoding(ParquetOutputFormat.getEnableDictionary(conf))
      .withWriterVersion(ParquetOutputFormat.getWriterVersion(conf))
      .build()
    try { rows.foreach(w.write); w.close() }
    catch { case e: Throwable =>
      scala.util.Try(w.close()); Files.deleteIfExists(p); throw e
    }
    FooterStats.of(rel, Files.size(p), w.getFooter, sch)
  }

  /** Append rows as a new snapshot. */
  def append(t: GraftTable, df: DataFrame, targetFiles: Option[Int] = None,
      summary: Map[String, String] = Map.empty,
      propertiesUpdate: Map[String, String] = Map.empty): Snapshot = {
    val files = t.writeDataFiles(df, targetFiles)
    t.commit("append", files, Set.empty, summary, propertiesUpdate)
  }
}
