package graft.table

import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.charset.StandardCharsets
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/**
 * Iceberg-style table metadata, from scratch on Parquet + JSON.
 *
 * Layout under the table root:
 * {{{
 *   data/<commit-uuid>/part-*.parquet      immutable data files
 *   metadata/v<N>.metadata.json            table metadata versions (CAS via CREATE_NEW)
 *   metadata/manifest-<uuid>.json          immutable manifest files (shared across snapshots)
 *   metadata/version-hint.text             latest committed version (atomic rename)
 *   lineage/<job-id>/part-<k>.json         per-partition job lineage (resume)
 * }}}
 *
 * Re-grounds the reference's table-metadata file with config-hash change
 * detection (reference: packages/mcp/src/metadata.ts:7-29) as a versioned,
 * snapshot-bearing metadata document, and the reference's one-JSON-file-per-
 * record KV store (packages/storage-json/src/json-kv-storage.ts:24-46) as the
 * small-file data plane the maintenance jobs operate on.
 */
object TableJson {
  implicit val formats: Formats = DefaultFormats
  def write[A <: AnyRef](a: A): String = Serialization.write(a)
  def read[A](s: String)(implicit m: Manifest[A]): A = Serialization.read[A](s)
}

/** Per-column min/max/null stats, stored as strings; typed by the table schema
  * at pruning time. Mirrors Iceberg's per-data-file lower_bounds/upper_bounds. */
case class ColStats(min: Option[String], max: Option[String], nullCount: Long)

/** Iceberg-style declared partitioning: `transform(column)` is the coarse
  * pruning key applied BEFORE per-file stats. Transforms: `identity` and
  * `truncate[N]` (floor to a multiple of N, longs). At 10^12 rows with
  * time- or source-ordered ingest this is the workhorse prune — a
  * partition-filtered scan skips whole manifests without opening them,
  * where stats pruning still walks every manifest's file entries. */
case class PartitionSpec(column: String, transform: String)

object PartitionSpec {
  private val TruncateRe = """truncate\[(\d+)\]""".r

  def validate(spec: PartitionSpec): Unit = spec.transform match {
    case "identity" | TruncateRe(_) => ()
    case other => throw new IllegalArgumentException(
      s"unknown partition transform: $other (want identity | truncate[N])")
  }

  /** The transform as a Spark Column (string-typed, matching the stored
    * partition-value strings) — the writer-side clustering key: shaping a
    * batch by this column before append yields partition-pure files and
    * therefore valued manifests. Integer-exact for truncate (col - pmod),
    * no floating floor. */
  def toColumn(spec: PartitionSpec): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit, pmod}
    spec.transform match {
      case "identity" => col(spec.column).cast("string")
      case TruncateRe(n) =>
        (col(spec.column) - pmod(col(spec.column), lit(n.toLong))).cast("string")
      case other => throw new IllegalArgumentException(s"transform: $other")
    }
  }

  /** transform(raw column value); None if the value doesn't fit the
    * transform (e.g. non-numeric under truncate) — callers must keep
    * (never prune) on None. */
  def applyTransform(spec: PartitionSpec, v: String): Option[String] =
    spec.transform match {
      case "identity" => Some(v)
      case TruncateRe(n) =>
        scala.util.Try(Math.floorDiv(v.toLong, n.toLong) * n.toLong).toOption
          .map(_.toString)
      case _ => None
    }

  /** The single partition value a data file belongs to, derived from its
    * column stats: defined iff transform(min) == transform(max) (the file is
    * partition-pure). Mixed or stat-less files get None — still scanned
    * under any partition filter, never wrongly pruned. */
  def partitionOf(spec: PartitionSpec, f: DataFileMeta): Option[String] =
    f.stats.get(spec.column).flatMap { s =>
      (s.min, s.max) match {
        case (Some(mn), Some(mx)) =>
          for {
            a <- applyTransform(spec, mn)
            b <- applyTransform(spec, mx)
            if a == b
          } yield a
        case _ => None
      }
    }

  /** Can a manifest whose files all carry partition value `pv` contain rows
    * matching `f`? Only filters on the partition column prune; unknown
    * shapes keep. Under truncate[N], `pv` covers the value interval
    * [pv, pv + N). */
  def mayMatch(spec: PartitionSpec, pv: String, f: PruneFilter): Boolean = {
    if (f.col != spec.column) return true
    val width: Long = spec.transform match {
      case TruncateRe(n) => n.toLong
      case _ => 1L
    }
    def pvLong: Option[Long] = scala.util.Try(pv.toLong).toOption
    f match {
      case EqString(_, v) => applyTransform(spec, v).forall(_ == pv)
      case EqLong(_, v) => applyTransform(spec, v.toString).forall(_ == pv)
      // Membership: keep the manifest iff ANY candidate lands in pv (a
      // value whose transform is undefined conservatively keeps).
      case InLong(_, vs) =>
        vs.exists(v => applyTransform(spec, v.toString).forall(_ == pv))
      // String ranges/bounds prune only under identity (a truncate[N] value
      // stands for a numeric interval, where lexicographic bounds are
      // unsound). Comparisons in UTF-8 byte order — same as the scan-side
      // residual filter and the file-level stats prune (Utf8Ord scaladoc).
      case RangeString(_, lo, hi) =>
        spec.transform != "identity" ||
          (Utf8Ord.geq(pv, lo) && Utf8Ord.leq(pv, hi))
      case GeString(_, lo) => spec.transform != "identity" || Utf8Ord.geq(pv, lo)
      case LeString(_, hi) => spec.transform != "identity" || Utf8Ord.leq(pv, hi)
      case RangeLong(_, lo, hi) =>
        pvLong.forall(p => p <= hi && p + width - 1 >= lo)
      case GeLong(_, lo) => pvLong.forall(p => p + width - 1 >= lo)
      case LeLong(_, hi) => pvLong.forall(p => p <= hi)
    }
  }
}

/** One immutable data file. `path` is relative to the table root. */
case class DataFileMeta(
    path: String,
    fileSizeBytes: Long,
    rowCount: Long,
    stats: Map[String, ColStats]) {
  def absPath(root: String): String = s"$root/$path"
}

/** An immutable manifest: a list of data files. Shared (by path) across
  * snapshots that did not touch its files — this sharing is what makes
  * snapshot expiration a reference-counting/reachability problem
  * (reference analog: sourceChunkIds refcount lists, core/src/types.ts:34-41). */
case class ManifestData(files: Seq[DataFileMeta],
    partition: Option[String] = None) {
  def totalBytes: Long = files.map(_.fileSizeBytes).sum
  def totalRows: Long = files.map(_.rowCount).sum
}

case class Snapshot(
    snapshotId: Long,
    parentId: Option[Long],
    timestampMs: Long,
    operation: String, // append | compact | cluster | rewrite-manifests | merge | expire | transcode
    manifests: Seq[String], // metadata-relative manifest file names
    summary: Map[String, String],
    // manifest name -> partition value, for manifests whose files all share
    // one transform(column) value; resident in the snapshot so partition
    // pruning decides per MANIFEST without opening any of them. Absent
    // entries (or None, pre-partition-spec snapshots) always scan.
    partitionValues: Option[Map[String, String]] = None) {
  def partitionOfManifest(name: String): Option[String] =
    partitionValues.flatMap(_.get(name))
}

case class TableMetadata(
    formatVersion: Int,
    tableUuid: String,
    schemaDdl: String,
    properties: Map[String, String],
    currentSnapshotId: Option[Long],
    snapshots: Seq[Snapshot],
    partitionSpec: Option[PartitionSpec] = None) {

  def currentSnapshot: Option[Snapshot] =
    currentSnapshotId.flatMap(id => snapshots.find(_.snapshotId == id))

  def snapshot(id: Long): Option[Snapshot] = snapshots.find(_.snapshotId == id)

  def nextSnapshotId: Long =
    if (snapshots.isEmpty) 1L else snapshots.map(_.snapshotId).max + 1L
}

/** Filesystem-level metadata IO with an optimistic-CAS commit protocol:
  * a new `v<N>.metadata.json` is created with CREATE_NEW (fails if a
  * concurrent writer committed N first), then `version-hint.text` is swapped
  * by atomic rename. Readers resolve the hint, falling back to a directory
  * scan. This replaces the reference's create-table race-guard promise
  * (storage-lancedb/src/lancedb-vector-storage.ts:79-92) with a durable
  * single-winner protocol. */
object MetaIO {
  def metadataDir(root: String): Path = Paths.get(root, "metadata")
  def hintFile(root: String): Path = metadataDir(root).resolve("version-hint.text")
  def versionFile(root: String, v: Int): Path =
    metadataDir(root).resolve(s"v$v.metadata.json")

  def currentVersion(root: String): Option[Int] = {
    val hint = hintFile(root)
    val hinted =
      if (Files.exists(hint))
        scala.util.Try(new String(Files.readAllBytes(hint), StandardCharsets.UTF_8).trim.toInt).toOption
      else None
    // The hint is only a hint: scan for any later version a crashed writer
    // committed after the CAS but before the hint swap.
    val dir = metadataDir(root)
    if (!Files.exists(dir)) return None
    val scanned = {
      val listing = Files.list(dir)
      try {
        val it = listing.iterator()
        var mx = -1
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.startsWith("v") && n.endsWith(".metadata.json")) {
            scala.util.Try(n.stripPrefix("v").stripSuffix(".metadata.json").toInt)
              .toOption.foreach(v => if (v > mx) mx = v)
          }
        }
        if (mx >= 0) Some(mx) else None
      } finally listing.close()
    }
    (hinted.toSeq ++ scanned.toSeq).maxOption
  }

  // Version files and manifests are IMMUTABLE once written (unique names,
  // tmp+atomic-move), so parsed forms are cached process-wide: commit and
  // planning re-read them several times per job, and the JSON parse of a
  // 1000-entry manifest is a measurable slice of the fixed driver cost.
  // Bounded: a long-running continuous-ingest driver commits thousands of
  // versions whose snapshots lists grow monotonically — unbounded retention
  // would be O(versions^2) heap.
  // The key carries the version FILE's byte size: if a table is deleted and
  // recreated at the same root by another process (bench-trial cleanup),
  // the recreated table's v<N> is a different document and must not be
  // served from the old table's cache entry. (Same-size different-content
  // is not a realistic collision here — the body embeds a fresh tableUuid
  // and distinct snapshot timestamps; [[invalidate]] covers same-process
  // recreation outright.)
  private val metaCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Int, Long), TableMetadata](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Int, Long), TableMetadata]): Boolean =
        size() > 32
    })

  /** Drop every cached parse under `root` — called on table (re)creation. */
  def invalidate(root: String): Unit = {
    metaCache.synchronized {
      metaCache.keySet.removeIf(k => k._1 == root)
    }
    manifestCache.synchronized {
      manifestCache.keySet.removeIf(k => k._1 == root)
    }
  }
  private val manifestCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, String), ManifestData](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), ManifestData]): Boolean =
        size() > 256
    })

  def load(root: String): Option[(Int, TableMetadata)] =
    currentVersion(root).map { v =>
      val key = (root, v, Files.size(versionFile(root, v)))
      val cached = metaCache.get(key)
      if (cached != null) (v, cached)
      else {
        // Version files are immutable: the file read here has the size the
        // key was built from, so the put key is the lookup key.
        val m = TableJson.read[TableMetadata](
          new String(Files.readAllBytes(versionFile(root, v)), StandardCharsets.UTF_8))
        metaCache.put(key, m)
        (v, m)
      }
    }

  /** Attempt to commit `meta` as version `base + 1`. Returns true iff this
    * writer won the CAS. */
  def tryCommit(root: String, base: Int, meta: TableMetadata): Boolean = {
    Files.createDirectories(metadataDir(root))
    val target = versionFile(root, base + 1)
    val body = TableJson.write(meta).getBytes(StandardCharsets.UTF_8)
    try {
      Files.write(target, body, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => return false
    }
    metaCache.put((root, base + 1, body.length.toLong), meta)
    val tmp = metadataDir(root).resolve(s".version-hint.${base + 1}.tmp")
    Files.write(tmp, String.valueOf(base + 1).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, hintFile(root), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    true
  }

  /** Optimistic-CAS retry loop shared by every metadata mutation: load the
    * current (version, metadata), derive the next metadata (None = nothing
    * to change, return without committing), tryCommit, and on a lost race
    * re-derive from the refreshed base. `attempt` may also THROW to abort
    * (e.g. a validation that must hold against the freshest metadata). */
  def casRetry(root: String, what: String)
      (attempt: (Int, TableMetadata) => Option[TableMetadata]): TableMetadata = {
    var attempts = 0
    while (true) {
      attempts += 1
      val (v, m) = load(root).getOrElse(
        throw new IllegalStateException(s"no table at $root"))
      attempt(v, m) match {
        case None => return m
        case Some(nm) => if (tryCommit(root, v, nm)) return nm
      }
      if (attempts > 20) throw new IllegalStateException(
        s"$what contention: lost CAS $attempts times at $root")
    }
    throw new IllegalStateException("unreachable")
  }

  def writeManifest(root: String, name: String, m: ManifestData): Unit = {
    Files.createDirectories(metadataDir(root))
    val tmp = metadataDir(root).resolve(s".$name.tmp")
    Files.write(tmp, TableJson.write(m).getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, metadataDir(root).resolve(name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    manifestCache.put((root, name), m)
  }

  def readManifest(root: String, name: String): ManifestData = {
    val k = (root, name)
    val cached = manifestCache.get(k)
    if (cached != null) return cached
    val s = new String(
      Files.readAllBytes(metadataDir(root).resolve(name)), StandardCharsets.UTF_8)
    val m = TableJson.read[ManifestData](s)
    manifestCache.put(k, m)
    m
  }
}
