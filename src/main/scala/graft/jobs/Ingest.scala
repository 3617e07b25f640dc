package graft.jobs

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.table.{GraftTable, Snapshot}

/**
 * External-directory ingest: recursive file scan with include/exclude globs
 * -> decode (magic-byte fmt, decoded w/h, phash) -> append snapshot.
 *
 * Re-grounds the reference's filesystem scanner
 * (pipeline/src/indexing/scanner.ts:80-140): its walk + include/exclude glob
 * lists become Spark's distributed `binaryFile` listing plus glob filters,
 * and its per-file parser dispatch becomes a codegen'd decode projection.
 *
 * Scale design: listing is distributed (Spark's InMemoryFileIndex lists
 * directories in parallel — the analog of paginated object-store listing),
 * a single include glob is pushed into the listing itself (pathGlobFilter,
 * so non-matching files are never even statted), and the decode projection
 * runs file-parallel with zero shuffles: read -> project -> write. The
 * caption is the file's root-relative path stem; image_id is the path's
 * sha-256 (stable under re-ingest, so MERGE/dedup can reconcile re-runs).
 */
object Ingest {

  case class Result(
      snapshot: Option[Snapshot],
      filesScanned: Long, // source files matched by the scan (pre-decode)
      filesWritten: Long, // parquet data files produced
      rows: Long, // rows ingested; skipped corrupt/non-image = filesScanned - rows
      bytes: Long) {
    def skipped: Long = filesScanned - rows
  }

  /** Glob -> anchored regex: `**` crosses directories, `*`/`?` do not.
    * A bare-filename glob (no `/`) matches at any depth, like the reference
    * scanner's basename patterns. */
  private[graft] def globToRegex(glob: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < glob.length) {
      glob.charAt(i) match {
        case '*' if i + 1 < glob.length && glob.charAt(i + 1) == '*' =>
          sb.append(".*"); i += 1
        case '*' => sb.append("[^/]*")
        case '?' => sb.append("[^/]")
        case c if "\\.[]{}()+-^$|".indexOf(c) >= 0 => sb.append("\\").append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    val body = sb.toString
    if (glob.contains("/")) "^" + body + "$" else "^(.*/)?" + body + "$"
  }

  /** The scanned (undecoded) file set, include/exclude applied. Exposed for
    * tests and for dry-run counting. Globs match the path RELATIVE to `dir`. */
  def scan(t: GraftTable, dir: String,
      include: Seq[String] = Nil, exclude: Seq[String] = Nil): DataFrame = {
    val reader = t.spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
    // Include globs push into the distributed listing itself (files that
    // don't match are never statted/opened): one bare-filename glob pushes
    // as-is; several push as a Hadoop `{a,b,...}` alternation (GlobFilter
    // supports it natively). On an object store with 10^7 files, listing
    // everything and filtering later IS the cost. Globs with path
    // separators or their own brace/comma syntax fall back to the row-level
    // rlike below — still pre-decode, pre-read of file CONTENT bytes.
    val pushable = include.nonEmpty &&
      include.forall(g => !g.contains("/") && !g.exists("{},".contains(_)))
    val pushed =
      if (!pushable) reader
      else if (include.size == 1) reader.option("pathGlobFilter", include.head)
      else reader.option("pathGlobFilter", include.mkString("{", ",", "}"))
    val raw = pushed.load(dir)
    val dirAbs = java.nio.file.Paths.get(dir).toAbsolutePath.toString
      .stripSuffix("/")
    val rel = regexp_replace(col("path"),
      lit("^file:" + java.util.regex.Pattern.quote(dirAbs + "/")), lit(""))
    val withRel = raw.withColumn("rel_path", rel)
    val inc = include.map(g => withRel("rel_path").rlike(globToRegex(g)))
      .reduceOption(_ || _).getOrElse(lit(true))
    val exc = exclude.map(g => withRel("rel_path").rlike(globToRegex(g)))
      .reduceOption(_ || _).getOrElse(lit(false))
    withRel.filter(inc && !exc)
  }

  def run(t: GraftTable, dir: String,
      include: Seq[String] = Nil, exclude: Seq[String] = Nil): Result = {
    import graft.expr.functions._
    val jobT0 = System.nanoTime()
    val files = scan(t, dir, include, exclude)
    // The scanned-file count is a listing-only action (count() prunes the
    // content column, so binaryFile never opens file bodies) — it is what
    // makes the skip accounting below real.
    val filesScanned = files.count()
    // Fault tolerance: non-image files (magic-byte check) and corrupt
    // payloads (safe decode -> NULL dims) are SKIPPED, not job failures —
    // one stray README or truncated image in a million-file directory must
    // not abort the ingest. Skipped counts are visible as
    // filesScanned - rows in the Result/metrics.
    val decoded = files
      .filter(detect_fmt(col("content")) =!= "unknown")
      .select(
        sha2(col("rel_path"), 256).as("image_id"),
        col("content").as("bytes"),
        col("rel_path"))
      .withColumn("wh", decode_wh_safe(col("bytes")))
      .filter(col("wh.w").isNotNull)
      .select(
        col("image_id"),
        col("bytes"),
        col("wh.w").as("w"),
        col("wh.h").as("h"),
        detect_fmt(col("bytes")).as("fmt"),
        regexp_replace(col("rel_path"), lit("\\.[^./]+$"), lit("")).as("caption"),
        phash64(col("bytes")).as("phash"))
    val out = t.writeDataFiles(decoded)
    if (out.isEmpty) return Result(None, filesScanned, 0, 0, 0)
    val rows = out.map(_.rowCount).sum
    val snap = t.commit("append", out, Set.empty, Map("ingest-dir" -> dir))
    graft.lineage.Metrics.recordJob(t.root, "ingest", jobT0, Map(
      "dir" -> dir, "files-scanned" -> filesScanned.toString,
      "files-written" -> out.size.toString,
      "skipped" -> (filesScanned - rows).toString,
      "rows" -> rows.toString))
    Result(Some(snap), filesScanned, out.size.toLong, rows,
      out.map(_.fileSizeBytes).sum)
  }
}
