package graft.table

import scala.jdk.CollectionConverters._

import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.io.api.Binary

import org.apache.spark.sql.types._

/**
 * Per-file column stats from the footer the writer itself returns — no data
 * scan, no extra Spark job, no footer re-read. This is how writer-side stats
 * reach the manifests in real table formats.
 *
 * Row groups merge through Parquet's own `Statistics.mergeStatistics`, which
 * orders strings in unsigned byte order, as does every downstream comparison
 * ([[Utf8Ord]]) — Parquet's and Spark's own order.
 */
object FooterStats {

  /** parquet-mr keeps no min/max on disk for a chunk whose min and max
    * together reach this many bytes (`ParquetMetadataConverter`); such a
    * column is left unbounded here too, which also keeps long strings out of
    * the manifests. */
  private val MaxStatsBytes = 4096

  /** The metadata of the file at root-relative `path`, from the footer its
    * writer returned (`ParquetWriter.getFooter`, whose stats are exact:
    * parquet-mr truncates only what it writes to disk). Min/max cover the
    * non-binary columns of `schema`. */
  def of(path: String, fileSizeBytes: Long, footer: ParquetMetadata,
      schema: StructType): DataFileMeta = {
    val statCols = schema.fields.filterNot(_.dataType == BinaryType).map(_.name).toSet
    // Per column, its row groups' stats merged; None once ANY row group
    // lacks usable stats: a later group's stats must not re-populate
    // min/max (they would not cover the statless group's rows, and pruning
    // on such bounds silently drops matching rows).
    val merged = scala.collection.mutable.Map[String, Option[Statistics[_]]]()
    for (b <- footer.getBlocks.asScala; c <- b.getColumns.asScala) {
      val name = c.getPath.toDotString
      val st: Statistics[_] = c.getStatistics
      if (statCols.contains(name) && !merged.get(name).contains(None))
        merged(name) =
          if (st == null || st.isEmpty || !st.isSmallerThan(MaxStatsBytes)) None
          else Some(merged.get(name).flatten.fold[Statistics[_]](st.copy()) { m =>
            m.mergeStatistics(st); m
          })
    }
    val stats = statCols.map { c => c -> (merged.get(c).flatten match {
      case Some(s) if s.hasNonNullValue =>
        ColStats(Some(render(s.genericGetMin)), Some(render(s.genericGetMax)), s.getNumNulls)
      case Some(s) => ColStats(None, None, s.getNumNulls)
      case None => ColStats(None, None, 0L)
    })}.toMap
    DataFileMeta(path = path, fileSizeBytes = fileSizeBytes,
      rowCount = footer.getBlocks.asScala.map(_.getRowCount).sum, stats = stats)
  }

  private def render(v: Any): String = v match {
    case b: Binary => b.toStringUsingUTF8
    case other => other.toString
  }
}
