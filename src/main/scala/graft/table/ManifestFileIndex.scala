package graft.table

import java.net.URI
import java.nio.file.Paths

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/**
 * A Spark `FileIndex` over data files a snapshot's manifests already list:
 * planning a table read touches no file system. Paths and sizes come from
 * the manifest entries, so there is no existence check, no directory
 * listing and no listing job (Spark's `InMemoryFileIndex` runs one above 32
 * paths, one task per path) — the Iceberg property that reads plan from
 * metadata, not from storage.
 *
 * A file deleted behind the manifest fails the scan when a task opens it
 * (`FAILED_READ_FILE.FILE_NOT_EXIST`; missing files are never ignored), not
 * at plan time.
 *
 * Paths are qualified the way Spark's reader qualifies a local path
 * (`file:/...`), so `rootPaths`, `inputFiles` and `input_file_name()` keep
 * the strings a path-based read produced. Equality is over the path set, as
 * for `InMemoryFileIndex`, so equal reads still share plans.
 */
final class ManifestFileIndex(root: String, files: Seq[DataFileMeta]) extends FileIndex {
  private val statuses: Seq[FileStatusWithMetadata] = files.map { f =>
    FileStatusWithMetadata(new FileStatus(f.fileSizeBytes, false, 1, 0L, 0L,
      ManifestFileIndex.qualify(f.absPath(root))))
  }
  private lazy val pathSet: Set[Path] = rootPaths.toSet

  override val rootPaths: Seq[Path] = statuses.map(_.getPath)
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statuses))
  override def inputFiles: Array[String] = rootPaths.map(_.toUri.toString).toArray
  override def refresh(): Unit = ()
  override val sizeInBytes: Long = files.map(_.fileSizeBytes).sum
  override def partitionSchema: StructType = new StructType()

  override def equals(other: Any): Boolean = other match {
    case m: ManifestFileIndex => pathSet == m.pathSet
    case _ => false
  }
  override def hashCode(): Int = pathSet.hashCode()
}

object ManifestFileIndex {
  private val LocalFs = URI.create("file:///")

  /** `p` made absolute and qualified against the local file system, with no
    * file-system call: the same `file:/...` path `DataSource` derives. */
  private[table] def qualify(p: String): Path =
    new Path(Paths.get(p).toAbsolutePath.toString).makeQualified(LocalFs, null)
}
