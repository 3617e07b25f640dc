package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.input_file_name

import graft.jobs.Compact
import graft.table.{EqLong, EqString, GraftTable}

/** Table reads plan from manifest entries (`graft.table.ManifestFileIndex`):
  * no path listing or existence check at plan time, the same path strings a
  * path-based Parquet read reports, and a missing file fails the scan. */
class ManifestReadSpec extends GraftSuite {

  test("a point lookup over more than 32 files starts exactly one Spark job") {
    val t = TestFixtures.baseTable
    // A phash value some row holds; phash is spread over every file, so the
    // lookup keeps more files than Spark's serial path-listing limit (32)
    // and than the driver-read cutoff, so the read is distributed.
    val key = t.currentFiles.head.stats("phash").min.get.toLong
    val filters = Seq(EqLong("phash", key))
    assert(t.planFiles(filters).size > math.max(32, GraftTable.DriverReadMaxFiles))
    val (rows, jobs) = sparkJobsDuring(t.scanWhere(filters).collect())
    assert(rows.nonEmpty && rows.forall(_.getAs[Long]("phash") == key))
    assert(jobs.size == 1, s"expected one Spark job, got: $jobs")
  }

  test("a point lookup at or below the driver-read cutoff starts no Spark job") {
    val t = TestFixtures.baseTable
    val filters = Seq(EqString("image_id", "img-000000000007"))
    val kept = t.planFiles(filters)
    assert(kept.nonEmpty && kept.size <= GraftTable.DriverReadMaxFiles &&
      kept.map(_.fileSizeBytes).sum <= GraftTable.DriverReadMaxBytes)
    val (rows, jobs) = sparkJobsDuring(t.scanWhere(filters).collect())
    assert(rows.map(_.getAs[String]("image_id")).toSeq == Seq("img-000000000007"))
    assert(jobs.isEmpty, s"expected no Spark job, got: $jobs")
  }

  test("a data file deleted behind a retained snapshot fails that snapshot's scan") {
    val t = TestFixtures.freshTable("manifest-read-missing")
    val pinned = t.currentSnapshot.snapshotId
    Compact.run(t, targetBytes = 4L * 1024 * 1024)
    val victim = t.snapshotFiles(t.meta.snapshot(pinned).get).head
    Files.delete(Paths.get(victim.absPath(t.root)))
    // Planning opens no data file; the read fails, never returns short.
    val df = t.scan(Some(pinned))
    val e = intercept[Exception](df.collect())
    val conditions = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collect { case s: SparkThrowable => s.getCondition }.toSeq
    assert(conditions.contains("FAILED_READ_FILE.FILE_NOT_EXIST"), s"got $conditions: $e")
    assert(t.scan().count() == TestFixtures.BaseRows, "the current snapshot reads intact")
  }

  test("rootPaths, inputFiles and input_file_name() are the strings a path-based read reports") {
    // A space in the root exercises path qualification and URI encoding.
    val t = TestFixtures.freshTable("manifest read paths")
    val byPath = spark.read.schema(t.schema)
      .parquet(t.currentFiles.map(_.absPath(t.root)): _*)
    def names(df: DataFrame): Seq[String] =
      df.select(input_file_name()).distinct().collect().map(_.getString(0)).sorted.toSeq
    def rootPaths(df: DataFrame): Seq[String] = df.queryExecution.analyzed.collect {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location.rootPaths.map(_.toString)
    }.flatten.sorted
    assert(rootPaths(t.scan()) == rootPaths(byPath))
    assert(t.scan().inputFiles.sorted.toSeq == byPath.inputFiles.sorted.toSeq)
    assert(t.scan().inputFiles.forall(_.startsWith("file:/")))
    assert(names(t.scan()) == names(byPath))
    assert(names(t.scan()).size == t.currentFiles.size)
  }

  test("reads of one file set are equal plans; the index sizes the read from the manifest") {
    val t = TestFixtures.baseTable
    val a = t.scan().queryExecution.analyzed
    assert(a.sameResult(t.scan().queryExecution.analyzed), "equal path sets must share plans")
    assert(!a.sameResult(t.scanWhere(Seq(EqLong("phash", 0L))).queryExecution.analyzed))
    val index = a.collectFirst {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location
    }.get
    assert(index.sizeInBytes == t.currentFiles.map(_.fileSizeBytes).sum)
    assert(index.partitionSchema.isEmpty)
  }
}
