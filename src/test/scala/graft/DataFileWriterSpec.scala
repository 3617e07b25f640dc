package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.parquet.ParquetReadOptions
import org.apache.parquet.conf.PlainParquetConfiguration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.{CompressionCodecName, ParquetMetadata}
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.sql.functions._

import graft.images.ImageGen
import graft.jobs.ExpireSnapshots
import graft.lineage.Metrics
import graft.table.GraftTable
import graft.util.Fs

/** `GraftTable.writeDataFiles`: each task writes its final Parquet file
  * directly, as Spark's own Parquet write would encode it, and nothing else. */
class DataFileWriterSpec extends GraftSuite {

  private def footer(path: String): ParquetMetadata = {
    val r = ParquetFileReader.open(new LocalInputFile(Paths.get(path)),
      ParquetReadOptions.builder(new PlainParquetConfiguration()).build())
    try r.getFooter finally r.close()
  }

  private def parquetUnder(root: String): Set[String] = {
    val dir = Paths.get(root, "data")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
    finally walk.close()
  }

  test("a written file matches Spark's own Parquet write: schema, ZSTD chunks, row metadata") {
    val t = GraftTable.create(TestFixtures.workRoot.resolve("writer-parity").toString, spark)
    val df = ImageGen.df(spark, 30, seed = 7L, partitions = 1)
    val Seq(f) = t.writeDataFiles(df)
    val ref = TestFixtures.workRoot.resolve("writer-parity-ref").toString
    df.write.parquet(ref)
    val Seq(refFile) = Fs.listParquet(ref)
    val (ours, theirs) = (footer(s"${t.root}/${f.path}"), footer(refFile))
    assert(ours.getFileMetaData.getSchema == theirs.getFileMetaData.getSchema)
    for (m <- Seq(ours, theirs); b <- m.getBlocks.asScala; c <- b.getColumns.asScala)
      assert(c.getCodec == CompressionCodecName.ZSTD, s"${c.getPath}: ${c.getCodec}")
    val key = "org.apache.spark.sql.parquet.row.metadata"
    val meta = ours.getFileMetaData.getKeyValueMetaData.asScala
    assert(meta.get(key).exists(_.nonEmpty))
    assert(meta.get(key) == theirs.getFileMetaData.getKeyValueMetaData.asScala.get(key))
  }

  test("a three-row write leaves one parquet file and no marker, staging or checksum file") {
    val t = GraftTable.create(TestFixtures.workRoot.resolve("writer-markers").toString, spark)
    val Seq(f) = t.writeDataFiles(ImageGen.df(spark, 3, seed = 3L, partitions = 1))
    val Seq(dir) = Fs.list(Paths.get(t.root, "data"))
    val names = Fs.list(dir).map(_.getFileName.toString)
    assert(names == Seq(Paths.get(f.path).getFileName.toString),
      s"commit directory holds $names")
    assert(!names.exists(n => n == "_SUCCESS" || n == "_temporary" || n.endsWith(".crc")))
  }

  test("an append of generated rows leaves one writeDataFiles query event, in its own table only") {
    val a = GraftTable.create(TestFixtures.workRoot.resolve("writer-event-a").toString, spark)
    val b = GraftTable.create(TestFixtures.workRoot.resolve("writer-event-b").toString, spark)
    // The helper's marker job flushes the listener queue after the append.
    sparkJobsDuring(GraftTable.append(a, ImageGen.df(spark, 6, seed = 6L, partitions = 2)))
    def writes(t: GraftTable) =
      Metrics.events(t.root).filter(e => e.kind == "query" && e.name == "writeDataFiles")
    assert(writes(a).size == 1, s"table a: ${Metrics.events(a.root).map(_.name)}")
    assert(writes(b).isEmpty)
  }

  test("parquet.block.size splits a file into row groups whose stats merge like the distributed pass") {
    val t = GraftTable.create(TestFixtures.workRoot.resolve("writer-row-groups").toString, spark)
    val df = ImageGen.df(spark, 1000, seed = 11L, partitions = 1)
      .withColumn("caption", when(col("w") === 64, lit(null)).otherwise(col("caption")))
    spark.conf.set("parquet.block.size", "4096")
    val Seq(f) = try t.writeDataFiles(df) finally spark.conf.unset("parquet.block.size")
    assert(footer(s"${t.root}/${f.path}").getBlocks.size > 1)
    assert(f.stats("caption").nullCount > 0)
    assert(Seq(f) == t.collectStats(Seq(f)))
  }

  test("a write whose last task fails throws, commits nothing and leaves only sweepable files") {
    val t = TestFixtures.freshTable("writer-killed")
    val before = t.currentSnapshot.snapshotId
    val rowsBefore = canon(t.scan())
    val filesBefore = parquetUnder(t.root)
    // The last partition fails after the others have finished their files.
    val failLast = udf { (p: Int, w: Int) =>
      if (p == 3) { Thread.sleep(1500); throw new IllegalStateException("killed write") }
      w
    }
    val df = ImageGen.df(spark, 40, seed = 9L, partitions = 4)
      .withColumn("w", failLast(spark_partition_id(), col("w")))
    intercept[Exception](t.writeDataFiles(df))
    assert(t.currentSnapshot.snapshotId == before)
    assert(canon(t.scan()) == rowsBefore)
    val left = parquetUnder(t.root) -- filesBefore
    assert(left.size == 3, s"the three finished tasks' files: $left")
    val referenced = t.meta.snapshots.flatMap(t.snapshotFiles)
      .map(m => Paths.get(t.root, m.path).toString).toSet
    assert(left.intersect(referenced).isEmpty)
    val res = ExpireSnapshots.run(t, retain = Seq(before), orphanMinAgeMs = 0L)
    assert(res.orphansSwept == left.size)
    assert((parquetUnder(t.root) -- filesBefore).isEmpty)
    assert(canon(t.scan()) == rowsBefore)
  }
}
