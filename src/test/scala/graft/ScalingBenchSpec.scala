package graft

import java.nio.file.Paths

import graft.images.ImageGen

/** `ScalingBench`'s images staging: the same fixture stages to the same
  * table files, however the fixture's read is split. */
class ScalingBenchSpec extends GraftSuite {

  test("two stagings under different read split sizes write equal files") {
    val work = TestFixtures.workRoot.resolve("scaling-stage")
    val src = work.resolve("src").toString
    ImageGen.df(spark, 400, seed = 5L, partitions = 8).write.parquet(src)
    def staged(name: String, maxPartitionBytes: Option[String]): Seq[(String, Long)] = {
      maxPartitionBytes.foreach(spark.conf.set("spark.sql.files.maxPartitionBytes", _))
      val t = try ScalingBench.stage(spark, src, work.resolve(name).toString)
        finally spark.conf.unset("spark.sql.files.maxPartitionBytes")
      // Part index (the file name up to its attempt-unique suffix) -> size.
      t.currentFiles.map(f => Paths.get(f.path).getFileName.toString.take(10) -> f.fileSizeBytes)
        .sorted
    }
    val (a, b) = (staged("a", None), staged("b", Some("4096")))
    assert(a.size > 1 && a.map(_._2).sum > 0)
    assert(a == b)
  }
}
