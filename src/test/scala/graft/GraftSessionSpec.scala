package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `GraftSession.builder`: a configured `spark.master` wins over
  * `local[cores]`, and sets the cores the session is sized for. */
class GraftSessionSpec extends GraftSuite {

  // The builder's options are readable only inside Spark's own packages.
  private def option(b: SparkSession.Builder, key: String): String =
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[mutable.HashMap[String, String]](key)
  private def master(b: SparkSession.Builder): String = option(b, "spark.master")

  test("with no spark.master configured the session is local[cores]") {
    // sbt run and test JVMs (build.sbt javaOptions) and perfbench configure
    // none, so their sessions stay local[cores].
    assert(GraftSession.configuredMaster.isEmpty)
    assert(spark.sparkContext.master == "local[8]")
    assert(master(GraftSession.builder(3)) == "local[3]")
  }

  test("a configured spark.master is kept") {
    // spark-submit passes --master to the driver as this system property.
    System.setProperty("spark.master", "local-cluster[2,1,1024]")
    try {
      assert(GraftSession.configuredMaster.contains("local-cluster[2,1,1024]"))
      assert(master(GraftSession.builder(3)) == "local-cluster[2,1,1024]")
    } finally System.clearProperty("spark.master")
  }

  test("a submitted master sets the cores, so local[2] gives two shuffle partitions") {
    assert(GraftSession.cores(5) == 5, "no master configured: the fallback")
    System.setProperty("spark.master", "local[2]")
    try {
      // graft.Main's session: the fallback (SPARK_GRAFT_CPUS, then 8) is unused.
      val b = GraftSession.builder(GraftSession.cores(8))
      assert(master(b) == "local[2]")
      assert(option(b, "spark.sql.shuffle.partitions") == "2")
    } finally System.clearProperty("spark.master")
    assert(GraftSession.masterCores("local-cluster[2,3,1024]") == 6)
    assert(GraftSession.masterCores("local") == 1)
    assert(GraftSession.masterCores("local[4, 2]") == 4)
    assert(GraftSession.masterCores("local[*]") == Runtime.getRuntime.availableProcessors())
    intercept[RuntimeException](GraftSession.masterCores("spark://host:7077"))
  }
}
