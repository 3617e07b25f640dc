package graft

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** `GraftSession.builder`: a configured `spark.master` wins over
  * `local[cores]`. */
class GraftSessionSpec extends GraftSuite {

  // The builder's options are readable only inside Spark's own packages.
  private def master(b: SparkSession.Builder): String =
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[mutable.HashMap[String, String]]("spark.master")

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
}
