package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** Canonical SparkSession config for the engine: AQE with skew-join
  * splitting (north rule O9 backstop), shuffle partitions sized to cores
  * (not the 200 default), UTC for oracle parity.
  *
  * `shuffleCompress`: the ENGINE default is false — table-maintenance
  * shuffles move the pre-compressed image `bytes` column, where lz4 is pure
  * CPU loss (measured -40% cluster-phase at 4x2-core executors). The QUERY
  * surface (Bench/Verify over the driver's text-heavy parquet) passes true:
  * its shuffles are compressible strings/aggregates, and the engine-wide
  * false default was the prime suspect for round 3's unexplained 2.8x
  * q18_minhash_bands regression. */
object GraftSession {
  /** The configured master, if any: spark-submit passes `--master` to the
    * driver as the system property `spark.master`, which a builder option
    * would override. Without one, sessions are `local[cores]`. */
  def configuredMaster: Option[String] = new SparkConf().getOption("spark.master")

  private val Local = """local(?:\[\s*(\d+|\*)\s*(?:,\s*\d+\s*)?\])?""".r
  private val LocalCluster = """local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*\d+\s*\]""".r

  /** The cores a master runs tasks on: 1 for `local`, n for `local[n]` or
    * `local[n,f]` (the machine's for `*`), n*c for `local-cluster[n,c,m]`. */
  def masterCores(master: String): Int = master match {
    case Local(null) => 1
    case Local("*") => Runtime.getRuntime.availableProcessors()
    case Local(n) => n.toInt
    case LocalCluster(n, c) => n.toInt * c.toInt
    case _ => sys.error(s"no core count in master $master: use local[n] or local-cluster[n,c,m]")
  }

  /** The cores of the configured master, else `unconfigured`. */
  def cores(unconfigured: => Int): Int = configuredMaster.fold(unconfigured)(masterCores)

  def builder(cores: Int, shuffleCompress: Boolean = false): SparkSession.Builder =
    SparkSession.builder()
      .master(configuredMaster.getOrElse(s"local[$cores]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Spark 4's partitioning-aware union zips same-partitioned children
      // (SQLPartitioningAwareUnionRDD); compaction waves rely on Union
      // CONCATENATING its per-bin coalesce(1) children into one partition
      // per bin, so keep the legacy concatenating behavior.
      .config("spark.sql.unionOutputPartitioning", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.shuffle.compress", shuffleCompress.toString)
      .config("spark.shuffle.spill.compress", shuffleCompress.toString)
      .config("spark.reducer.maxSizeInFlight", "96m")
      .config("spark.ui.enabled", "false")

  def get(cores: Int = Runtime.getRuntime.availableProcessors(),
      shuffleCompress: Boolean = false): SparkSession = {
    val s = builder(cores, shuffleCompress).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
