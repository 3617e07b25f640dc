package graft

import org.apache.spark.sql.SparkSession

import graft.jobs.{Cluster, Compact}
import graft.table.GraftTable

/**
 * spark-submit scaling probe over REAL separate executor JVMs
 * (`--master local-cluster[N,cores,mem]`): the closest in-sandbox analog of
 * the north rule's "N vs 4N executors" criterion. Unlike the thread-mode
 * [[ScalingBench]] it takes the master (and thus executor topology) from
 * spark-submit.
 *
 *   spark-submit --master local-cluster[2,4,8192] --class graft.SubmitBench \
 *     flowragspark.jar <pregen-src-dir> <workdir> <targetMB>
 *
 * Stage (untimed): append the pregenerated fixture parquet into a fresh
 * table; then time compact + cluster. Emits one JSON line.
 */
object SubmitBench {
  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val work = args(1)
    val targetBytes = ((if (args.length > 2) args(2).toDouble else 16.0) * 1024 * 1024).toLong
    val spark = SparkSession.builder()
      .appName("graft-submit-bench")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Engine defaults (see GraftSession): zstd, and no shuffle compression
      // (image payloads are already compressed, so lz4 is wasted CPU).
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.reducer.maxSizeInFlight", "96m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // defaultParallelism is 2 until executors register; for
    // local-cluster[n,c,m] derive n*c from the master URL and wait.
    val master = spark.sparkContext.master
    val cores = "local-cluster\\[(\\d+),(\\d+),\\d+\\]".r
      .findFirstMatchIn(master)
      .map(m => m.group(1).toInt * m.group(2).toInt)
      .getOrElse {
        "local\\[(\\d+)\\]".r.findFirstMatchIn(master)
          .map(_.group(1).toInt)
          .getOrElse(spark.sparkContext.defaultParallelism)
      }
    val deadline = System.currentTimeMillis() + 60000
    while (spark.sparkContext.defaultParallelism < cores &&
           System.currentTimeMillis() < deadline) Thread.sleep(500)
    spark.conf.set("spark.sql.shuffle.partitions", cores.toString)

    val src = spark.read.parquet(srcDir)
    val nFiles = src.inputFiles.length

    // Untimed warm-up: JIT/codegen the read+write+commit paths on EVERY
    // executor before timing (matters most at high executor counts, where
    // each executor otherwise spends a larger fraction of its short run
    // compiling).
    locally {
      val wroot = s"$work/warm-$cores-${System.nanoTime()}"
      val wt = GraftTable.create(wroot, spark)
      // Large enough that EVERY executor runs ~10+ tasks through the full
      // read->decode->encode->write path: the parquet/zstd/codegen hot loop
      // must reach C2-compiled steady state per JVM, or high executor
      // counts (few tasks per JVM) measure interpreter time, not the engine.
      GraftTable.append(wt, src.limit(40000).repartition(cores * 12))
      Compact.run(wt, targetBytes = targetBytes, maxConcurrentBins = cores)
      Cluster.run(wt, curve = "zorder", mode = "global", targetBytes = targetBytes)
    }

    val root = s"$work/tbl-$cores-${System.nanoTime()}"
    val t = GraftTable.create(root, spark)
    GraftTable.append(t, src.repartition(nFiles))
    val bytesIn = t.currentFiles.map(_.fileSizeBytes).sum
    val rows = t.currentFiles.map(_.rowCount).sum

    val c0 = System.nanoTime()
    val cRes = Compact.run(t, targetBytes = targetBytes, maxConcurrentBins = cores)
    val cSec = (System.nanoTime() - c0) / 1e9
    val k0 = System.nanoTime()
    val kRes = Cluster.run(t, curve = "zorder", mode = "global", targetBytes = targetBytes)
    val kSec = (System.nanoTime() - k0) / 1e9

    val tot = cSec + kSec
    println(f"""{"metric":"submit compact+cluster","cores":$cores,"rows":$rows,"bytes_in":$bytesIn,"files_in":$nFiles,"compact_sec":$cSec%.2f,"cluster_sec":$kSec%.2f,"total_sec":$tot%.2f,"images_per_sec":${2.0 * rows / tot}%.1f,"gb_per_sec":${2.0 * bytesIn / 1e9 / tot}%.4f,"compact_files_out":${cRes.filesOut},"cluster_files_out":${kRes.filesOut}}""")
    spark.stop()
  }
}
