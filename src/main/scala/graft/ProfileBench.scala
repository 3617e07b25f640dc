package graft

import org.apache.spark.sql.SparkSession

import graft.jobs.{Cluster, Compact}
import graft.lineage.Metrics
import graft.table.GraftTable

/**
 * Fixed-cost profiler for the scaling protocol: one staged trial (same body
 * as [[ScalingBench]]) at a chosen parallelism, followed by a dump of the
 * job-level metrics rows — the breakdown of where the non-scaling driver
 * seconds go (wave exec and write vs commit vs lineage).
 *
 *   sbt "runMain graft.ProfileBench <srcDir> <workDir> <cpus> [targetMB]"
 */
object ProfileBench {
  def main(args: Array[String]): Unit = {
    val srcDir = args(0)
    val work = args(1)
    val cpus = args(2).toInt
    val targetBytes = ((if (args.length > 3) args(3).toDouble else 16.0) * 1024 * 1024).toLong
    val waveSize = if (args.length > 4) args(4).toInt else 0
    System.setProperty("spark.local.dir", s"$work/spark-local")
    val spark = GraftSession.get(cpus)

    // Warm-up (untimed), same shape as ScalingBench.
    locally {
      val wt = GraftTable.create(s"$work/prof-warm-$cpus-${System.nanoTime()}", spark)
      GraftTable.append(wt, spark.read.schema(wt.schema).parquet(srcDir)
        .limit(2000).repartition(16))
      Compact.run(wt, targetBytes = targetBytes, maxConcurrentBins = cpus)
      Cluster.run(wt, curve = "zorder", mode = "global", targetBytes = targetBytes)
    }

    val root = s"$work/prof-tbl-$cpus-${System.nanoTime()}"
    val t = GraftTable.create(root, spark)
    val src = spark.read.schema(t.schema).parquet(srcDir)
    GraftTable.append(t, src.repartition(src.inputFiles.length))
    val m0 = Metrics.events(root).size

    val c0 = System.nanoTime()
    Compact.run(t, targetBytes = targetBytes, maxConcurrentBins = cpus,
      waveSize = waveSize)
    val cSec = (System.nanoTime() - c0) / 1e9
    val k0 = System.nanoTime()
    Cluster.run(t, curve = "zorder", mode = "global", targetBytes = targetBytes)
    val kSec = (System.nanoTime() - k0) / 1e9

    println(f"PROFILE cpus=$cpus compact=$cSec%.2f cluster=$kSec%.2f root=$root")
    Metrics.events(root).drop(m0).filter(_.kind == "job").foreach { e =>
      println(s"  job=${e.name} ms=${e.durationMs} ${e.detail.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    }
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }
}
