package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.images.ImageGen
import graft.table.GraftTable

/** One SparkSession for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(8).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Shared deterministic fixture: a base image+caption table with a
  * manufactured small-files problem (many tiny files) and near-duplicate
  * phash clusters. Built once per JVM; mutating suites copy it. */
object TestFixtures {
  val workRoot: Path = {
    val p = Paths.get(sys.props("java.io.tmpdir"), s"graft-test-${System.nanoTime()}")
    Files.createDirectories(p)
    sys.addShutdownHook { graft.util.Fs.deleteRecursively(p) }
    p
  }

  val BaseRows = 1200
  val BaseFiles = 96

  lazy val baseTable: GraftTable = {
    val spark = TestSpark.spark
    val root = workRoot.resolve("base-table").toString
    val t = GraftTable.create(root, spark)
    // ~96 deliberately tiny files: the small-files fixture (FIXTURES.md §1).
    GraftTable.append(t, ImageGen.df(spark, BaseRows, seed = 42L, partitions = BaseFiles))
    t
  }

  /** Deep-copy the base table for a suite that mutates it. */
  def freshTable(name: String): GraftTable = {
    baseTable // force init
    val src = workRoot.resolve("base-table")
    val dst = workRoot.resolve(name)
    Files.walk(src).forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else { Files.createDirectories(q.getParent); Files.copy(p, q) }
    }
    GraftTable.load(dst.toString, TestSpark.spark)
  }
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Runs `body` and returns the Spark jobs it started, each as its job
    * description (else its short call site): a marker job run afterwards
    * flushes the listener queue, since listener events arrive
    * asynchronously but in order. */
  def sparkJobsDuring[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val Marker = "jobs-during-marker"
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        jobs.add((prop("spark.jobGroup.id").orNull,
          prop("spark.job.description").orElse(prop("callSite.short")).getOrElse("")))
      }
    }
    sc.addSparkListener(l)
    try {
      val r = body
      sc.setJobGroup(Marker, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      def seen = jobs.asScala.exists(_._1 == Marker)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(seen, "listener never saw the marker job")
      (r, jobs.asScala.toSeq.filterNot(_._1 == Marker).map(_._2))
    } finally sc.removeSparkListener(l)
  }

  /** Deterministic canonical form of a scan result for rowset equality:
    * sorted by image_id, bytes hashed (so comparisons are cheap), all other
    * columns raw. */
  def canon(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions._
    df.select(col("image_id"), sha2(col("bytes"), 256).as("bh"),
        col("w"), col("h"), col("fmt"), col("caption"), col("phash"))
      .collect()
      .map(r => r.mkString("|"))
      .sorted.toSeq
  }

  /** The fixture-replay scan battery (FIXTURES.md §1): run before and after
    * every maintenance job; rowsets must match snapshot-isolated. */
  def replayQueries(t: GraftTable): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions._
    import graft.expr.{functions => gf}
    val s = t.scan()
    val q = t.currentFiles.head.stats("phash")
    Map(
      "point_lookup" -> s.filter(col("image_id") === "img-000000000007"),
      "phash_range" -> s.filter(col("phash") >= -1000000L && col("phash") <= Long.MaxValue / 2),
      "predicate" -> s.filter(col("fmt") === "png" && col("w") >= 64),
      "caption_eq" -> s.filter(col("caption").contains("scrooge")),
      "fmt_counts" -> s.groupBy(col("fmt")).count().withColumn("image_id", col("fmt"))
        .withColumn("bytes", lit(Array.emptyByteArray))
        .withColumn("w", lit(0)).withColumn("h", lit(0))
        .withColumn("caption", col("count").cast("string"))
        .withColumn("phash", lit(0L)).drop("count"),
      "topk_phash" -> s.withColumn("d", gf.hamming(col("phash"), lit(1234567890123L)))
        .orderBy(col("d"), col("image_id")).limit(20).drop("d"))
  }

  def snapshotReplay(t: GraftTable): Map[String, Seq[String]] =
    replayQueries(t).map { case (k, df) => k -> canon(df) }
}
