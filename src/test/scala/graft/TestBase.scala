package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.images.ImageGen
import graft.table.{ColStats, DataFileMeta, GraftTable}

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

  /** Per-file stats of `files` in one distributed pass: the reference the
    * footer stats are tested against. Reads only the non-binary columns,
    * grouped by `input_file_name`. Zero-row files yield no entry. */
  def collectStats(t: GraftTable, files: Seq[DataFileMeta]): Seq[DataFileMeta] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{BinaryType, StringType}
    val sch = t.schema
    val statCols = sch.fields.filterNot(_.dataType == BinaryType).map(_.name)
    val aggs = statCols.flatMap { c =>
      Seq(min(col(c)).cast(StringType).as(s"min_$c"),
          max(col(c)).cast(StringType).as(s"max_$c"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    }
    val rows = t.readFiles(files, sch)
      .groupBy(input_file_name().as("__file"))
      .agg(count(lit(1)).as("__rows"), aggs.toIndexedSeq: _*)
      .collect()
    val root = Paths.get(t.root).toAbsolutePath
    rows.toSeq.map { r =>
      val uri = r.getAs[String]("__file") // a URI on the local file system
      val p = Paths.get(java.net.URI.create(if (uri.startsWith("file:")) uri else s"file:$uri"))
      val stats = statCols.map { c =>
        c -> ColStats(Option(r.getAs[String](s"min_$c")),
                      Option(r.getAs[String](s"max_$c")),
                      r.getAs[Long](s"nulls_$c"))
      }.toMap
      DataFileMeta(root.relativize(p).toString, Files.size(p), r.getAs[Long]("__rows"), stats)
    }.sortBy(_.path)
  }

  /** What the footer stats and [[collectStats]] both describe: path, size,
    * row count and column stats (not the sketch). */
  def footerFields(fs: Seq[DataFileMeta]): Seq[(String, Long, Long, Map[String, ColStats])] =
    fs.map(f => (f.path, f.fileSizeBytes, f.rowCount, f.stats)).sortBy(_._1)
}
