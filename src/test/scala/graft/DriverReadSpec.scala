package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import graft.expr.{functions => gf}
import graft.images.ImageGen
import graft.jobs.{BuildIvf, Compact}
import graft.lineage.Metrics
import graft.table._

/** `scanWhere` at or below the driver-read cutoff reads its kept files on
  * the driver: the rows and schema of the distributed read
  * (`readFiles` + the same residual filters), no Spark job, the same
  * missing-file error, and one query event in the table's metrics. */
class DriverReadSpec extends GraftSuite {

  private def table(name: String): GraftTable =
    GraftTable.create(TestFixtures.workRoot.resolve(name).toString, spark)

  private def isDriverRead(df: DataFrame): Boolean = {
    val plan = df.queryExecution.analyzed
    plan.exists {
      case lr: LocalRelation => lr.getTagValue(Metrics.DriverReadTag).isDefined
      case _ => false
    } && !plan.exists(_.isInstanceOf[LogicalRelation])
  }

  /** Rows as sortable strings: binary as bytes, arrays element-wise. */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("[", ",", "]")
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq

  /** The distributed reference: the snapshot's files the stats keep, read
    * through `readFiles`, then the same residual filters. */
  private def reference(t: GraftTable, fs: Seq[PruneFilter],
      snapshotId: Option[Long]): DataFrame = {
    val files = snapshotId.fold(t.planFiles(fs))(id =>
      t.snapshotFiles(t.meta.snapshot(id).get).filter(f => fs.forall(PruneFilter.mayMatch(f, _))))
    fs.foldLeft(t.readFiles(files, t.schema))((d, f) => d.filter(PruneFilter.toColumn(f)))
  }

  /** Asserts driver-read parity and returns the row count. */
  private def parity(t: GraftTable, fs: Seq[PruneFilter],
      snapshotId: Option[Long] = None): Int = {
    val got = t.scanWhere(fs, snapshotId)
    val want = reference(t, fs, snapshotId)
    assert(isDriverRead(got), s"$fs did not read on the driver")
    assert(got.schema == want.schema, s"$fs: ${got.schema} vs ${want.schema}")
    assert(got.schema.forall(_.nullable), s"$fs: ${got.schema}")
    val (g, w) = (rows(got), rows(want))
    assert(g == w, s"$fs: driver ${g.size} rows vs distributed ${w.size}")
    g.size
  }

  test("every prune-filter kind, nulls and all-null strings read as the distributed scan") {
    val t = table("driver-read-kinds")
    GraftTable.append(t, ImageGen.df(spark, 96, seed = 3L, partitions = 6))
    // Some captions null, and one file whose captions are all null (its
    // caption stats carry no bounds).
    GraftTable.append(t, ImageGen.df(spark, 16, seed = 4L, partitions = 1)
      .withColumn("caption", when(col("phash") % 2 === 0, lit(null)).otherwise(col("caption"))))
    GraftTable.append(t, ImageGen.df(spark, 8, seed = 5L, partitions = 1)
      .withColumn("caption", lit(null).cast("string")))
    val all = t.scan().collect()
    val phashes = all.map(_.getAs[Long]("phash")).sorted
    val (lo, hi) = (phashes(phashes.length / 4), phashes(phashes.length / 2))
    val cap = all.flatMap(r => Option(r.getAs[String]("caption"))).sorted
    val mid = cap(cap.length / 2)
    val kinds: Seq[PruneFilter] = Seq(
      EqString("image_id", "img-000000000011"),
      EqLong("phash", phashes(7)),
      InLong("phash", Seq(phashes(3), phashes(40), 12345L)),
      RangeLong("phash", lo, hi),
      RangeString("image_id", "img-000000000010", "img-000000000030"),
      GeString("caption", mid),
      LeString("caption", mid),
      GeLong("w", 64),
      LeLong("h", 48))
    kinds.foreach(f => assert(parity(t, Seq(f)) > 0, s"$f matched nothing"))
    assert(parity(t, Seq(GeLong("w", 0), LeString("caption", mid))) > 0)
    // Empty results: every file pruned, and files kept but no row matching.
    assert(t.planFiles(Seq(EqString("image_id", "zzz"))).isEmpty)
    assert(parity(t, Seq(EqString("image_id", "zzz"))) == 0)
    val absent = phashes.sliding(2).collectFirst {
      case Array(a, b) if a >= lo && b <= hi && b - a > 1 => a + 1
    }.get
    assert(t.planFiles(Seq(EqLong("phash", absent))).nonEmpty)
    assert(parity(t, Seq(EqLong("phash", absent))) == 0)
    // Nulls read back as nulls, from the partly and the all-null files.
    val nulls = t.scanWhere(Seq(GeLong("w", 0))).filter(col("caption").isNull).count()
    assert(nulls == all.count(_.getAs[String]("caption") == null) && nulls >= 8)
  }

  test("a supplementary-plane key reads on the driver (byte-order stats)") {
    val t = table("driver-read-nonbmp")
    val smiley = new String(Character.toChars(0x1F642))
    val ids = Seq("a-1", "a-2", "￾", smiley)
    val w = org.apache.spark.sql.expressions.Window.orderBy("image_id")
    val df = ImageGen.df(spark, 4, seed = 7L, partitions = 1)
      .withColumn("__i", row_number().over(w))
      .withColumn("image_id", element_at(array(ids.map(lit(_)): _*), col("__i")))
      .drop("__i")
    GraftTable.append(t, df.filter(col("image_id").startsWith("a-")), targetFiles = Some(1))
    GraftTable.append(t, df.filter(!col("image_id").startsWith("a-")), targetFiles = Some(1))
    assert(parity(t, Seq(EqString("image_id", smiley))) == 1)
    assert(parity(t, Seq(GeString("image_id", "￾"))) == 2)
  }

  test("a file written before evolveSchema reads the new column as null; time travel reads old snapshots") {
    val t = table("driver-read-evolve")
    GraftTable.append(t, ImageGen.df(spark, 20, seed = 8L, partitions = 2))
    val s1 = t.currentSnapshot.snapshotId
    t.evolveSchema(GraftTable.ImageSchemaDdl + ", license STRING")
    GraftTable.append(t, ImageGen.df(spark, 5, seed = 9L, partitions = 1)
      .withColumn("license", lit("cc-by")))
    val all = Seq(GeLong("w", 0))
    assert(parity(t, all) == 25)
    val got = t.scanWhere(all)
    assert(got.schema("license").nullable)
    assert(got.filter(col("license").isNull).count() == 20)
    assert(got.filter(col("license") === "cc-by").count() == 5)
    // The pinned snapshot holds only the pre-evolution files.
    assert(parity(t, all, Some(s1)) == 20)
    assert(parity(t, Seq(EqString("image_id", "img-000000000003")), Some(s1)) == 1)
  }

  test("IVF probe: the InLong bucket scan reads on the driver; probe results are identical") {
    import spark.implicits._
    val centers = Seq(Array(10.0, 0.0, 0.0, 0.0), Array(0.0, 10.0, 0.0, 0.0),
      Array(0.0, 0.0, 10.0, 0.0))
    val src = (for { c <- centers.indices; j <- 0 until 60 } yield {
      val id = (c * 60 + j + 1).toLong
      (id, centers(c).zipWithIndex.map { case (x, d) =>
        (x + (((id * 31 + d * 17) % 100) - 50) / 100.0).toFloat }.toSeq)
    }).toDF("vec_id", "embedding").repartition(4)
    val r = BuildIvf.run(spark, src, "vec_id", "embedding",
      TestFixtures.workRoot.resolve("driver-read-ivf").toString,
      initIds = Seq(1L, 61L, 121L))
    val t = r.table
    val query = Array(7.0, 7.0, 0.0, 0.0)
    val got = BuildIvf.probe(t, query, nprobe = 2, topK = 200)
    val buckets = got.select("bucket").distinct().collect().map(_.getLong(0)).toSeq
    assert(buckets.size == 2)
    val filters = Seq(InLong("bucket", buckets))
    assert(parity(t, filters) == 120)
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val want = reference(t, filters, None)
      .withColumn("cos", gf.cosine_sim(col("embedding"), query, qNorm))
      .orderBy(col("cos").desc, col("vec_id").asc).limit(200)
      .select(col("vec_id"), col("bucket"), col("cos"))
    assert(got.collect().toSeq == want.collect().toSeq)
  }

  test("a kept file deleted behind a retained snapshot fails scanWhere with FILE_NOT_EXIST") {
    val t = table("driver-read-missing")
    GraftTable.append(t, ImageGen.df(spark, 40, seed = 10L, partitions = 4))
    val pinned = t.currentSnapshot.snapshotId
    Compact.run(t, targetBytes = 4L * 1024 * 1024)
    val victim = t.snapshotFiles(t.meta.snapshot(pinned).get).head
    Files.delete(Paths.get(victim.absPath(t.root)))
    // The read is eager: the error surfaces at scanWhere, not at collect.
    val e = intercept[Exception](t.scanWhere(Seq(GeLong("w", 0)), Some(pinned)))
    val conditions = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collect { case s: SparkThrowable => s.getCondition }.toSeq
    assert(conditions.contains("FAILED_READ_FILE.FILE_NOT_EXIST"), s"got $conditions: $e")
    assert(e.getMessage.contains(victim.path.split('/').last))
    assert(t.scanWhere(Seq(GeLong("w", 0))).count() == 40, "the current snapshot reads intact")
  }

  test("each driver-read collect leaves one query event in its own table's metrics") {
    val a = table("driver-read-metrics-a")
    val b = table("driver-read-metrics-b")
    GraftTable.append(a, ImageGen.df(spark, 12, seed = 11L, partitions = 2))
    GraftTable.append(b, ImageGen.df(spark, 12, seed = 12L, partitions = 2))
    // Appends record write events asynchronously; count collect events.
    def queries(t: GraftTable) =
      Metrics.events(t.root).filter(e => e.kind == "query" && e.name == "collect")
    val (a0, b0) = (queries(a).size, queries(b).size)
    val fa = Seq(GeLong("w", 0))
    val keptA = a.planFiles(fa).map(_.fileSizeBytes).sum
    val (ra1, ra2) = (a.scanWhere(fa).collect(), a.scanWhere(Seq(EqString("image_id",
      "img-000000000002"))).collect())
    val rb = b.scanWhere(Seq(EqString("image_id", "img-000000000005"))).collect()
    assert(ra1.length == 12 && ra2.length == 1 && rb.length == 1)
    // Listener delivery is asynchronous but ordered: once b's event is
    // written, both of a's are too.
    val deadline = System.currentTimeMillis() + 15000
    while (queries(b).size == b0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    val (ea, eb) = (queries(a).drop(a0), queries(b).drop(b0))
    assert(ea.size == 2, s"table a: ${ea.map(_.name)}")
    assert(eb.size == 1, s"table b: ${eb.map(_.name)}")
    assert(ea.map(_.outputRows) == Seq(Some(12L), Some(1L)))
    assert(eb.head.outputRows.contains(1L))
    assert(ea.head.bytesRead.contains(keptA))
  }
}
