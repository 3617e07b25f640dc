package graft

import org.apache.spark.sql.functions._

import graft.expr.{functions => gf}
import graft.jobs.BuildIvf
import graft.operators.KMeans

/** IVF index build + probe over a bucket-partitioned graft table: inverted
  * lists as partition values, centroids in table properties, probes as
  * manifest-pruned scans. */
class IvfIndexSpec extends GraftSuite {

  /** Same planted-cluster construction as KMeansSpec: 3 separated centers
    * in 4-d, 60 points each, deterministic pseudo-noise. */
  private def fixture(parts: Int) = {
    import spark.implicits._
    val centers = Seq(
      Array(10.0, 0.0, 0.0, 0.0),
      Array(0.0, 10.0, 0.0, 0.0),
      Array(0.0, 0.0, 10.0, 0.0))
    val rows = for { c <- centers.indices; j <- 0 until 60 } yield {
      val id = (c * 60 + j + 1).toLong
      val v = centers(c).zipWithIndex.map { case (x, dim) =>
        (x + (((id * 31 + dim * 17) % 100) - 50) / 100.0).toFloat }
      (id, v.toSeq)
    }
    rows.toDF("vec_id", "embedding").repartition(parts)
  }

  test("build: bucket-pure files, valued manifests, pruned probes, centroid roundtrip") {
    val root = TestFixtures.workRoot.resolve("ivf-idx").toString
    val df = fixture(4)
    val r = BuildIvf.run(spark, df, "vec_id", "embedding", root,
      initIds = Seq(1L, 61L, 121L))
    assert(r.k == 3 && r.rows == 180)
    val t = r.table
    val snap = t.currentSnapshot
    val valued = snap.manifests.flatMap(snap.partitionOfManifest)
    assert(valued.size == snap.manifests.size,
      s"every manifest carries its bucket value: $valued")
    assert(valued.toSet.size == 3, s"three inverted lists: $valued")
    // Every data FILE holds exactly one bucket (the partition-pure routing).
    t.currentFiles.foreach { f =>
      val st = f.stats("bucket")
      assert(st.min.isDefined && st.min == st.max, s"mixed-bucket file: $f")
    }
    // A probe's scan opens only its bucket's files.
    val cid = BuildIvf.centroidsOf(t).head._1
    val probed = t.planFiles(Seq(graft.table.EqLong("bucket", cid)))
    assert(probed.nonEmpty && probed.size < t.currentFiles.size,
      s"bucket probe must prune files: ${probed.size}/${t.currentFiles.size}")
    // Self-describing index: property centroids == a direct deterministic fit.
    val fit = KMeans.fit(df, "embedding", "vec_id", Seq(1L, 61L, 121L), iters = 3)
    assert(BuildIvf.centroidsOf(t).map { case (c, v) => (c, v.toSeq) } ==
      fit.centroids.map { case (c, v) => (c, v.toSeq) })
    // Rows survive the routing exchange intact.
    assert(t.scan().count() == 180)
    assert(t.scan().select("vec_id").distinct().count() == 180)
  }

  test("salted sub-bucket routing: oversized buckets split into multiple " +
      "bucket-pure files written in parallel; probes open only their bucket") {
    val root = TestFixtures.workRoot.resolve("ivf-salted").toString
    val df = fixture(4)
    // dims=4 -> estimated ~36 B/row; 60 rows/bucket ~ 2.2 KB >> 1 KB target
    // -> m = 3 sub-buckets per bucket.
    val r = BuildIvf.run(spark, df, "vec_id", "embedding", root,
      initIds = Seq(1L, 61L, 121L), targetBytes = 1024)
    val t = r.table
    assert(r.rows == 180 && r.k == 3)
    // Each inverted list split across >1 file; every file still pure.
    val byBucket = t.currentFiles.groupBy(_.stats("bucket").min.get)
    assert(byBucket.size == 3)
    byBucket.foreach { case (b, fs) =>
      assert(fs.size > 1, s"bucket $b should split into sub-bucket files: ${fs.size}")
    }
    t.currentFiles.foreach { f =>
      val st = f.stats("bucket")
      assert(st.min.isDefined && st.min == st.max, s"mixed-bucket file: $f")
    }
    // Manifests stay valued; a probe opens exactly its bucket's files.
    val snap = t.currentSnapshot
    assert(snap.manifests.flatMap(snap.partitionOfManifest).size == snap.manifests.size)
    val cid = BuildIvf.centroidsOf(t).head._1
    val probed = t.planFiles(Seq(graft.table.EqLong("bucket", cid)))
    assert(probed.size == byBucket(cid.toString).size && probed.size < t.currentFiles.size,
      s"probe must open only its sub-bucket files: ${probed.size}/${t.currentFiles.size}")
    // Probe results identical to the unsalted layout's (routing never
    // changes semantics): nprobe=1 equals brute force on the fixture.
    assert(t.scan().count() == 180)
    val got = BuildIvf.probe(t, Array(10.0, 0.0, 0.0, 0.0), nprobe = 1, topK = 5)
      .collect()
    assert(got.length == 5 && got.map(_.getLong(1)).distinct.length == 1)
    // Re-running against a COMPLETED index with different build parameters
    // must refuse (a different jobId would otherwise append every vector a
    // second time); probes with the wrong dimensionality fail cleanly too.
    val e1 = intercept[IllegalArgumentException] {
      BuildIvf.run(spark, df, "vec_id", "embedding", root,
        initIds = Seq(1L, 61L, 121L), targetBytes = 2048)
    }
    assert(e1.getMessage.contains("different parameters"), e1.getMessage)
    assert(t.scan().count() == 180, "refused re-run must not change the table")
    val e2 = intercept[IllegalArgumentException] {
      BuildIvf.probe(t, Array(10.0, 0.0), nprobe = 1, topK = 5)
    }
    assert(e2.getMessage.contains("dims"), e2.getMessage)
  }

  test("kill mid-build resumes from the persisted fit without retraining") {
    import scala.jdk.CollectionConverters._
    val root = TestFixtures.workRoot.resolve("ivf-resume").toString
    val df = fixture(4)
    def build(fail: Option[Int]) = BuildIvf.run(spark, df, "vec_id",
      "embedding", root, initIds = Seq(1L, 61L, 121L), failAfterUnits = fail)
    intercept[RuntimeException] { build(fail = Some(0)) }
    // The kill left the persisted fit, no committed unit, and NO published
    // snapshot (readers never see a partial index).
    val jdir = java.nio.file.Files.list(java.nio.file.Paths.get(root, "lineage"))
      .iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString != "_metrics").toList match {
      case one :: Nil => one
      case other => fail(s"expected one lineage job dir, got $other")
    }
    assert(java.nio.file.Files.exists(jdir.resolve("centroids.txt")),
      "trained centroids persisted before the routed write ran")
    val jid = jdir.getFileName.toString
    assert(graft.lineage.Lineage.committedUnits(root, jid).isEmpty)
    assert(graft.table.MetaIO.load(root).get._2.currentSnapshotId.isEmpty,
      "no snapshot published by the killed build")
    // Resume: writes the unit and does NOT retrain (exactly one kmeans-fit
    // metrics row ever).
    val r = build(fail = None)
    assert(r.rows == 180 && r.k == 3 && r.table.currentSnapshot.operation == "append")
    val fits = graft.lineage.Metrics.events(root)
      .count(e => e.kind == "job" && e.name == "kmeans-fit")
    assert(fits == 1, s"resume must not retrain: $fits fit runs recorded")
    assert(graft.lineage.Lineage.committedUnits(root, jid).keySet == Set(0))
    // The resumed index is correct end-to-end.
    val got = BuildIvf.probe(r.table, Array(0.0, 10.0, 0.0, 0.0), nprobe = 1,
      topK = 60).collect()
    assert(got.map(_.getLong(0)).toSet == (61L to 120L).toSet)
    // Idempotent re-run: the COMMITTED marker short-circuits to the same
    // snapshot (no duplicate append).
    val r2 = build(fail = None)
    assert(r2.table.currentSnapshot.snapshotId == r.table.currentSnapshot.snapshotId)
    assert(r2.rows == 180 && r2.files == r.files)
  }

  test("runFiles: file-group units resume after a kill reading only their own files (no retrain, no amplification)") {
    import scala.jdk.CollectionConverters._
    val work = TestFixtures.workRoot.resolve("ivf-files")
    val srcDir = work.resolve("src").toString
    fixture(6).write.parquet(srcDir)
    val files = graft.util.Fs.listParquet(srcDir)
    assert(files.size >= 4, s"need several source files: ${files.size}")
    val root = work.resolve("idx").toString
    // Tiny capacity (k=3 x 1 KB) so every source file lands in its own unit.
    // Kill run uses a SEQUENTIAL pool so exactly one unit commits before
    // the injected failure (a concurrent pool's shutdownNow may interrupt
    // the in-flight unit — correct behavior, but nondeterministic here);
    // the resume pools units (concurrency is not part of the job id).
    def build(fail: Option[Int], mc: Int) = BuildIvf.runFiles(spark, files,
      "vec_id", "embedding", root, initIds = Seq(1L, 61L, 121L),
      targetBytes = 1024, maxConcurrentUnits = mc, failAfterUnits = fail)
    intercept[RuntimeException] { build(fail = Some(1), mc = 1) }
    val jdir = java.nio.file.Files.list(java.nio.file.Paths.get(root, "lineage"))
      .iterator().asScala
      .filter(p => java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString != "_metrics").toList match {
      case one :: Nil => one
      case other => fail(s"expected one lineage job dir, got $other")
    }
    val jid = jdir.getFileName.toString
    val unitsAfterKill = graft.lineage.Lineage.committedUnits(root, jid)
    assert(unitsAfterKill.nonEmpty && unitsAfterKill.size < files.size,
      s"kill left a partial unit set: ${unitsAfterKill.size}/${files.size}")
    // Each unit's lineage records exactly ITS OWN input files — the zero-
    // amplification contract (a wave-based unit would record none).
    unitsAfterKill.values.foreach { u =>
      assert(u.filesIn.nonEmpty && u.filesIn.toSet.subsetOf(files.toSet), u.toString)
    }
    val r = build(fail = None, mc = 2)
    assert(r.rows == 180 && r.k == 3)
    assert(graft.lineage.Metrics.events(root)
      .count(e => e.kind == "job" && e.name == "kmeans-fit") == 1,
      "resume must not retrain")
    val units = graft.lineage.Lineage.committedUnits(root, jid)
    assert(units.values.flatMap(_.filesIn).toSeq.sorted == files.sorted,
      "every input file covered by exactly one unit")
    val current = r.table.currentFiles.map(_.path).toSet
    assert(unitsAfterKill.values.flatMap(_.filesOut.map(_.path)).toSet.subsetOf(current),
      "outputs of units finished before the kill are reused, not rewritten")
    // Bucket purity + valued manifests survive the file-group shape.
    r.table.currentFiles.foreach { f =>
      val st = f.stats("bucket")
      assert(st.min.isDefined && st.min == st.max, s"mixed-bucket file: $f")
    }
    val snap = r.table.currentSnapshot
    assert(snap.manifests.flatMap(snap.partitionOfManifest).size == snap.manifests.size)
    assert(r.table.scan().select("vec_id").distinct().count() == 180)
    // Probe correctness on the file-built index.
    val got = BuildIvf.probe(r.table, Array(0.0, 0.0, 10.0, 0.0), nprobe = 1,
      topK = 60).collect()
    assert(got.map(_.getLong(0)).toSet == (121L to 180L).toSet)
    // Idempotent re-run.
    val r2 = build(fail = None, mc = 2)
    assert(r2.table.currentSnapshot.snapshotId == r.table.currentSnapshot.snapshotId)
  }

  test("probe: nprobe=1 on the separated fixture equals brute-force top-k") {
    val root = TestFixtures.workRoot.resolve("ivf-probe").toString
    val df = fixture(4)
    val r = BuildIvf.run(spark, df, "vec_id", "embedding", root,
      initIds = Seq(1L, 61L, 121L))
    val query = Array(10.0, 0.0, 0.0, 0.0) // planted center of cluster 1
    val got = BuildIvf.probe(r.table, query, nprobe = 1, topK = 5).collect()
    assert(got.length == 5)
    assert(got.map(_.getLong(1)).distinct.toSeq.length == 1,
      "nprobe=1 results come from a single inverted list")
    // Brute force over the raw fixture (driver-side, same fold order).
    val qn = math.sqrt(query.map(x => x * x).sum)
    val bf = df.collect().map { row =>
      val id = row.getLong(0)
      val v = row.getSeq[Float](1).map(_.toDouble)
      val dot = v.zip(query).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
      val nrm = math.sqrt(v.foldLeft(0.0)((a, x) => a + x * x))
      (id, dot / (nrm * qn))
    }.sortBy { case (id, cos) => (-cos, id) }.take(5).map(_._1).toSeq
    assert(got.map(_.getLong(0)).toSeq == bf,
      s"pruned probe must equal brute force on a separated fixture: " +
        s"${got.map(_.getLong(0)).toSeq} vs $bf")

    // nprobe >= k degrades to a full scan (no over-read, no failure), and
    // a between-clusters query with nprobe=2 reads exactly two lists.
    val full = BuildIvf.probe(r.table, query, nprobe = 99, topK = 200).collect()
    assert(full.length == 180, "nprobe >= k scans every list exactly once")
    val two = BuildIvf.probe(r.table, Array(7.0, 7.0, 0.0, 0.0), nprobe = 2,
      topK = 200).collect()
    assert(two.map(_.getLong(1)).distinct.length == 2)
    assert(two.length == 120, "two inverted lists = 120 of 180 vectors")
  }

  test("probe: multi-bucket probe is ONE InLong-pruned scan, not a per-bucket union") {
    val root = TestFixtures.workRoot.resolve("ivf-probe-inlong").toString
    val df = fixture(4)
    val r = BuildIvf.run(spark, df, "vec_id", "embedding", root,
      initIds = Seq(1L, 61L, 121L))
    val t = r.table
    // File-level: the membership filter plans exactly the union of the
    // per-bucket plans (same pruning, one filter).
    val perBucket = Seq(1L, 61L).map(c =>
      t.planFiles(Seq(graft.table.EqLong("bucket", c))).map(_.path).toSet)
    val union = perBucket.reduce(_ ++ _)
    val inPlan = t.planFiles(
      Seq(graft.table.InLong("bucket", Seq(1L, 61L)))).map(_.path).toSet
    assert(inPlan == union,
      s"InLong must plan the union of per-bucket files: $inPlan vs $union")
    assert(inPlan.size < t.currentFiles.size, "and still prune the third bucket")
    // Plan-level: the probe DataFrame holds exactly one scan node — a
    // parquet scan, or the local scan of a read done on the driver (nprobe
    // branches used to union nprobe separate scans).
    val probeDf = BuildIvf.probe(t, Array(7.0, 7.0, 0.0, 0.0), nprobe = 2,
      topK = 200)
    val scans = probeDf.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      case s: org.apache.spark.sql.execution.LocalTableScanExec => s
    }
    assert(scans.size == 1, s"probe must plan one scan, found ${scans.size}")
    // And the results are the same rows the per-bucket union produced.
    val got = probeDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ref = Seq(1L, 61L).flatMap(c =>
      t.scanWhere(Seq(graft.table.EqLong("bucket", c)))
        .select("vec_id", "bucket").collect()
        .map(r => (r.getLong(0), r.getLong(1)))).toSet
    assert(got == ref, "single-scan probe rows must equal the per-bucket union")
  }

  test("probe: the driver top-k equals the distributed order and limit, ties and NaN included, in no Spark job") {
    val root = TestFixtures.workRoot.resolve("ivf-probe-driver").toString
    val base = fixture(2)
    // Every vector twice, under a second id: equal cos, ordered by vec_id.
    val df = base.union(base.select((col("vec_id") + 1000).as("vec_id"), col("embedding")))
    val t = BuildIvf.run(spark, df, "vec_id", "embedding", root,
      initIds = Seq(1L, 61L, 121L)).table
    // The zero-norm query scores every vector NaN, Spark's largest double.
    val queries = Seq(Array(10.0, 0.0, 0.0, 0.0), Array(7.0, 7.0, 0.0, 0.0), Array(0.0, 0.0, 0.0, 0.0))
    for (query <- queries; k <- Seq(1, 7, 500)) {
      val (got, jobs) = sparkJobsDuring(BuildIvf.probe(t, query, nprobe = 3, topK = k).collect().toSeq)
      assert(jobs.isEmpty, s"a driver-read probe starts no Spark job: $jobs")
      val qNorm = math.sqrt(query.map(x => x * x).sum)
      val want = t.readFiles(t.currentFiles)
        .withColumn("cos", gf.cosine_sim(col("embedding"), query, qNorm))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(k)
        .select(col("vec_id"), col("bucket"), col("cos")).collect().toSeq
      assert(got.size == math.min(k, 360))
      assert(got == want, s"query ${query.toSeq} k=$k")
    }
    val nan = BuildIvf.probe(t, queries(2), nprobe = 3, topK = 4).collect()
    assert(nan.forall(_.getDouble(2).isNaN) && nan.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))
  }
}
