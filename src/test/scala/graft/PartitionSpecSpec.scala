package graft

import org.apache.spark.sql.functions._

import graft.images.ImageGen
import graft.jobs.Compact
import graft.table.{ColStats, DataFileMeta, EqLong, EqString, GeLong, GraftTable,
  LeLong, PartitionSpec, RangeLong}

/** Declared partitioning (Iceberg-style spec): partition values written into
  * manifests, manifest-level pruning before stats, transforms, and
  * partition-preserving compaction. */
class PartitionSpecSpec extends GraftSuite {

  private def file(stats: Map[String, ColStats]) =
    DataFileMeta("data/x.parquet", 1L, 10L, stats)

  test("transforms: identity and truncate[N], floor semantics for negatives") {
    val id = PartitionSpec("fmt", "identity")
    assert(PartitionSpec.applyTransform(id, "png") == Some("png"))
    val tr = PartitionSpec("phash", "truncate[1000]")
    assert(PartitionSpec.applyTransform(tr, "1234") == Some("1000"))
    assert(PartitionSpec.applyTransform(tr, "-1") == Some("-1000")) // floor, not toward zero
    assert(PartitionSpec.applyTransform(tr, "not-a-number").isEmpty)
    intercept[IllegalArgumentException] {
      PartitionSpec.validate(PartitionSpec("x", "bucket[8]"))
    }
  }

  test("partitionOf derives a value only for partition-pure files") {
    val spec = PartitionSpec("fmt", "identity")
    assert(PartitionSpec.partitionOf(spec,
      file(Map("fmt" -> ColStats(Some("png"), Some("png"), 0)))) == Some("png"))
    assert(PartitionSpec.partitionOf(spec,
      file(Map("fmt" -> ColStats(Some("jpg"), Some("png"), 0)))).isEmpty)
    assert(PartitionSpec.partitionOf(spec, file(Map.empty)).isEmpty)
    val tr = PartitionSpec("w", "truncate[64]")
    // 130 and 180 both truncate to 128: pure despite min != max.
    assert(PartitionSpec.partitionOf(tr,
      file(Map("w" -> ColStats(Some("130"), Some("180"), 0)))) == Some("128"))
  }

  test("mayMatch prunes eq and range filters against identity and truncate values") {
    val id = PartitionSpec("fmt", "identity")
    assert(PartitionSpec.mayMatch(id, "png", EqString("fmt", "png")))
    assert(!PartitionSpec.mayMatch(id, "png", EqString("fmt", "jpg")))
    assert(PartitionSpec.mayMatch(id, "png", EqString("other_col", "jpg"))) // non-partition col: keep
    val tr = PartitionSpec("phash", "truncate[100]")
    assert(PartitionSpec.mayMatch(tr, "100", EqLong("phash", 150)))
    assert(!PartitionSpec.mayMatch(tr, "100", EqLong("phash", 250)))
    // pv=100 under truncate[100] covers [100, 199]: intersects [190, 210].
    assert(PartitionSpec.mayMatch(tr, "100", RangeLong("phash", 190, 210)))
    assert(!PartitionSpec.mayMatch(tr, "100", RangeLong("phash", 200, 210)))
    assert(PartitionSpec.mayMatch(tr, "200", RangeLong("phash", 190, 210)))
    assert(PartitionSpec.mayMatch(tr, "100", GeLong("phash", 199)))
    assert(!PartitionSpec.mayMatch(tr, "100", GeLong("phash", 200)))
    assert(PartitionSpec.mayMatch(tr, "100", LeLong("phash", 100)))
    assert(!PartitionSpec.mayMatch(tr, "200", LeLong("phash", 199)))
  }

  test("partition-filtered scan opens only that partition's manifests; append records values") {
    val root = TestFixtures.workRoot.resolve("part-tbl").toString
    val t = GraftTable.create(root, spark,
      partitionSpec = Some(PartitionSpec("fmt", "identity")))
    // Partition-clustered appends (the writer contract, as in Iceberg):
    // one batch per fmt -> partition-pure files -> valued manifests.
    val all = ImageGen.df(spark, 120, seed = 5L, partitions = 4).cache()
    GraftTable.append(t, all.filter(col("fmt") === "png"), targetFiles = Some(3))
    GraftTable.append(t, all.filter(col("fmt") === "jpg"), targetFiles = Some(2))
    all.unpersist()

    val snap = t.currentSnapshot
    assert(snap.partitionValues.isDefined, "append must record partition values")
    val vals = snap.manifests.flatMap(snap.partitionOfManifest)
    assert(vals.toSet == Set("png", "jpg"), s"got $vals")

    val pngManifests = t.planManifests(Seq(EqString("fmt", "png")))
    assert(pngManifests.size < snap.manifests.size,
      s"partition filter must prune manifests (${pngManifests.size}/${snap.manifests.size})")
    assert(pngManifests.forall(n => snap.partitionOfManifest(n).contains("png")))

    // Pruned scan correctness: identical rows to an unpruned filter.
    val expected = t.scan().filter(col("fmt") === "png").count()
    assert(t.scanWhere(Seq(EqString("fmt", "png"))).count() == expected)
    // And only the pruned manifests' files are opened.
    assert(t.planFiles(Seq(EqString("fmt", "png"))).size ==
      pngManifests.map(n => graft.table.MetaIO.readManifest(root, n).files.size).sum)
  }

  test("MERGE copy-on-write keeps rewritten manifests' partition values") {
    import spark.implicits._
    val root = TestFixtures.workRoot.resolve("part-merge").toString
    val t = GraftTable.create(root, spark,
      partitionSpec = Some(PartitionSpec("fmt", "identity")))
    val all = ImageGen.df(spark, 120, seed = 12L, partitions = 4).cache()
    GraftTable.append(t, all.filter(col("fmt") === "png"), targetFiles = Some(3))
    GraftTable.append(t, all.filter(col("fmt") === "jpg"), targetFiles = Some(2))
    val anyPng = all.filter(col("fmt") === "png")
      .select("image_id").head().getString(0)
    all.unpersist()
    val res = graft.jobs.MergeInto.run(t,
      Seq((anyPng, "merged caption")).toDF("image_id", "caption"))
    assert(res.snapshot.isDefined)
    // The COW rewrite touched only png files; every manifest (kept jpg,
    // kept png remainder, rewritten png) still carries its value.
    val snap = t.currentSnapshot
    val valued = snap.manifests.flatMap(snap.partitionOfManifest)
    assert(valued.size == snap.manifests.size,
      s"merge must not orphan partition values: $valued of ${snap.manifests.size}")
    assert(t.planFiles(Seq(EqString("fmt", "jpg"))).size <
      t.currentFiles.size)
  }

  test("rewrite-manifests keeps one manifest chain per partition; pruning survives") {
    val root = TestFixtures.workRoot.resolve("part-rewrite").toString
    val t = GraftTable.create(root, spark,
      partitionSpec = Some(PartitionSpec("fmt", "identity")))
    val all = ImageGen.df(spark, 150, seed = 8L, partitions = 3).cache()
    GraftTable.append(t, all.filter(col("fmt") === "png"), targetFiles = Some(4))
    GraftTable.append(t, all.filter(col("fmt") === "jpg"), targetFiles = Some(3))
    all.unpersist()
    val res = graft.jobs.RewriteManifests.run(t, targetFilesPerManifest = 100)
    assert(res.snapshot.isDefined && !res.skippedUnchanged)
    val snap = t.currentSnapshot
    // Consolidated to one manifest per partition value, values intact.
    assert(snap.manifests.size == 2, s"got ${snap.manifests}")
    assert(snap.manifests.flatMap(snap.partitionOfManifest).toSet == Set("png", "jpg"))
    val pngM = t.planManifests(Seq(EqString("fmt", "png")))
    assert(pngM.size == 1 && snap.partitionOfManifest(pngM.head).contains("png"))
    assert(t.scanWhere(Seq(EqString("fmt", "png"))).count() ==
      t.scan().filter(col("fmt") === "png").count())
  }

  test("groups-mode clustering packs within partitions; values survive the sort rewrite") {
    val root = TestFixtures.workRoot.resolve("part-cluster").toString
    val t = GraftTable.create(root, spark,
      partitionSpec = Some(PartitionSpec("fmt", "identity")))
    val all = ImageGen.df(spark, 200, seed = 9L, partitions = 4).cache()
    GraftTable.append(t, all.filter(col("fmt") === "png"), targetFiles = Some(6))
    GraftTable.append(t, all.filter(col("fmt") === "jpg"), targetFiles = Some(4))
    all.unpersist()
    val rows = t.scan().count()
    val res = graft.jobs.Cluster.run(t, curve = "zorder", mode = "groups",
      targetBytes = 256L * 1024)
    assert(res.snapshot.isDefined)
    assert(t.scan().count() == rows)
    val snap = t.currentSnapshot
    val valued = snap.manifests.flatMap(snap.partitionOfManifest)
    assert(valued.size == snap.manifests.size,
      s"sort rewrite must keep partition purity: $valued of ${snap.manifests.size}")
    assert(valued.toSet == Set("png", "jpg"))
  }

  test("global-mode clustering preserves partition values; pruning survives the full re-sort") {
    val root = TestFixtures.workRoot.resolve("part-cluster-global").toString
    val t = GraftTable.create(root, spark,
      partitionSpec = Some(PartitionSpec("fmt", "identity")))
    val all = ImageGen.df(spark, 200, seed = 11L, partitions = 4).cache()
    GraftTable.append(t, all.filter(col("fmt") === "png"), targetFiles = Some(6))
    GraftTable.append(t, all.filter(col("fmt") === "jpg"), targetFiles = Some(4))
    all.unpersist()
    val rows = t.scan().count()
    val res = graft.jobs.Cluster.run(t, curve = "zorder", mode = "global",
      targetBytes = 256L * 1024)
    assert(res.snapshot.isDefined)
    assert(t.scan().count() == rows)
    // Before this fix, global mode range-exchanged the WHOLE table by curve
    // key: output files mixed fmt values and landed in one unpartitioned
    // manifest that every filtered scan had to open.
    val snap = t.currentSnapshot
    val valued = snap.manifests.flatMap(snap.partitionOfManifest)
    assert(valued.size == snap.manifests.size,
      s"global re-sort must keep partition purity: $valued of ${snap.manifests.size}")
    assert(valued.toSet == Set("png", "jpg"))
    val pngM = t.planManifests(Seq(EqString("fmt", "png")))
    assert(pngM.size < snap.manifests.size,
      s"partition-filtered scan must still prune manifests (${pngM.size}/${snap.manifests.size})")
    assert(t.scanWhere(Seq(EqString("fmt", "png"))).count() ==
      t.scan().filter(col("fmt") === "png").count())
  }

  test("COW merge on a partitioned AND clustered table keeps partition values and curve pruning") {
    import spark.implicits._
    val root = TestFixtures.workRoot.resolve("part-cluster-cow").toString
    val t = GraftTable.create(root, spark,
      partitionSpec = Some(PartitionSpec("fmt", "identity")))
    val all = ImageGen.df(spark, 480, seed = 14L, partitions = 4).cache()
    GraftTable.append(t, all.filter(col("fmt") === "png"), targetFiles = Some(6))
    GraftTable.append(t, all.filter(col("fmt") === "jpg"), targetFiles = Some(4))
    all.unpersist()
    graft.jobs.Cluster.run(t, curve = "zorder", mode = "global",
      targetBytes = 64L * 1024)
    val rows = t.scan().count()
    // A merge touching rows spread across BOTH partitions: the shaping
    // exchange must keep each output file curve-tight AND partition-pure.
    val ids = t.scan().select("image_id").as[String].collect().sorted
      .zipWithIndex.collect { case (id, i) if i % 10 == 0 => id }.toSeq
    val res = graft.jobs.MergeInto.run(t,
      ids.map(id => (id, s"pc-$id")).toDF("image_id", "caption"),
      targetBytes = 64L * 1024)
    assert(res.snapshot.isDefined)
    assert(t.scan().count() == rows, "COW must not lose rows")
    val snap = t.currentSnapshot
    val valued = snap.manifests.flatMap(snap.partitionOfManifest)
    assert(valued.size == snap.manifests.size,
      s"partition values must survive the curve-shaped COW: $valued of ${snap.manifests.size}")
    assert(t.planManifests(Seq(EqString("fmt", "png"))).size < snap.manifests.size)
    val span = RangeLong("phash", Long.MinValue / 16, Long.MaxValue / 16)
    assert(t.planFiles(Seq(span)).size < t.currentFiles.size,
      "curve pruning must survive the COW rewrite")
  }

  test("COW transcode that CHANGES the partition value spreads across the overflow block") {
    val root = TestFixtures.workRoot.resolve("part-transcode-ov").toString
    val t = GraftTable.create(root, spark,
      partitionSpec = Some(PartitionSpec("fmt", "identity")))
    val all = ImageGen.df(spark, 360, seed = 16L, partitions = 4).cache()
    GraftTable.append(t, all.filter(col("fmt") === "png"), targetFiles = Some(5))
    GraftTable.append(t, all.filter(col("fmt") === "jpg"), targetFiles = Some(3))
    all.unpersist()
    graft.jobs.Cluster.run(t, curve = "zorder", mode = "global",
      targetBytes = 64L * 1024)
    val rows = t.scan().count()
    val pngRows = t.scan().filter(col("fmt") === "png").count()
    // Every rewritten row's fmt flips png -> jpg: no per-value block matches,
    // so rows route through the OVERFLOW block — which must be a full
    // curve-range exchange, not a single collapsed partition.
    val res = graft.jobs.Transcode.run(t, "png", "jpg", targetBytes = 64L * 1024)
    assert(res.snapshot.isDefined && res.transcodedRows == pngRows)
    assert(t.scan().count() == rows, "transcode must not lose rows")
    assert(t.scan().filter(col("fmt") === "png").count() == 0)
    val added = t.currentSnapshot.summary("added-files").toInt
    assert(added > 1,
      s"a whole-value-change rewrite must spread over ~target-size files, got $added")
    // The new all-jpg files are partition-pure: their manifests carry values.
    val snap = t.currentSnapshot
    assert(snap.manifests.flatMap(snap.partitionOfManifest).size == snap.manifests.size)
  }

  test("composite COW shaping is ONE shuffle and loses no rows") {
    val root = TestFixtures.workRoot.resolve("part-shape-plan").toString
    val t = GraftTable.create(root, spark,
      partitionSpec = Some(PartitionSpec("fmt", "identity")))
    val all = ImageGen.df(spark, 120, seed = 15L, partitions = 2).cache()
    GraftTable.append(t, all.filter(col("fmt") === "png"), targetFiles = Some(2))
    GraftTable.append(t, all.filter(col("fmt") === "jpg"), targetFiles = Some(2))
    all.unpersist()
    val affected = t.currentFiles
    val df = spark.read.schema(t.schema).parquet(affected.map(_.absPath(root)): _*)
    val shaped = graft.jobs.Cluster.shapeForCurve(t, affected, df, "zorder",
      64L * 1024)
    val plan = shaped.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"composite shaping must plan exactly one shuffle:\n$plan")
    assert(!plan.toLowerCase.contains("rangepartitioning"),
      "no sampling range exchange in the COW path")
    assert(shaped.count() == affected.map(_.rowCount).sum,
      "shaping must not lose rows across partition values")
  }

  test("overflow block is slim unless the job can change the partition column") {
    val root = TestFixtures.workRoot.resolve("part-ov-slim").toString
    val t = GraftTable.create(root, spark,
      partitionSpec = Some(PartitionSpec("fmt", "identity")))
    val all = ImageGen.df(spark, 360, seed = 31L, partitions = 4).cache()
    GraftTable.append(t, all.filter(col("fmt") === "png"), targetFiles = Some(4))
    GraftTable.append(t, all.filter(col("fmt") === "jpg"), targetFiles = Some(4))
    all.unpersist()
    val affected = t.currentFiles
    val df = spark.read.schema(t.schema).parquet(affected.map(_.absPath(root)): _*)
    // Tiny target so the full-width overflow would dwarf one task wave.
    val tgt = 16L * 1024
    val fullN = math.ceil(affected.map(_.fileSizeBytes).sum.toDouble / tgt).toInt
    assume(fullN > spark.sparkContext.defaultParallelism * 2,
      s"fixture too small to observe the cap (fullN=$fullN)")
    val slim = graft.jobs.Cluster.shapeForCurve(t, affected, df, "zorder", tgt)
    val wide = graft.jobs.Cluster.shapeForCurve(t, affected, df, "zorder", tgt,
      partitionMayChange = true)
    assert(slim.rdd.getNumPartitions < wide.rdd.getNumPartitions,
      s"slim overflow must cut reducer count: ${slim.rdd.getNumPartitions} vs ${wide.rdd.getNumPartitions}")
    // An empty-in-the-common-case block must not cost a full extra width:
    // slim total <= per-value width + one task wave (+1 fencepost).
    assert(slim.rdd.getNumPartitions <=
      fullN + spark.sparkContext.defaultParallelism + 2)
    assert(slim.count() == affected.map(_.rowCount).sum, "no rows lost")
  }

  test("global cluster pools partition-value units: all values commit, layout + pruning intact") {
    val root = TestFixtures.workRoot.resolve("part-pooled-global").toString
    val t = GraftTable.create(root, spark,
      partitionSpec = Some(PartitionSpec("fmt", "identity")))
    val all = ImageGen.df(spark, 240, seed = 33L, partitions = 4).cache()
    GraftTable.append(t, all.filter(col("fmt") === "png"), targetFiles = Some(3))
    GraftTable.append(t, all.filter(col("fmt") === "jpg"), targetFiles = Some(3))
    all.unpersist()
    val rows = t.scan().count()
    val res = graft.jobs.Cluster.run(t, curve = "zorder", mode = "global",
      targetBytes = 64L * 1024, maxConcurrentGroups = 4)
    assert(res.snapshot.isDefined)
    assert(t.scan().count() == rows)
    // One resumable lineage unit PER partition value, all committed through
    // the bounded pool (small values overlap instead of serializing).
    val units = graft.lineage.Lineage.committedUnits(root, res.jobId)
    assert(units.size == 2, s"one unit per partition value: ${units.keys}")
    val snap = t.currentSnapshot
    assert(snap.manifests.flatMap(snap.partitionOfManifest).toSet == Set("png", "jpg"))
    // Outputs stayed partition-pure through the pooled exchanges, so
    // manifest-level partition pruning is intact (the deterministic probe;
    // curve-range pruning quality is covered by the larger fixtures above).
    assert(t.planManifests(Seq(EqString("fmt", "png"))).size < snap.manifests.size,
      "partition pruning effective after the pooled global cluster")
  }

  test("killed global-mode cluster resumes at partition-value granularity") {
    val root = TestFixtures.workRoot.resolve("part-global-kill").toString
    val t = GraftTable.create(root, spark,
      partitionSpec = Some(PartitionSpec("fmt", "identity")))
    val all = ImageGen.df(spark, 240, seed = 34L, partitions = 4).cache()
    GraftTable.append(t, all.filter(col("fmt") === "png"), targetFiles = Some(3))
    GraftTable.append(t, all.filter(col("fmt") === "jpg"), targetFiles = Some(3))
    all.unpersist()
    val before = snapshotReplay(t)
    val baseId = t.currentSnapshot.snapshotId
    def cluster(fail: Option[Int]) = graft.jobs.Cluster.run(t, curve = "zorder",
      mode = "global", targetBytes = 64L * 1024, maxConcurrentGroups = 1,
      failAfterUnits = fail)

    // Two partition values, so two units; the kill lands after unit 1's
    // files are written and before its lineage.
    intercept[RuntimeException] { cluster(Some(1)) }
    assert(t.currentSnapshot.snapshotId == baseId, "no snapshot must commit on kill")
    val jid = graft.jobs.UnitJob.id("cluster-global-zorder", baseId,
      (64L * 1024).toString, t.currentFiles.map(_.path))
    val killed = graft.lineage.Lineage.committedUnits(root, jid)
    assert(killed.keySet == Set(0), s"exactly unit 0 committed: ${killed.keySet}")

    val res = cluster(None)
    assert(res.jobId == jid && res.snapshot.exists(_.operation == "cluster"))
    assert(killed(0).filesOut.map(_.path).toSet.subsetOf(t.currentFiles.map(_.path).toSet),
      "unit 0's outputs are reused, not rewritten")
    assert(graft.lineage.Lineage.committedUnits(root, jid).keySet == Set(0, 1))
    assert(snapshotReplay(t) == before)
    val snap = t.currentSnapshot
    assert(snap.manifests.flatMap(snap.partitionOfManifest).toSet == Set("png", "jpg"))
  }

  test("RangeString prunes files by string-key stats and manifests under identity only") {
    import graft.table.RangeString
    val f = file(Map("image_id" -> ColStats(Some("img-0010"), Some("img-0020"), 0)))
    assert(graft.table.PruneFilter.mayMatch(f, RangeString("image_id", "img-0015", "img-0030")))
    assert(!graft.table.PruneFilter.mayMatch(f, RangeString("image_id", "img-0021", "img-0030")))
    assert(!graft.table.PruneFilter.mayMatch(f, RangeString("image_id", "img-0000", "img-0009")))
    assert(graft.table.PruneFilter.mayMatch(file(Map.empty),
      RangeString("image_id", "a", "b")), "stat-less files must keep")
    val id = PartitionSpec("fmt", "identity")
    assert(PartitionSpec.mayMatch(id, "png", RangeString("fmt", "jpg", "zzz")))
    assert(!PartitionSpec.mayMatch(id, "gif", RangeString("fmt", "jpg", "zzz")))
    // truncate values stand for numeric intervals: string bounds never prune.
    val tr = PartitionSpec("phash", "truncate[100]")
    assert(PartitionSpec.mayMatch(tr, "100", RangeString("phash", "5", "6")))
    // One-sided string bounds (CLI --id-min / --id-max).
    import graft.table.{GeString, LeString}
    val f2 = file(Map("image_id" -> ColStats(Some("img-0010"), Some("img-0020"), 0)))
    assert(graft.table.PruneFilter.mayMatch(f2, GeString("image_id", "img-0015")))
    assert(!graft.table.PruneFilter.mayMatch(f2, GeString("image_id", "img-0021")))
    assert(graft.table.PruneFilter.mayMatch(f2, LeString("image_id", "img-0010")))
    assert(!graft.table.PruneFilter.mayMatch(f2, LeString("image_id", "img-0009")))
    assert(!PartitionSpec.mayMatch(id, "gif", GeString("fmt", "png")))
    assert(PartitionSpec.mayMatch(id, "png", LeString("fmt", "png")))
  }

  test("compaction bins never cross partitions; outputs keep their partition value") {
    val root = TestFixtures.workRoot.resolve("part-compact").toString
    val t = GraftTable.create(root, spark,
      partitionSpec = Some(PartitionSpec("fmt", "identity")))
    val all = ImageGen.df(spark, 300, seed = 6L, partitions = 4).cache()
    // Manufactured small-files problem per partition.
    GraftTable.append(t, all.filter(col("fmt") === "png"), targetFiles = Some(12))
    GraftTable.append(t, all.filter(col("fmt") === "jpg"), targetFiles = Some(8))
    all.unpersist()
    val rowsBefore = t.scan().count()
    val filesBefore = t.currentFiles.size

    val res = Compact.run(t, targetBytes = 8L * 1024 * 1024)
    assert(res.snapshot.isDefined)
    assert(t.currentFiles.size < filesBefore)
    assert(t.scan().count() == rowsBefore)

    // Every post-compaction manifest still carries a partition value
    // (a cross-partition bin would have produced a mixed, value-less file).
    val snap = t.currentSnapshot
    val valued = snap.manifests.flatMap(snap.partitionOfManifest)
    assert(valued.size == snap.manifests.size,
      s"all manifests must stay partition-pure: ${valued.size}/${snap.manifests.size}")
    assert(valued.toSet == Set("png", "jpg"))
    // Pruning still effective after compaction.
    val pngFiles = t.planFiles(Seq(EqString("fmt", "png")))
    assert(pngFiles.size < t.currentFiles.size)
  }
}
