package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalacheck.{Gen, Prop, Test}

import graft.jobs.{Compact, ExpireSnapshots, RewriteManifests}
import graft.table.{DataFileMeta, GraftTable}

/** Refcount-cascade fixtures (FIXTURES.md §2; reference behavior:
  * pipeline.test.ts:641-853 refcount delete variants). */
class ExpireSnapshotsSpec extends GraftSuite {

  /** Runs `body` and counts the Spark jobs it started: a marker job run
    * afterwards flushes the listener queue, since listener events arrive
    * asynchronously but in order. */
  private def sparkJobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(l)
    try {
      val r = body
      sc.setJobGroup("jobs-during-marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains("jobs-during-marker") && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(groups.contains("jobs-during-marker"), "listener never saw the marker job")
      (r, groups.size - 1)
    } finally sc.removeSparkListener(l)
  }

  private def dataFilesOnDisk(root: String): Set[String] = {
    val dir = Paths.get(root, "data")
    if (!Files.exists(dir)) return Set.empty
    val rootAbs = Paths.get(root).toAbsolutePath
    val walk = Files.walk(dir)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => rootAbs.relativize(p.toAbsolutePath).toString).toSet
    finally walk.close()
  }

  test("expire deletes only files unreachable from every retained snapshot; shared files survive") {
    val t = TestFixtures.freshTable("expire-shared")
    val s1 = t.currentSnapshot.snapshotId // append snapshot

    // Compact creates s2; s1 and s2 SHARE zero data files (full rewrite),
    // but append more rows to s2 -> s3 shares s2's files via manifest reuse.
    Compact.run(t, targetBytes = 4L * 1024 * 1024)
    val s2 = t.currentSnapshot.snapshotId
    val s2Files = t.currentFiles.map(_.path).toSet
    GraftTable.append(t, graft.images.ImageGen.df(spark, 50, seed = 99L, partitions = 2))
    val s3 = t.currentSnapshot.snapshotId
    assert(t.currentFiles.map(_.path).toSet.intersect(s2Files) == s2Files,
      "append must share the compacted files via manifest reuse")

    // Expire s1 and s2, retain s3: s1's original files die; s2's files
    // survive because s3 still references them (shared manifest).
    val res = ExpireSnapshots.run(t, retain = Seq(s3))
    assert(res.expiredSnapshots.toSet == Set(s1, s2))
    assert(res.deletedDataFiles > 0, "s1's small files must be deleted")
    s2Files.foreach { p =>
      assert(Files.exists(Paths.get(s"${t.root}/$p")), s"shared file $p must survive")
    }
    // The retained snapshot still reads perfectly.
    assert(t.scan().count() == TestFixtures.BaseRows + 50)
  }

  test("expire refuses to drop the current snapshot") {
    val t = TestFixtures.freshTable("expire-refuse")
    val cur = t.currentSnapshot.snapshotId
    Compact.run(t, targetBytes = 4L * 1024 * 1024)
    intercept[IllegalArgumentException] {
      ExpireSnapshots.run(t, retain = Seq(cur)) // retains only the OLD one
    }
  }

  test("orphan sweep removes uncommitted unit outputs but never live files") {
    val t = TestFixtures.freshTable("expire-orphans")
    // Simulate a killed job: write data files that no manifest references.
    val orphanDf = graft.images.ImageGen.df(spark, 20, seed = 5L, partitions = 1)
    t.writeDataFiles(orphanDf) // returns metadata but we never commit it
    val liveCount = t.scan().count()
    // orphanMinAgeMs = 0: production default is 1h (so in-flight writers'
    // uncommitted outputs survive); tests sweep immediately.
    val res = ExpireSnapshots.run(t, retain = Seq(t.currentSnapshot.snapshotId),
      orphanMinAgeMs = 0L)
    assert(res.orphansSwept > 0, "uncommitted unit outputs must be swept")
    assert(t.scan().count() == liveCount)
  }

  test("orphan sweep min-age guard protects just-written uncommitted outputs") {
    val t = TestFixtures.freshTable("expire-minage")
    t.writeDataFiles(graft.images.ImageGen.df(spark, 20, seed = 5L, partitions = 1))
    val res = ExpireSnapshots.run(t, retain = Seq(t.currentSnapshot.snapshotId))
    assert(res.orphansSwept == 0, "default min-age must protect fresh files")
  }

  test("concurrent snapshot committed after planning survives the expire CAS retry") {
    val t = TestFixtures.freshTable("expire-race")
    val s1 = t.currentSnapshot.snapshotId
    Compact.run(t, targetBytes = 4L * 1024 * 1024)
    val s2 = t.currentSnapshot.snapshotId
    // A writer commits between expire's planning and its CAS: the refreshed
    // current pointer must be re-validated (not silently dropped), so
    // expire(retain=s2) refuses once current has moved to s3.
    GraftTable.append(t, graft.images.ImageGen.df(spark, 10, seed = 7L, partitions = 1))
    val s3 = t.currentSnapshot.snapshotId
    intercept[IllegalArgumentException] {
      ExpireSnapshots.run(t, retain = Seq(s2)) // current is s3 now
    }
    // Retaining the true current works and expires only the old ones.
    val res = ExpireSnapshots.run(t, retain = Seq(s3), orphanMinAgeMs = 0L)
    assert(res.expiredSnapshots.toSet == Set(s1, s2))
    assert(t.meta.snapshots.map(_.snapshotId) == Seq(s3))
  }

  test("physical deletes above the driver cutoff run distributed across partitions") {
    val root = TestFixtures.workRoot.resolve("expire-dist-del")
    Files.createDirectories(root.resolve("data"))
    // Strictly above DriverDeleteMax so the executor-side foreachPartition
    // branch is the one exercised: it must start a Spark job.
    val n = ExpireSnapshots.DriverDeleteMax + 48
    val listed = (0 until n).map { i =>
      val rel = s"data/f$i.parquet"
      Files.write(root.resolve(rel), Array[Byte](1, 2, 3))
      rel -> 3L
    }
    val ((cnt, bytes), jobs) = sparkJobsDuring(
      ExpireSnapshots.deleteListed(spark, root.toString, listed))
    assert(jobs >= 1, "above the cutoff deletion must run executor-side")
    assert(cnt == n.toLong, s"expected $n deletions, got $cnt")
    assert(bytes == 3L * n)
    assert(listed.forall { case (r, _) => !Files.exists(root.resolve(r)) })
    // Idempotent on re-run: nothing left to delete.
    assert(ExpireSnapshots.deleteListed(spark, root.toString, listed) == ((0L, 0L)))
  }

  test("expire starts no Spark job when the deletion list is within the driver cutoff") {
    val t = TestFixtures.freshTable("expire-no-jobs")
    t.writeDataFiles(graft.images.ImageGen.df(spark, 20, seed = 5L, partitions = 1))
    Compact.run(t, targetBytes = 4L * 1024 * 1024)
    val (res, jobs) = sparkJobsDuring(ExpireSnapshots.run(t,
      retain = Seq(t.currentSnapshot.snapshotId), orphanMinAgeMs = 0L))
    assert(res.deletedDataFiles > 0 && res.deletedDataFiles <= ExpireSnapshots.DriverDeleteMax)
    assert(res.orphansSwept > 0, "the uncommitted files go through the sweep")
    assert(jobs == 0, s"expire started $jobs Spark jobs")
  }

  // ------------------------------------------------- generated histories

  private sealed trait Op
  private case class Append(files: Int) extends Op
  private case class CompactOp(files: Int) extends Op
  private case class Remove(pick: Int, rewrite: Boolean) extends Op
  private case class Rewrite(filesPerManifest: Int) extends Op
  private case class Rollback(pick: Int) extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    3 -> Gen.choose(1, 2).map(Append),
    2 -> Gen.choose(2, 4).map(CompactOp),
    2 -> Gen.zip(Gen.choose(0, 99), Gen.oneOf(true, false)).map((Remove.apply _).tupled),
    1 -> Gen.choose(1, 3).map(Rewrite),
    1 -> Gen.choose(0, 99).map(Rollback))

  private case class Case(ops: List[Op], retainMask: List[Boolean], orphanMinAgeMs: Long)

  private val caseGen: Gen[Case] = for {
    first <- Gen.choose(1, 3)
    n <- Gen.choose(1, 6)
    ops <- Gen.listOfN(n, opGen)
    mask <- Gen.listOfN(n + 1, Gen.prob(0.4))
    minAge <- Gen.oneOf(0L, 60L * 60 * 1000)
  } yield Case(Append(first) :: ops, mask, minAge)

  /** Tiny data files written once; histories commit copies of them under
    * fresh paths, so a case costs metadata work plus its scans. */
  private lazy val pool: (Path, Seq[DataFileMeta]) = {
    val root = TestFixtures.workRoot.resolve("expire-prop-pool")
    val t = GraftTable.create(root.toString, spark)
    (root, t.writeDataFiles(graft.images.ImageGen.df(spark, 24, seed = 31L, partitions = 6)))
  }

  private def replay(t: GraftTable, ops: List[Op]): Unit = {
    val (poolRoot, poolFiles) = pool
    var next = 0
    def fresh(): DataFileMeta = {
      val src = poolFiles(next % poolFiles.size)
      val rel = s"data/gen/f$next.parquet"
      next += 1
      Files.createDirectories(Paths.get(t.root, "data", "gen"))
      Files.copy(poolRoot.resolve(src.path), Paths.get(t.root, rel))
      src.copy(path = rel)
    }
    def current: Seq[String] = t.meta.currentSnapshot.map(t.snapshotFiles(_).map(_.path))
      .getOrElse(Nil).sorted
    ops.foreach {
      case Append(k) => t.commit("append", Seq.fill(k)(fresh()), Set.empty)
      case CompactOp(k) =>
        val cur = current
        if (cur.size >= 2) t.commit("compact", Seq(fresh()), cur.take(k).toSet)
        else t.commit("append", Seq(fresh()), Set.empty)
      case Remove(pick, rewrite) =>
        val cur = current
        if (cur.nonEmpty) t.commit(if (rewrite) "merge" else "delete",
          if (rewrite) Seq(fresh()) else Nil, Set(cur(pick % cur.size)))
      case Rewrite(per) => RewriteManifests.run(t, targetFilesPerManifest = per)
      case Rollback(pick) =>
        val ids = t.meta.snapshots.map(_.snapshotId)
        t.rollback(ids(pick % ids.size))
    }
  }

  test("generated histories: expire deletes exactly the files no retained snapshot lists") {
    import org.apache.spark.sql.functions.col
    var caseNo = 0
    val prop = Prop.forAllNoShrink(caseGen) { c =>
      caseNo += 1
      // Case tables stay under the work root (removed at JVM exit): query
      // events land in their lineage dirs asynchronously.
      val t = GraftTable.create(TestFixtures.workRoot.resolve(s"expire-prop-$caseNo").toString, spark)
      replay(t, c.ops)
      val m = t.meta
      val retain = (m.snapshots.zip(c.retainMask).collect { case (s, true) => s.snapshotId }
        ++ m.currentSnapshotId).distinct
      def files(ids: Seq[Long]): Set[String] =
        ids.flatMap(id => t.snapshotFiles(m.snapshot(id).get).map(_.path)).toSet
      def rows(id: Long): Seq[String] = t.scan(Some(id)).select(col("image_id"), col("phash"))
        .collect().map(_.mkString("|")).sorted.toSeq
      val allFiles = files(m.snapshots.map(_.snapshotId))
      val retainedFiles = files(retain)
      val onDisk = dataFilesOnDisk(t.root)
      assert(onDisk == allFiles, "every generated file is committed somewhere")
      val scansBefore = retain.map(id => id -> rows(id))

      val res = ExpireSnapshots.run(t, retain, orphanMinAgeMs = c.orphanMinAgeMs)

      val deleted = onDisk -- dataFilesOnDisk(t.root)
      assert(deleted == allFiles -- retainedFiles, s"$c")
      assert(res.deletedDataFiles == deleted.size.toLong && res.orphansSwept == 0, s"$c")
      assert(retainedFiles.forall(p => Files.exists(Paths.get(t.root, p))), s"$c")
      assert(t.meta.snapshots.map(_.snapshotId).toSet == retain.toSet, s"$c")
      scansBefore.foreach { case (id, before) => assert(rows(id) == before, s"snapshot $id: $c") }
      true
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(100)
      .withWorkers(1).withInitialSeed(20261017L), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
