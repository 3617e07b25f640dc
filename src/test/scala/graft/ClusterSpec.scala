package graft

import org.apache.spark.sql.functions._

import graft.expr.{functions => gf}
import graft.jobs.Cluster
import graft.table.{GraftTable, PruneFilter, RangeLong}

class ClusterSpec extends GraftSuite {

  private def overlapScore(t: GraftTable): Double = {
    // Mean number of files whose [phash_min, phash_max] ranges overlap a
    // random file's range — lower = better clustered layout.
    val ranges = t.currentFiles.flatMap { f =>
      for (mn <- f.stats("phash").min; mx <- f.stats("phash").max)
        yield (mn.toLong, mx.toLong)
    }
    val n = ranges.size
    if (n <= 1) return 1.0
    val overlaps = for (a <- ranges; b <- ranges if a != b)
      yield if (a._1 <= b._2 && b._1 <= a._2) 1 else 0
    overlaps.sum.toDouble / n
  }

  test("global zorder cluster preserves rows and all replay results") {
    val t = TestFixtures.freshTable("cluster-zorder")
    val before = snapshotReplay(t)
    val rows = t.currentFiles.map(_.rowCount).sum
    val res = Cluster.run(t, curve = "zorder", mode = "global", targetBytes = 192L * 1024)
    assert(res.snapshot.isDefined)
    assert(t.currentFiles.map(_.rowCount).sum == rows)
    assert(snapshotReplay(t) == before)
  }

  test("clustering improves phash-range file pruning vs the scattered layout") {
    val t = TestFixtures.freshTable("cluster-pruning")
    // Scattered tiny files: nearly every file spans most of the phash range.
    val span = RangeLong("phash", Long.MinValue / 16, Long.MaxValue / 16)
    Cluster.run(t, curve = "zorder", mode = "global", targetBytes = 96L * 1024)
    val total = t.currentFiles.size
    val pruned = t.planFiles(Seq(span)).size
    assert(total >= 4, s"want several output files, got $total")
    assert(pruned < total,
      s"clustered layout should prune some files for a phash range ($pruned/$total)")
    // Correctness of the pruned scan.
    assert(canon(t.scanWhere(Seq(span))) ==
      canon(t.scan().filter(col("phash") >= span.lo && col("phash") <= span.hi)))
  }

  test("groups mode clusters resumable units and preserves results") {
    val t = TestFixtures.freshTable("cluster-groups")
    val before = snapshotReplay(t)
    val res = Cluster.run(t, curve = "hilbert", mode = "groups", targetBytes = 128L * 1024)
    assert(res.snapshot.isDefined)
    assert(snapshotReplay(t) == before)
  }

  test("killed groups-mode cluster resumes at unit granularity, no snapshot until done") {
    val t = TestFixtures.freshTable("cluster-kill-resume")
    val before = snapshotReplay(t)
    val groups = Cluster.packGroups(t.currentFiles, 128L * 1024 * 4)
    assert(groups.size >= 2, s"need >=2 groups, got ${groups.size}")

    intercept[Exception] {
      Cluster.run(t, curve = "zorder", mode = "groups",
        targetBytes = 128L * 1024, maxConcurrentGroups = 1,
        failAfterUnits = Some(1))
    }
    assert(t.currentSnapshot.operation == "append", "no snapshot must commit on kill")

    val res = Cluster.run(t, curve = "zorder", mode = "groups",
      targetBytes = 128L * 1024, maxConcurrentGroups = 1)
    assert(res.snapshot.exists(_.operation == "cluster"))
    assert(snapshotReplay(t) == before)
    // The first unit's output was reused, not recomputed: its lineage rows
    // survive from the killed attempt (same deterministic job id).
    val units = graft.lineage.Lineage.committedUnits(t.root, res.jobId)
    assert(units.size == groups.size)
  }

  test("incremental cluster rewrites only files appended since the last cluster") {
    val t = TestFixtures.freshTable("cluster-incremental")
    Cluster.run(t, curve = "zorder", mode = "global", targetBytes = 192L * 1024)
    val clusteredFiles = t.currentFiles.map(_.path).toSet
    GraftTable.append(t, graft.images.ImageGen.df(spark, 80, seed = 11L, partitions = 4))
    val before = snapshotReplay(t)

    val res = Cluster.runIncremental(t, curve = "zorder", targetBytes = 192L * 1024)
    assert(res.snapshot.isDefined)
    assert(res.filesIn == 4, s"only the 4 appended files should be clustered, got ${res.filesIn}")
    val after = t.currentFiles.map(_.path).toSet
    assert(clusteredFiles.subsetOf(after), "previously clustered files must be untouched")
    assert(snapshotReplay(t) == before)

    // Nothing new appended => incremental run is a no-op.
    val res2 = Cluster.runIncremental(t, targetBytes = 192L * 1024)
    assert(res2.snapshot.isEmpty && res2.filesIn == 0)
  }

  test("reducer count aligns up to full task waves") {
    assert(Cluster.alignToSlots(22, 8) == 24) // the measured partial-wave artifact
    assert(Cluster.alignToSlots(91, 8) == 96)
    assert(Cluster.alignToSlots(16, 8) == 16) // already aligned
    assert(Cluster.alignToSlots(5, 8) == 5)   // under one wave: untouched
    assert(Cluster.alignToSlots(7, 0) == 7)   // no-slot info: untouched
  }

  test("exact range exchange: partition i holds exactly key bucket i, no sampling") {
    import spark.implicits._
    val bounds = Array(100L, 200L, 300L)
    val df = spark.range(0, 400).toDF("k").repartition(7) // scrambled input
    val out = Cluster.rangeExchange(df, col("k"), bounds)
    // No RangePartitioning anywhere in the plan => no sampling pass exists.
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("rangepartitioning"), plan)
    val got = out.withColumn("pid", spark_partition_id())
      .groupBy(col("pid"))
      .agg(min(col("k")).as("mn"), max(col("k")).as("mx"), count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.map(_._4).sum == 400)
    got.foreach { case (pid, mn, mx, _) =>
      assert(mn / 100 == pid && mx / 100 == pid,
        s"partition $pid holds keys [$mn,$mx] outside its bucket")
    }
  }

  test("curve boundary pass projects only the key (payload never read)") {
    val t = TestFixtures.baseTable
    val proj = t.scan().select(
      gf.clusterKeyZ(col("phash"), col("w"), col("h")).as("__ck"))
    val scan = proj.queryExecution.executedPlan.toString
    assert(scan.contains("ReadSchema"), scan)
    assert(!scan.contains("bytes"), s"payload column must be pruned:\n$scan")
  }

  private val GraftTable = graft.table.GraftTable

  // Every copy-on-write job, each with the same file sizing as the cluster
  // layout. Merge and delete touch rows SPREAD across the table (every 20th
  // image_id), dedup's victims and transcode's png rows are spread too: the
  // affected set covers most files, so a rewrite that round-robined rows
  // would widen every output file's phash range and kill pruning entirely.
  // Each entry runs its job and reports whether it committed with its
  // effect visible in the current rows.
  private val cowJobs: Seq[(String, GraftTable => Boolean)] = {
    import spark.implicits._
    import graft.jobs.{DedupPhash, MergeInto, Transcode}
    val target = 96L * 1024
    def spread(t: GraftTable): Seq[String] = t.scan().select("image_id").as[String]
      .collect().sorted.zipWithIndex.collect { case (id, i) if i % 20 == 0 => id }.toSeq
    Seq(
      "merge" -> { t =>
        val ids = spread(t)
        MergeInto.run(t, ids.map(id => (id, s"cow-cap-$id")).toDF("image_id", "caption"),
          targetBytes = target).snapshot.isDefined &&
          t.scan().filter(col("caption").startsWith("cow-cap-")).count() == ids.size
      },
      "delete" -> { t =>
        val ids = spread(t)
        MergeInto.deleteMatched(t, ids.toDF("image_id"), target).snapshot.isDefined &&
          t.scan().filter(col("image_id").isin(ids: _*)).count() == 0
      },
      "dedup" -> { t =>
        DedupPhash.run(t, targetBytes = target).snapshot.isDefined &&
          t.scan().select("phash").distinct().count() == t.scan().count()
      },
      "transcode" -> { t =>
        Transcode.run(t, "png", "jpg", target).snapshot.isDefined &&
          t.scan().filter(col("fmt") === "png").count() == 0
      })
  }

  for ((job, run) <- cowJobs)
    test(s"COW $job preserves the clustered layout: phash-range scans still prune") {
      val t = TestFixtures.freshTable(s"cluster-cow-$job")
      Cluster.run(t, curve = "zorder", mode = "global", targetBytes = 96L * 1024)
      val span = RangeLong("phash", Long.MinValue / 16, Long.MaxValue / 16)
      assert(t.planFiles(Seq(span)).size < t.currentFiles.size)
      // The same job on the unclustered table: the layout may differ, the
      // rows may not.
      val plain = TestFixtures.freshTable(s"cluster-cow-$job-plain")
      val untouched = t.currentFiles.map(_.path).toSet
      assert(run(t) && run(plain))
      val total = t.currentFiles.size
      val pruned = t.planFiles(Seq(span)).size
      assert(pruned < total,
        s"clustered layout must survive the COW $job rewrite ($pruned/$total)")
      // The rewritten files themselves must be curve-tight: a lookup of their
      // median phash keeps only the file(s) around it, where round-robined
      // output (every file spanning the whole range) would keep them all.
      val written = t.currentFiles.filterNot(f => untouched(f.path))
      val ph = t.readFiles(written).select("phash").collect().map(_.getLong(0)).sorted
      val mid = RangeLong("phash", ph(ph.length / 2), ph(ph.length / 2))
      val writtenKept = written.count(PruneFilter.mayMatch(_, mid))
      assert(writtenKept < written.size,
        s"COW $job output must be curve-shaped ($writtenKept/${written.size} kept)")
      assert(canon(t.scanWhere(Seq(span))) ==
        canon(t.scan().filter(col("phash") >= span.lo && col("phash") <= span.hi)))
      assert(canon(t.scan()) == canon(plain.scan()))
    }

  test("curve expressions agree with the pure-Scala functions on table data") {
    val t = TestFixtures.baseTable
    val rows = t.scan().select(col("phash"), col("w"), col("h"),
        gf.clusterKeyZ(col("phash"), col("w"), col("h")).as("z"),
        gf.clusterKeyHilbert(col("phash"), col("w"), col("h")).as("hk"))
      .limit(200).collect()
    rows.foreach { r =>
      val (p, w, h) = (r.getLong(0), r.getInt(1), r.getInt(2))
      assert(r.getLong(3) == graft.expr.Curves.zorder3(p >>> 43, w, h))
      assert(r.getLong(4) == graft.expr.Curves.hilbert3(p >>> 43, w, h))
    }
  }
}
