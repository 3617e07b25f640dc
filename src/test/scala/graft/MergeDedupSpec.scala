package graft

import org.apache.spark.sql.functions._

import graft.expr.{functions => gf}
import graft.images.{ImageCodec, ImageGen}
import graft.jobs.{DedupPhash, MergeInto, Transcode}

/** MERGE semantics fixtures (FIXTURES.md §2; reference:
  * createFlowRAG.ts:51-119 mergeEntities conflict rules). */
class MergeDedupSpec extends GraftSuite {

  test("merge updates captions copy-on-write, leaves other rows and files untouched") {
    import spark.implicits._
    val t = TestFixtures.freshTable("merge-captions")
    val before = t.scan().count()
    val filesBefore = t.currentFiles.map(_.path).toSet

    val fixes = Seq(
      ("img-000000000003", "corrected caption three"),
      ("img-000000000017", "corrected caption seventeen")).toDF("image_id", "caption")
    val res = MergeInto.run(t, fixes)
    assert(res.snapshot.isDefined)
    assert(res.insertedRows == 0)
    assert(t.scan().count() == before)

    val got = t.scan().filter(col("image_id").isin("img-000000000003", "img-000000000017"))
      .select("image_id", "caption").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("img-000000000003") == "corrected caption three")
    assert(got("img-000000000017") == "corrected caption seventeen")

    // COW: only the files containing the two keys were replaced.
    val filesAfter = t.currentFiles.map(_.path).toSet
    val untouched = filesBefore.intersect(filesAfter)
    assert(untouched.size >= filesBefore.size - 3,
      s"merge must not rewrite unrelated files (${filesBefore.size} -> kept ${untouched.size})")
    // Bytes of an unrelated row unchanged.
    assert(canon(t.scan().filter(col("image_id") === "img-000000000500")).nonEmpty)
  }

  test("a caption-only merge writes no insert file under data/") {
    import spark.implicits._
    val t = TestFixtures.freshTable("merge-caption-only")
    val dataDir = java.nio.file.Paths.get(t.root, "data")
    def entries = graft.util.Fs.list(dataDir).map(_.getFileName.toString).toSet
    val before = entries
    // No key matches and no row carries bytes: nothing to rewrite or insert.
    val none = MergeInto.run(t, Seq(("img-zzz-absent", "no payload")).toDF("image_id", "caption"))
    assert(none.snapshot.isEmpty && none.insertedRows == 0)
    assert(entries == before, s"added under data/: ${entries -- before}")
    // One match: only the rewritten file's commit directory appears.
    val one = MergeInto.run(t, Seq(("img-000000000003", "caption only"),
      ("img-zzz-absent", "no payload")).toDF("image_id", "caption"))
    assert(one.updatedFiles == 1 && one.insertedRows == 0)
    val added = entries -- before
    assert(added.size == 1, s"added under data/: $added")
    assert(graft.util.Fs.list(dataDir.resolve(added.head))
      .exists(_.getFileName.toString.endsWith(".parquet")))
  }

  test("merge inserts unmatched source rows with computed w/h/phash") {
    import spark.implicits._
    val t = TestFixtures.freshTable("merge-inserts")
    val img = ImageGen.drawBase(40, 30, new scala.util.Random(123))
    val png = ImageCodec.encodePng(img)
    val jpg = ImageCodec.encodeJpg(ImageGen.drawBase(24, 24, new scala.util.Random(5)))
    val src = Seq(
      ("img-brand-new-row", "a brand new caption", png),
      ("img-brand-new-jpg", "a jpg insert", jpg)).toDF("image_id", "caption", "bytes")
    val before = t.scan().count()
    val res = MergeInto.run(t, src)
    assert(res.insertedRows == 2)
    assert(t.scan().count() == before + 2)
    val r = t.scan().filter(col("image_id") === "img-brand-new-row").collect().head
    assert(r.getAs[Int]("w") == 40 && r.getAs[Int]("h") == 30)
    assert(r.getAs[Long]("phash") == ImageCodec.phash(png))
    assert(r.getAs[String]("caption") == "a brand new caption")
    assert(r.getAs[String]("fmt") == "png")
    val rj = t.scan().filter(col("image_id") === "img-brand-new-jpg").collect().head
    assert(rj.getAs[String]("fmt") == "jpg", "fmt must be detected from magic bytes")
  }

  test("merge dedups its own source on the natural key (longest caption wins)") {
    import spark.implicits._
    val t = TestFixtures.freshTable("merge-src-dedup")
    val src = Seq(
      ("img-000000000009", "short"),
      ("img-000000000009", "much much longer corrected caption")).toDF("image_id", "caption")
    MergeInto.run(t, src)
    val got = t.scan().filter(col("image_id") === "img-000000000009")
      .select("caption").collect().head.getString(0)
    assert(got == "much much longer corrected caption")
  }

  test("merge reads the candidate key column from Parquet exactly once (persisted key scan)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val t = TestFixtures.freshTable("merge-one-scan")
    val tableData = java.nio.file.Paths.get(t.root).toAbsolutePath.toString
    // Every executed plan that DIRECTLY file-scans this table with a
    // key-only projection = one Parquet read of the key column. With the
    // persisted key scan both consumers (discovery semi-join + insert
    // anti-join) read the cache, so at most the single materialization scan
    // appears — and that one usually hides inside the InMemoryRelation's
    // cached plan, giving a direct count of 0. Without the persist the
    // count is 2 (the round-4 verdict's duplicated IO).
    def walk(p: SparkPlan): Iterator[SparkPlan] = Iterator(p) ++ (p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other.children.iterator.flatMap(walk)
    })
    val keyScans = new java.util.concurrent.atomic.AtomicInteger(0)
    val cacheScans = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = try {
        walk(qe.executedPlan).foreach {
          case fs: org.apache.spark.sql.execution.FileSourceScanExec
              if fs.relation.location.rootPaths.exists(_.toString.contains(tableData)) &&
                fs.requiredSchema.fieldNames.toSeq == Seq("image_id") =>
            keyScans.incrementAndGet()
          case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            cacheScans.incrementAndGet()
          case _ => ()
        }
      } catch { case _: Throwable => () }
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // The matched payload row gives the source something it could
      // insert, so the insert anti-join runs (a merge with no payload row
      // skips it).
      val png = ImageCodec.encodePng(ImageGen.drawBase(16, 16, new scala.util.Random(9)))
      val src = Seq(
        ("img-000000000011", "one-scan caption", null: Array[Byte]),
        ("img-000000000012", null: String, png),
        ("img-zzz-new-key", "insert probe", null: Array[Byte])).toDF("image_id", "caption", "bytes")
      val res = MergeInto.run(t, src)
      // Listener events are async on the bus; poll until they land.
      val deadline = System.currentTimeMillis() + 15000
      while (cacheScans.get() < 2 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(res.updatedFiles >= 1 && res.insertedRows == 0,
        "caption update matched; the bytes-less insert candidate is dropped")
      assert(keyScans.get() <= 1,
        s"key column must be file-scanned at most once, saw ${keyScans.get()}")
      assert(cacheScans.get() >= 2,
        s"both consumers should read the persisted key scan, saw ${cacheScans.get()}")
      val got = t.scan().filter(col("image_id") === "img-000000000011")
        .select("caption").collect().head.getString(0)
      assert(got == "one-scan caption")
    } finally spark.listenerManager.unregister(listener)
  }

  test("non-BMP keys: stats pruning is byte-order sound end-to-end (scan + MERGE)") {
    import spark.implicits._
    import graft.table.{EqString, GraftTable, PruneFilter, RangeString, Utf8Ord}
    // The ordering disagreement itself: in UTF-16 code-unit order the
    // surrogate-encoded 🙂 (U+1F642) sorts BELOW U+FFFE; in UTF-8 byte order
    // (Parquet's and Spark's) it sorts ABOVE all of the BMP.
    val smiley = "🙂"
    assert(smiley.compareTo("￾") < 0, "UTF-16 disagrees (test premise)")
    assert(Utf8Ord.cmp(smiley, "￾") > 0, "UTF-8 byte order")
    assert(Utf8Ord.cmp("abc", "abd") < 0 && Utf8Ord.cmp("ab", "abc") < 0)

    val work = TestFixtures.workRoot.resolve("merge-nonbmp")
    val t = GraftTable.create(work.toString, spark)
    val ids = Seq("a-1", "a-2", "￾", smiley)
    val w = org.apache.spark.sql.expressions.Window.orderBy("image_id")
    val df = graft.images.ImageGen.df(spark, 4, seed = 7L, partitions = 1)
      .withColumn("__i", row_number().over(w))
      .withColumn("image_id", element_at(array(ids.map(lit(_)): _*), col("__i")))
      .drop("__i")
    // File A: ASCII ids. File B: {U+FFFE, 🙂} — its footer stats, picked in
    // byte order, are min=U+FFFE max=🙂; a UTF-16 comparison of those bounds
    // pruned B for key 🙂 (and a MERGE then silently re-inserted the key).
    GraftTable.append(t, df.filter(col("image_id").startsWith("a-")),
      targetFiles = Some(1))
    GraftTable.append(t, df.filter(!col("image_id").startsWith("a-")),
      targetFiles = Some(1))
    val fb = t.currentFiles.find(_.stats.get("image_id").exists(
      _.max.contains(smiley))).getOrElse(fail("file B stats missing"))
    assert(fb.stats("image_id").min.contains("￾"))
    assert(PruneFilter.mayMatch(fb, EqString("image_id", smiley)))
    assert(PruneFilter.mayMatch(fb, RangeString("image_id", smiley, smiley)))
    assert(t.scanWhere(Seq(EqString("image_id", smiley))).count() == 1)

    // MERGE on the supplementary-plane key: updates in place, no duplicate.
    val res = MergeInto.run(t, Seq((smiley, "fixed")).toDF("image_id", "caption"))
    assert(res.insertedRows == 0, "key must be FOUND, not re-inserted")
    assert(res.matchedRows == 1)
    assert(t.scan().count() == 4)
    val got = t.scan().filter(col("image_id") === smiley)
      .select("caption").collect()
    assert(got.length == 1 && got.head.getString(0) == "fixed")
  }

  test("exact phash dedup keeps one canonical row per duplicate group") {
    val t = TestFixtures.freshTable("dedup-exact")
    val cand = t.scan().select("phash").groupBy("phash").count()
    val dupRows = cand.filter(col("count") > 1)
      .agg(sum(col("count"))).collect().head.getLong(0)
    val groups = cand.filter(col("count") > 1).count()
    assert(groups >= 1, "fixture must contain hot phash buckets")

    val res = DedupPhash.run(t)
    assert(res.victims == dupRows - groups, "keep exactly one per group")
    // Post-state: phash column is now unique.
    val maxCnt = t.scan().groupBy("phash").count().agg(max("count")).collect().head.getLong(0)
    assert(maxCnt == 1L)
    // Canonical = longest caption in each group survives (A6 semantics).
  }

  test("near-dup dedup (hamming<=4) also collapses perturbation neighbors") {
    val t = TestFixtures.freshTable("dedup-near")
    val exact = DedupPhash.run(t) // collapse exact first (separate snapshots)
    val near = DedupPhash.run(t, hammingThreshold = 4)
    // After exact, any remaining near pairs come from perturbations that
    // flipped a few bits; they must now be gone.
    val phashes = t.scan().select("phash").collect().map(_.getLong(0))
    val nearPairs = for {
      i <- phashes.indices; j <- (i + 1) until phashes.length
      if java.lang.Long.bitCount(phashes(i) ^ phashes(j)) <= 4
    } yield 1
    assert(nearPairs.isEmpty, s"${nearPairs.size} near pairs survived (victims=${near.victims})")
  }

  test("near-dup canonical keeps the longest caption in the component (A6 rule)") {
    import spark.implicits._
    // A controlled 3-member near-dup chain: distinct phashes, pairwise
    // within hamming<=4 of a neighbor, captions such that the LONGEST sits
    // on the lexicographically-largest id — min-id canonicalization (the
    // round-2 behavior) would keep the wrong row.
    val root = TestFixtures.workRoot.resolve("dedup-canon").toString
    val t = graft.table.GraftTable.create(root, spark)
    val png = ImageCodec.encodePng(ImageGen.drawBase(16, 16, new scala.util.Random(9)))
    val p = 0x0123456789ABCDEFL
    val rows = Seq(
      ("id-a", png, 16, 16, "png", "short", p),
      ("id-b", png, 16, 16, "png", "medium caption", p ^ 3L),
      ("id-c", png, 16, 16, "png", "the winning much longer caption", p ^ 5L))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    graft.table.GraftTable.append(t, rows)
    val res = DedupPhash.run(t, hammingThreshold = 4)
    assert(res.victims == 2, s"expected 2 victims, got ${res.victims}")
    val kept = t.scan().select("image_id", "caption").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(kept.toSeq == Seq(("id-c", "the winning much longer caption")),
      s"canonical must keep the longest caption, got ${kept.toSeq}")
  }

  test("dedup drops a file whose rows are all victims and commits no zero-row file") {
    import spark.implicits._
    val root = TestFixtures.workRoot.resolve("dedup-whole-file").toString
    val t = graft.table.GraftTable.create(root, spark)
    val png = ImageCodec.encodePng(ImageGen.drawBase(16, 16, new scala.util.Random(3)))
    def rows(ids: Seq[String], caption: String, phashes: Seq[Long]) =
      ids.zip(phashes).map { case (id, p) => (id, png, 16, 16, "png", caption, p) }
        .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    // File A: three canonicals (longest captions) plus one unrelated row.
    // File B: a shorter-captioned duplicate of each canonical, so every row
    // of B is a victim and the rewrite keeps no row at all.
    graft.table.GraftTable.append(t, rows(Seq("a-0", "a-1", "a-2", "a-3"),
      "the canonical longer caption", Seq(11L, 22L, 33L, 44L)), targetFiles = Some(1))
    val fileA = t.currentFiles.map(_.path).toSet
    graft.table.GraftTable.append(t, rows(Seq("b-0", "b-1", "b-2"), "dup",
      Seq(11L, 22L, 33L)), targetFiles = Some(1))
    val fileB = t.currentFiles.map(_.path).toSet -- fileA
    assert(fileA.size == 1 && fileB.size == 1)

    val res = DedupPhash.run(t)
    assert(res.snapshot.exists(_.operation == "merge"))
    assert(res.dupGroups == 3 && res.victims == 3 && res.rewrittenFiles == 1)
    assert(res.snapshot.get.summary("added-files") == "0")
    assert(t.currentFiles.map(_.path).toSet == fileA, "B is removed, A is untouched")
    assert(t.currentFiles.forall(_.rowCount > 0), "no zero-row file is committed")
    assert(t.scan().count() == 4)
    assert(t.scan().select("image_id").as[String].collect().sorted.toSeq ==
      Seq("a-0", "a-1", "a-2", "a-3"))
  }

  test("transcode png->jpg keeps captions byte-equal and pixels above 40dB PSNR") {
    val t = TestFixtures.freshTable("transcode")
    val before = t.scan().select("image_id", "caption", "fmt", "bytes")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getAs[Array[Byte]](3))).toMap
    val res = Transcode.run(t, "png", "jpg")
    // Only the png rows count: affected files also carry jpg rows that pass
    // through untouched.
    assert(res.transcodedRows == before.values.count(_._2 == "png"))
    val after = t.scan().select("image_id", "caption", "fmt", "bytes").collect()
    assert(after.length == before.size)
    after.foreach { r =>
      val id = r.getString(0)
      val (cap0, fmt0, bytes0) = before(id)
      assert(r.getString(1) == cap0, s"$id caption must be byte-equal")
      if (fmt0 == "png") {
        assert(r.getString(2) == "jpg")
        val p = ImageCodec.psnrBytes(bytes0, r.getAs[Array[Byte]](3))
        assert(p >= 40.0, s"$id psnr $p below invariant")
      } else {
        assert(java.util.Arrays.equals(r.getAs[Array[Byte]](3), bytes0),
          s"$id non-transcoded bytes must be untouched")
      }
    }
    // The Psnr expression agrees with the driver-side check (spot).
    val viaExpr = t.scan().limit(5)
      .select(gf.psnr(col("bytes"), col("bytes"))).collect()
    viaExpr.foreach(r => assert(r.getDouble(0) == 999.0))
  }

  test("deleteMatched removes exactly the keyed rows COW, untouched files shared") {
    import spark.implicits._
    val t = TestFixtures.freshTable("merge-delete")
    val before = t.scan().count()
    val filesBefore = t.currentFiles.map(_.path).toSet
    val victims = Seq("img-000000000003", "img-000000000017", "img-000000000500")
    val unrelatedBefore = canon(t.scan().filter(col("image_id") === "img-000000000700"))

    val res = MergeInto.deleteMatched(t, victims.toDF("image_id"))
    assert(res.snapshot.exists(_.operation == "delete"))
    assert(res.deletedRows == 3)
    assert(t.scan().count() == before - 3)
    assert(t.scan().filter(col("image_id").isin(victims: _*)).count() == 0)
    // COW scope: only the files containing victims were replaced.
    val filesAfter = t.currentFiles.map(_.path).toSet
    assert(filesBefore.intersect(filesAfter).size >= filesBefore.size - victims.size)
    // Unrelated rows byte-identical.
    assert(canon(t.scan().filter(col("image_id") === "img-000000000700")) == unrelatedBefore)
    // Idempotent: a second delete of the same keys is a no-op.
    val again = MergeInto.deleteMatched(t, victims.toDF("image_id"))
    assert(again.snapshot.isEmpty && again.deletedRows == 0)
  }

  test("MERGE discovery stats-prunes candidate files for a narrow key range") {
    import spark.implicits._
    val root = TestFixtures.workRoot.resolve("merge-stats-prune").toString
    val t = graft.table.GraftTable.create(root, spark)
    // Key-ordered layout: 8 files with disjoint image_id ranges, so manifest
    // stats can refute most files for a narrow source.
    graft.table.GraftTable.append(t,
      ImageGen.df(spark, 240, seed = 21L, partitions = 4)
        .repartitionByRange(8, col("image_id")))
    val total = t.currentFiles.size
    assert(total >= 8, s"want >=8 files, got $total")
    val ids = t.scan().select("image_id").as[String].collect().sorted.take(2)
    // The prune itself: a 2-key source admits far fewer candidate files.
    val cand = MergeInto.candidateFiles(t.currentFiles, ids.min, ids.max)
    assert(cand.size < total,
      s"narrow-key merge must stats-prune candidates (${cand.size}/$total)")
    // And the pruned paths stay correct end-to-end.
    val before = t.scan().count()
    val res = MergeInto.run(t,
      ids.toSeq.map(id => (id, "pruned-path caption")).toDF("image_id", "caption"))
    assert(res.snapshot.isDefined && res.matchedRows == 2 && res.insertedRows == 0)
    assert(t.scan().count() == before)
    assert(t.scan().filter(col("caption") === "pruned-path caption").count() == 2)
    val del = MergeInto.deleteMatched(t, Seq(ids.head).toDF("image_id"))
    assert(del.deletedRows == 1)
    assert(t.scan().count() == before - 1)
    // An insert whose key is outside every file's range still lands.
    val ins = MergeInto.run(t, Seq(("zzz-new-key",
      graft.images.ImageGen.row(9001, seed = 21L)._2)).toDF("image_id", "bytes"))
    assert(ins.insertedRows == 1)
    assert(t.scan().filter(col("image_id") === "zzz-new-key").count() == 1)
  }
}
