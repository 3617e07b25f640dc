package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.images.{ImageCodec, ImageGen}
import graft.jobs.{Cluster, Compact, DedupPhash, ExpireSnapshots, Ingest, MergeInto,
  RewriteManifests, Transcode}
import graft.lineage.Metrics
import graft.table.{GraftTable, SchemaEvolution}

/** Round-2 surface: schema-evolution gate, external-directory ingest,
  * observability metrics (VERDICT.md round-1 items 8/9/10). */
class EvolutionIngestSpec extends GraftSuite {

  // ------------------------------------------------------------- evolution

  test("additive schema evolution: appended column commits metadata-only and old files read NULL") {
    val t = TestFixtures.freshTable("evolve-add")
    val dataFilesBefore = t.currentFiles.map(_.path).toSet
    val changes = t.evolveSchema(
      GraftTable.ImageSchemaDdl + ", license STRING")
    assert(changes == Seq(SchemaEvolution.AddColumn("license",
      org.apache.spark.sql.types.StringType)))
    // Metadata-only: zero data IO, same files, same snapshot.
    assert(t.currentFiles.map(_.path).toSet == dataFilesBefore)
    // Old files scan under the new schema; the new column reads as NULL.
    val df = t.scan()
    assert(df.schema.fieldNames.contains("license"))
    assert(df.filter(col("license").isNull).count() == df.count())
    // And new appends can carry the column.
    val extra = ImageGen.df(spark, 10, seed = 7L, partitions = 1)
      .withColumn("license", lit("cc-by"))
    GraftTable.append(t, extra)
    assert(t.scan().filter(col("license") === "cc-by").count() == 10)
  }

  test("widening int->long is additive and old int32 files still read") {
    val t = TestFixtures.freshTable("evolve-widen")
    val rowsBefore = t.scan().count()
    val sumBefore = t.scan().agg(sum(col("w").cast("long"))).head().getLong(0)
    val changes = t.evolveSchema(
      "image_id STRING, bytes BINARY, w BIGINT, h INT, fmt STRING, caption STRING, phash BIGINT")
    assert(changes.exists {
      case SchemaEvolution.WidenType("w", _, _) => true; case _ => false
    })
    val df = t.scan()
    assert(df.schema("w").dataType == org.apache.spark.sql.types.LongType)
    assert(df.count() == rowsBefore)
    assert(df.agg(sum("w")).head().getLong(0) == sumBefore)
  }

  test("breaking changes are refused with a full classification") {
    val t = TestFixtures.freshTable("evolve-breaking")
    val drop = intercept[IllegalArgumentException] {
      t.evolveSchema("image_id STRING, bytes BINARY, w INT, h INT, fmt STRING, caption STRING")
    }
    assert(drop.getMessage.contains("drop column phash"))
    val narrow = intercept[IllegalArgumentException] {
      t.evolveSchema("image_id STRING, bytes BINARY, w INT, h INT, fmt STRING, caption STRING, phash INT")
    }
    assert(narrow.getMessage.contains("retype phash"))
    // Refusal leaves the schema untouched.
    assert(t.meta.schemaDdl == GraftTable.ImageSchemaDdl)
    // No-op evolution returns empty.
    assert(t.evolveSchema(GraftTable.ImageSchemaDdl).isEmpty)
  }

  test("evolved extra column survives every COW rewrite (compact, merge, transcode, dedup, delete)") {
    import spark.implicits._
    val t = TestFixtures.freshTable("evolve-cow")
    t.evolveSchema(GraftTable.ImageSchemaDdl + ", license STRING")
    GraftTable.append(t, ImageGen.df(spark, 40, seed = 31L, partitions = 4)
      .withColumn("image_id", concat(lit("lic-"), col("image_id")))
      .withColumn("license", lit("cc-by")), targetFiles = Some(4))
    def licensed = t.scan().filter(col("license") === "cc-by").count()
    assert(licensed == 40)

    Compact.run(t, targetBytes = 8L * 1024 * 1024)
    assert(licensed == 40, "compact dropped the evolved column")
    graft.jobs.MergeInto.run(t,
      Seq(("lic-img-000000000001", "fixed")).toDF("image_id", "caption"))
    assert(licensed == 40, "merge update dropped the evolved column")
    graft.jobs.Transcode.run(t, "png", "jpg")
    assert(licensed == 40, "transcode dropped the evolved column")
    graft.jobs.MergeInto.deleteMatched(t, Seq("lic-img-000000000002").toDF("image_id"))
    assert(licensed == 39, "delete must remove exactly one licensed row")
    // Inserts of a schema-evolved table carry typed NULL for the new column.
    val png = ImageGen.row(999L, seed = 31L)._2
    graft.jobs.MergeInto.run(t,
      Seq(("brand-new-row", "fresh", png)).toDF("image_id", "caption", "bytes"))
    val fresh = t.scan().filter(col("image_id") === "brand-new-row")
    assert(fresh.count() == 1 && fresh.filter(col("license").isNull).count() == 1)
  }

  // ---------------------------------------------------------------- ingest

  test("directory ingest: recursive scan with include/exclude globs, decoded columns match the files") {
    val dir = TestFixtures.workRoot.resolve("ingest-src")
    Files.createDirectories(dir.resolve("a/deep"))
    Files.createDirectories(dir.resolve("b"))
    // Deterministic fixture files drawn by the generator.
    def put(rel: String, i: Long): Array[Byte] = {
      val (_, bytes, _, _, _, _, _) = ImageGen.row(i, seed = 11L)
      Files.write(dir.resolve(rel), bytes); bytes
    }
    val a1 = put("a/one.png", 1)
    put("a/deep/two.img", 2)
    put("b/three.img", 3)
    Files.write(dir.resolve("a/skip.txt"), "not an image".getBytes)
    Files.write(dir.resolve("b/ignored.img"), {
      val (_, b, _, _, _, _, _) = ImageGen.row(4, seed = 11L); b
    })
    // Matches *.img and carries a PNG magic, but is truncated garbage: must
    // be SKIPPED by the safe decode, not fail the job.
    Files.write(dir.resolve("b/corrupt.img"),
      Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10, 1, 2, 3))

    val root = TestFixtures.workRoot.resolve("ingest-tbl").toString
    val t = GraftTable.create(root, spark)
    val r = Ingest.run(t, dir.toString,
      include = Seq("*.png", "*.img"), exclude = Seq("b/ignored.img"))
    assert(r.rows == 3, s"expected 3 ingested rows, got ${r.rows}")
    // 4 files matched the globs (one.png, deep/two.img, three.img,
    // corrupt.img); the corrupt one is the skip.
    assert(r.filesScanned == 4, s"expected 4 scanned, got ${r.filesScanned}")
    assert(r.skipped == 1, s"expected 1 skipped, got ${r.skipped}")
    assert(r.filesWritten >= 1)
    assert(r.snapshot.exists(_.operation == "append"))

    val rows = t.scan().collect().map(r => r.getAs[String]("caption") -> r).toMap
    assert(rows.keySet == Set("a/one", "a/deep/two", "b/three"))
    val one = rows("a/one")
    val img = ImageCodec.decode(a1)
    assert(one.getAs[Int]("w") == img.getWidth)
    assert(one.getAs[Int]("h") == img.getHeight)
    assert(one.getAs[String]("fmt") == ImageCodec.detectFmt(a1))
    assert(one.getAs[Long]("phash") == ImageCodec.phash(a1))
    assert(one.getAs[Array[Byte]]("bytes").toSeq == a1.toSeq)
    // image_id is the sha-256 of the relative path: stable under re-ingest.
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val expectId = md.digest("a/one.png".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    assert(one.getAs[String]("image_id") == expectId)
  }

  test("multi-glob includes push into the listing: non-matching files never listed") {
    val dir = TestFixtures.workRoot.resolve("ingest-pushdown")
    Files.createDirectories(dir.resolve("a"))
    def put(rel: String, i: Long): Unit = {
      val (_, bytes, _, _, _, _, _) = ImageGen.row(i, seed = 19L)
      Files.write(dir.resolve(rel), bytes); ()
    }
    put("a/one.png", 1)
    put("a/two.img", 2)
    Files.write(dir.resolve("a/skip.txt"), "not an image".getBytes)
    val root = TestFixtures.workRoot.resolve("ingest-pushdown-tbl").toString
    val t = GraftTable.create(root, spark)
    // inputFiles reflects the FileIndex listing itself (the row-level rlike
    // is invisible to it): with the {a,b} pathGlobFilter alternation pushed,
    // skip.txt must be absent FROM THE LISTING, not merely filtered later.
    val listed = Ingest.scan(t, dir.toString,
      include = Seq("*.png", "*.img")).inputFiles
    assert(listed.exists(_.endsWith("one.png")) && listed.exists(_.endsWith("two.img")))
    assert(!listed.exists(_.endsWith("skip.txt")),
      s"multi-glob include must push into the listing; listed: ${listed.mkString(",")}")
    // End-to-end parity: scanned count matches the pushed listing.
    assert(Ingest.run(t, dir.toString, include = Seq("*.png", "*.img")).rows == 2)
  }

  test("metrics attribution: sibling roots sharing a path prefix do not cross-record") {
    val work = TestFixtures.workRoot.resolve("metrics-sib")
    val r1 = work.resolve("tbl").toString // path-prefix of r2 — the trap
    val r2 = work.resolve("tbl2").toString
    GraftTable.create(r1, spark)
    val t2 = GraftTable.create(r2, spark)
    GraftTable.append(t2, ImageGen.df(spark, 10, seed = 31L, partitions = 1))
    t2.scan().count()
    // QueryExecutionListener delivery is async: wait for r2's event first.
    var tries = 0
    while (!Metrics.events(r2).exists(_.kind == "query") && tries < 100) {
      Thread.sleep(50); tries += 1
    }
    val e1 = Metrics.events(r1).filter(_.kind == "query")
    assert(Metrics.events(r2).exists(_.kind == "query"))
    assert(e1.isEmpty,
      s"prefix-sibling root misattributed ${e1.size} events: ${e1.map(_.name)}")
  }

  test("metrics session registry does not retain dropped sessions") {
    val before = Metrics.trackedSessions
    (1 to 8).foreach { i =>
      val s = spark.newSession()
      Metrics.install(s, TestFixtures.workRoot.resolve(s"leak-$i").toString)
    }
    assert(Metrics.trackedSessions >= before + 7) // allow one concurrent GC
    var tries = 0
    while (Metrics.trackedSessions > before + 2 && tries < 60) {
      System.gc(); Thread.sleep(50); tries += 1
    }
    assert(Metrics.trackedSessions <= before + 2,
      s"weak registry must release dropped sessions " +
        s"(${Metrics.trackedSessions} tracked, started at $before)")
  }

  test("glob to regex semantics: * stays within a directory, ** crosses") {
    assert("a/b/c.png".matches(Ingest.globToRegex("**.png")))
    assert("c.png".matches(Ingest.globToRegex("*.png")))
    assert("a/c.png".matches(Ingest.globToRegex("*.png"))) // bare glob: any depth basename
    assert(!"a/sub/c.jpg".matches(Ingest.globToRegex("a/*.jpg")))
    assert("a/sub/c.jpg".matches(Ingest.globToRegex("a/**.jpg")))
    assert("x1y".matches(Ingest.globToRegex("x?y")))
    assert(!"x/y".matches(Ingest.globToRegex("x?y")))
  }

  // --------------------------------------------------------------- metrics

  test("observability: compact records job metrics and query events in the lineage dir") {
    val t = TestFixtures.freshTable("metrics-compact")
    Compact.run(t, targetBytes = 4L * 1024 * 1024)
    t.scan().count() // a query action after listener install
    // Listener events land on the listener bus asynchronously; wait briefly.
    val deadline = System.currentTimeMillis() + 15000
    def evs = Metrics.events(t.root)
    while (System.currentTimeMillis() < deadline &&
      (!evs.exists(_.kind == "job") || !evs.exists(_.kind == "query")))
      Thread.sleep(100)
    val events = evs
    val job = events.find(e => e.kind == "job" && e.name == "compact")
    assert(job.isDefined, s"no compact job metric in ${events.map(_.name)}")
    assert(job.get.durationMs > 0)
    assert(job.get.detail("files-in").toInt > job.get.detail("files-out").toInt)
    val queries = events.filter(_.kind == "query")
    assert(queries.nonEmpty)
    assert(queries.exists(_.durationMs >= 0))
  }

  test("observability: every maintenance job kind records a non-zero duration") {
    import spark.implicits._
    val t = TestFixtures.freshTable("metrics-durations")
    val dir = TestFixtures.workRoot.resolve("metrics-durations-src")
    Files.createDirectories(dir)
    Files.write(dir.resolve("one.png"), ImageGen.row(1, seed = 13L)._2)
    Compact.run(t, targetBytes = 4L * 1024 * 1024)
    Cluster.run(t, curve = "zorder", mode = "global", targetBytes = 192L * 1024)
    MergeInto.run(t, Seq(("img-000000000001", "a fixed caption")).toDF("image_id", "caption"))
    MergeInto.deleteMatched(t, Seq("img-000000000002").toDF("image_id"))
    DedupPhash.run(t)
    Transcode.run(t, "png", "jpg")
    Ingest.run(t, dir.toString)
    RewriteManifests.run(t)
    ExpireSnapshots.run(t, retain = Seq(t.currentSnapshot.snapshotId))
    val jobs = Metrics.events(t.root).filter(_.kind == "job")
    Seq("compact", "cluster", "merge", "delete", "dedup", "transcode", "ingest",
      "rewrite-manifests", "expire").foreach { k =>
      val recs = jobs.filter(_.name == k)
      assert(recs.nonEmpty, s"no $k job record in ${jobs.map(_.name)}")
      assert(recs.forall(_.durationMs > 0), s"$k: ${recs.map(_.durationMs)}")
    }
  }

  test("metrics tail: bounded recent-events view returns the N latest in ts order") {
    val root = TestFixtures.workRoot.resolve("metrics-tail").toString
    // Two interleaved per-process files with explicit strictly-increasing ts
    // (recordJob stamps wall-clock, which collides within one ms) — the tail
    // must merge across files, not just truncate one.
    val d = Metrics.dir(root)
    java.nio.file.Files.createDirectories(d)
    def jsonl(name: String, is: Seq[Int]): Unit =
      java.nio.file.Files.write(d.resolve(name), is.map(i =>
        graft.table.TableJson.write(Metrics.QueryEvent(
          1000L + i, "job", s"job-$i", i.toLong, None, None, None,
          Map("i" -> i.toString)))).mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    jsonl("metrics-1.jsonl", (1 to 50 by 2))
    jsonl("metrics-2.jsonl", (2 to 50 by 2))
    val all = Metrics.events(root)
    assert(all.size == 50)
    val tail = Metrics.events(root, tail = Some(10))
    assert(tail.size == 10)
    assert(tail.map(_.detail("i").toInt).toSet == (41 to 50).toSet,
      s"tail should keep the 10 most recent: ${tail.map(_.name)}")
    assert(tail == tail.sortBy(_.ts), "tail is ts-ordered")
    assert(Metrics.events(root, tail = Some(0)).isEmpty)
    assert(Metrics.events(root, tail = Some(500)).size == 50)
  }

  test("metrics read: a torn FINAL line is tolerated silently; mid-file corruption is counted") {
    val root = TestFixtures.workRoot.resolve("metrics-torn").toString
    val d = Metrics.dir(root)
    java.nio.file.Files.createDirectories(d)
    def ev(i: Int): String = graft.table.TableJson.write(Metrics.QueryEvent(
      1000L + i, "job", s"job-$i", i.toLong, None, None, None, Map.empty))
    def put(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(d.resolve(name),
        lines.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // File A: a live writer's torn tail — benign, not counted.
    put("metrics-a.jsonl", Seq(ev(1), ev(2), """{"ts":3,"kind":"jo"""))
    assert(Metrics.events(root).size == 2)
    assert(Metrics.lastCorruptLines == 0L,
      "a torn final line is the benign race, not corruption")
    // File B: garbage in the MIDDLE of the history — real corruption; the
    // read still succeeds (observability never fails the caller) but the
    // skipped lines are surfaced instead of history silently shrinking.
    put("metrics-b.jsonl", Seq(ev(4), "NOT JSON AT ALL", ev(6)))
    val evs = Metrics.events(root)
    assert(evs.count(_.name.startsWith("job-")) == 4)
    assert(Metrics.lastCorruptLines == 1L,
      s"mid-file corruption must be counted: ${Metrics.lastCorruptLines}")
  }
}
