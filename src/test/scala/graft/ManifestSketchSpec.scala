package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.images.ImageGen
import graft.jobs.{Cluster, Compact, RewriteManifests}
import graft.lineage.{Lineage, Metrics}
import graft.table._

/** Each manifest entry's [[IdSketch]]: a lookup keeps the file holding its
  * key whatever the key's bytes, an entry without one keeps its file, every
  * path that carries an entry carries the sketch, and on a clustered table
  * with hash-like ids a lookup opens about one file. */
class ManifestSketchSpec extends GraftSuite {

  private def table(name: String): GraftTable =
    GraftTable.create(TestFixtures.workRoot.resolve(name).toString, spark)

  /** The files of `t` holding a row whose `image_id` equals `k` as the
    * residual filter compares it. */
  private def holders(t: GraftTable, k: String): Seq[DataFileMeta] =
    t.currentFiles.filter(f =>
      t.readFiles(Seq(f)).filter(col("image_id") === lit(k)).count() > 0)

  /** Every path read back from disk, not from the manifest cache. */
  private def fromDisk(t: GraftTable): Seq[DataFileMeta] = {
    MetaIO.invalidate(t.root)
    t.currentFiles.sortBy(_.path)
  }

  private val smiley = new String(Character.toChars(0x1F642))

  test("a lookup keeps the file holding its key: non-BMP, unpaired surrogate, empty and null ids") {
    val t = table("sketch-keys")
    val special = Seq(smiley, "x\uD800", "\uDC00y", "", null)
    // Five files; file i holds "a-i", "\uFFFF-i" and special key i, so the
    // min/max of most files spans most keys.
    val rows = special.zipWithIndex.flatMap { case (k, i) =>
      Seq(s"a-$i", s"\uFFFF-$i", k).map(id =>
        Row(id, Array[Byte](i.toByte), 1, 1, "png", s"c$i", i.toLong))
    }
    GraftTable.append(t, spark.createDataFrame(
      spark.sparkContext.parallelize(rows, special.size), t.schema))
    val files = t.currentFiles
    assert(files.size == special.size && files.forall(_.idSketch.isDefined))
    for (k <- special.filter(_ != null) ++ special.indices.map(i => s"a-$i")) {
      val Seq(holder) = holders(t, k)
      assert(t.planFiles(Seq(EqString("image_id", k))).contains(holder), s"key '$k' pruned")
      assert(t.scanWhere(Seq(EqString("image_id", k))).count() == 1, s"key '$k'")
    }
    // The unpaired surrogates are stored as '?', as the residual reads them.
    assert(t.scanWhere(Seq(EqString("image_id", "x?"))).count() == 1)
    // The null id reads back; a key no file holds opens no file.
    assert(t.scanWhere(Seq(EqString("fmt", "png"))).filter(col("image_id").isNull).count() == 1)
    assert(t.planFiles(Seq(EqString("image_id", "a-9"))).isEmpty)
    // The sketch prunes where the stats cannot: every file's min/max holds "a-1".
    assert(files.count(PruneFilter.statsMayMatch(_, EqString("image_id", "a-1"))) >= 3)
    assert(t.planFiles(Seq(EqString("image_id", "a-1"))).size == 1)
  }

  test("a manifest entry written without a sketch loads as None and keeps its file") {
    val t = table("sketch-legacy")
    GraftTable.append(t, ImageGen.df(spark, 30, seed = 21L, partitions = 3))
    val Seq(name) = t.currentSnapshot.manifests
    val path = MetaIO.metadataDir(t.root).resolve(name)
    val json = JsonMethods.parse(new String(Files.readAllBytes(path), StandardCharsets.UTF_8))
    assert((json \\ "idSketch").children.size == 3)
    // The entry as written before sketches existed: no idSketch key.
    val legacy = json.removeField(_._1 == "idSketch")
    Files.write(path, JsonMethods.compact(JsonMethods.render(legacy))
      .getBytes(StandardCharsets.UTF_8))
    val files = fromDisk(t)
    assert(files.size == 3 && files.forall(_.idSketch.isEmpty))
    val id = t.scan().select("image_id").head().getString(0)
    val Seq(holder) = holders(t, id)
    assert(t.planFiles(Seq(EqString("image_id", id))).contains(holder))
    assert(t.scanWhere(Seq(EqString("image_id", id))).count() == 1)
  }

  test("the sketch survives commit's manifest rewrite, RewriteManifests and a resumed compact") {
    val t = TestFixtures.freshTable("sketch-paths")
    val written = fromDisk(t)
    assert(written.forall(_.idSketch.isDefined))

    // A removal rewrites the manifest minus the removed entry.
    val victim = written.head
    t.commit("delete", Nil, Set(victim.path))
    assert(fromDisk(t) == written.tail)

    RewriteManifests.run(t)
    assert(t.currentSnapshot.operation == "rewrite-manifests")
    assert(fromDisk(t) == written.tail)

    // A compact killed after one unit, then resumed: the commit takes every
    // unit's files from the unit lineage JSON.
    intercept[Exception](Compact.run(t, targetBytes = 192L * 1024, maxConcurrentBins = 1,
      failAfterUnits = Some(1), waveSize = 3))
    val res = Compact.run(t, targetBytes = 192L * 1024, maxConcurrentBins = 1, waveSize = 3)
    assert(res.binsResumed >= 1)
    val fromLineage = Lineage.committedUnits(t.root, res.jobId).values
      .flatMap(_.filesOut).toSeq.sortBy(_.path)
    val compacted = fromDisk(t)
    assert(compacted == fromLineage && compacted.forall(_.idSketch.isDefined))
    for (id <- t.scan().select("image_id").limit(20).collect().map(_.getString(0)))
      assert(t.scanWhere(Seq(EqString("image_id", id))).count() == 1, id)
  }

  test("on a clustered table with hash-like ids, 40 lookups each open at most 2 files, the holder always") {
    val t = table("sketch-clustered")
    GraftTable.append(t, ImageGen.df(spark, 1200, seed = 5101L, partitions = 64))
    Compact.run(t, targetBytes = 256L * 1024)
    Cluster.run(t, "zorder", "global", 256L * 1024)
    val files = t.currentFiles
    assert(files.size >= 4, s"${files.size} files")
    val byFile = t.scan().select(col("image_id"), input_file_name().as("f")).collect()
      .map(r => r.getString(0) -> Paths.get(java.net.URI.create(r.getString(1))).toString).toMap
    val ids = new scala.util.Random(7).shuffle(byFile.keys.toSeq.sorted).take(40)
    // Driver reads only: the listener may still deliver the scan's event above.
    def lookups = Metrics.events(t.root).filter(e =>
      e.kind == "query" && e.name == "collect" && e.detail.contains("files-considered"))
    val before = lookups.size
    val keptSizes = for (id <- ids) yield {
      val f = Seq(EqString("image_id", id))
      val kept = t.planFiles(f)
      assert(kept.size <= 2, s"$id kept ${kept.size} of ${files.size}")
      assert(kept.exists(k => Paths.get(k.absPath(t.root)).toAbsolutePath.toString == byFile(id)))
      val rel = t.scanWhere(f)
      val read = rel.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          lr.getTagValue(Metrics.DriverReadTag)
      }.flatten
      assert(read.map(_.bytes).contains(kept.map(_.fileSizeBytes).sum), s"$id read $read")
      assert(rel.collect().map(_.getAs[String]("image_id")).toSeq == Seq(id))
      kept.size
    }
    assert(keptSizes.count(_ == 1) >= 36, s"kept per lookup: $keptSizes")
    // The stats alone keep most files: ids are hash-like after cluster.
    val byStats = ids.map(id => files.count(PruneFilter.statsMayMatch(_, EqString("image_id", id))))
    assert(byStats.sum > 3 * ids.size, s"kept by stats: $byStats")
    // Each lookup's query event carries its pruning counts.
    val deadline = System.currentTimeMillis() + 15000
    while (lookups.size < before + ids.size && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    val counts = lookups.drop(before).map(e => Seq("files-considered", "files-kept-by-stats",
      "files-dropped-by-sketch").map(e.detail(_).toInt))
    assert(counts == byStats.zip(keptSizes).map { case (s, k) => Seq(files.size, s, s - k) })
  }

  test("manifest entry growth: a sketch up to the cap, none above it") {
    def sketchOf(rows: Long): Option[IdSketch] = {
      val b = new IdSketch.Builder
      (0L until rows).foreach(i => b.add(UTF8String.fromString(f"img-$i%012d")))
      b.result()
    }
    val stats = ImageGen.df(spark, 3, seed = 1L, partitions = 1).schema.fields
      .filterNot(_.name == "bytes").map(c => c.name -> ColStats(Some("x" * 16), Some("y" * 16), 0L)).toMap
    def entryBytes(s: Option[IdSketch]): Int = TableJson.write(DataFileMeta(
      "data/0123456789ab/part-00000-01234567-89ab-cdef-0123-456789abcdef.parquet",
      1L << 20, 1000L, stats, s)).length
    val plain = entryBytes(None)
    val grown = Seq(3L, 240L, 5000L, IdSketch.MaxRows).map { n =>
      val s = sketchOf(n)
      assert(s.exists(_.bits.length == IdSketch.bytesFor(n)), s"$n rows")
      n -> (entryBytes(s) - plain)
    }
    info(s"entry $plain bytes without a sketch; growth by rows: ${grown.mkString(", ")}")
    assert(IdSketch.bytesFor(IdSketch.MaxRows) == IdSketch.MaxBytes)
    assert(grown.forall(_._2 <= (IdSketch.MaxBytes + 2) / 3 * 4 + 16))
    assert(sketchOf(IdSketch.MaxRows + 1).isEmpty)
    // Sized for 1%: membership of 20,000 absent keys at 5,000 rows.
    val s = sketchOf(5000L).get
    val fp = (0 until 20000).count(i => s.mayContain(s"absent-$i"))
    assert(fp < 20000 * 0.02, s"$fp false positives")
  }
}
