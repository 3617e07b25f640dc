package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.GraftSession
import graft.jobs.MergeInto
import graft.table.{GraftTable, ManifestData, MetaIO, TableJson}

/** Negative controls for the output gates: each gate must pass on an exact
  * copy of a table and fail on a copy with one defect.
  *
  * Usage: perfbench.SelfTest WORKDIR — exits 0 iff every control behaves. */
object SelfTest {
  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val d = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.REPLACE_EXISTING)
    } finally walk.close()
  }

  def main(argv: Array[String]): Unit = {
    val work = argv(0)
    val spark = GraftSession.get(Main.Cores)
    val ctx = new Ctx(spark, Args("selftest", 1L, 1.0, trace = false, work, "", smoke = true))
    val results = scala.collection.mutable.ArrayBuffer[(String, Boolean)]()
    def expect(what: String, wantFail: Boolean)(gate: => Option[String]): Unit = {
      val r = gate
      println(s"$what: ${r.getOrElse("pass")}")
      results += what -> (r.isDefined == wantFail)
    }

    // maintain gate: a copy of the table with one caption flipped.
    val in = Maintain.stage(ctx)
    val t = Maintain.setup(ctx, in, s"$work/maintain")
    val rows = Gates.rows(t.scan())
    copyTree(t.root, s"$work/maintain-copy")
    val c = GraftTable.load(s"$work/maintain-copy", spark)
    expect("maintain gate, exact copy", wantFail = false)(Gates.same(rows, Gates.rows(c.scan())))
    val schema = StructType(Seq(StructField("image_id", StringType), StructField("caption", StringType)))
    MergeInto.run(c, spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(rows.head.id, rows.head.caption + " (flipped)")), 1), schema))
    expect("maintain gate, one caption flipped", wantFail = true)(Gates.same(rows, Gates.rows(c.scan())))

    // stream gate: a copy of the table whose manifest lost one file.
    val sin = Stream.stage(ctx)
    val s = Stream.setup(ctx, sin, s"$work/stream")
    val want = sin.prior.map(Gates.recOf)
    copyTree(s.root, s"$work/stream-copy")
    val sc = GraftTable.load(s"$work/stream-copy", spark)
    expect("stream gate, exact copy", wantFail = false)(Gates.same(want, Gates.rows(sc.scan())))
    val victim = sc.currentSnapshot.manifests.head
    val mp: Path = MetaIO.metadataDir(sc.root).resolve(victim)
    val md = TableJson.read[ManifestData](new String(Files.readAllBytes(mp), StandardCharsets.UTF_8))
    Files.write(mp, TableJson.write(md.copy(files = md.files.tail)).getBytes(StandardCharsets.UTF_8))
    MetaIO.invalidate(sc.root) // read the edited manifest as a fresh process would
    val edited = GraftTable.load(s"$work/stream-copy", spark)
    expect("stream gate, manifest missing one file", wantFail = true)(
      Gates.same(want, Gates.rows(edited.scan())))

    spark.stop()
    val bad = results.filterNot(_._2).map(_._1)
    if (bad.nonEmpty) { System.err.println(s"controls that misbehaved: ${bad.mkString(", ")}"); sys.exit(1) }
    println(s"all ${results.size} controls behave")
  }
}
