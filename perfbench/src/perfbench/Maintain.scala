package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.images.ImageGen
import graft.jobs._
import graft.table.{EqString, GraftTable, RangeLong}

/** `maintain`: a fresh small-file image table per pass, then the full
  * maintenance sequence with an exact output check after every job, point
  * lookups on the maintained table, and the IVF index build and probes. */
object Maintain {
  /** Target file size for every job: small enough that a few-MB table
    * still has tens of files to prune and four cores to keep busy. */
  val Target = 256L * 1024
  /** Fixed phash range (1/16 of the key space) for the layout-quality count. */
  val PhashRange = RangeLong("phash", Long.MinValue, Long.MinValue + (1L << 60))

  case class Sizes(rows: Int, files: Int, lookups: Int, vectors: Int, probes: Int)

  def sizes(smoke: Boolean): Sizes =
    if (smoke) Sizes(rows = 240, files = 24, lookups = 4, vectors = 400, probes = 2)
    else Sizes(rows = 1200, files = 64, lookups = 40, vectors = 2000, probes = 5)

  final class Inputs(val src: String, val ids: IndexedSeq[String], val sz: Sizes,
      val ivf: Ivf.Inputs, srcRows0: => Seq[RowRec]) {
    lazy val srcRows: Seq[RowRec] = srcRows0
    def n: Int = ids.size
  }

  /** Generate the sources once per run from the seed (untimed). */
  def stage(ctx: Ctx): Inputs = {
    val sz = sizes(ctx.args.smoke)
    val src = s"${ctx.args.work}/maintain-src"
    ImageGen.df(ctx.spark, sz.rows, ctx.args.seed, partitions = 8).write.parquet(src)
    val ids = ctx.spark.read.parquet(src).select("image_id").collect().map(_.getString(0)).sorted
    new Inputs(src, ids.toIndexedSeq, sz, Ivf.stage(ctx, sz.vectors, sz.probes),
      Gates.rows(ctx.spark.read.parquet(src)))
  }

  /** Set-up: create the table and append the source as `sz.files` (64)
    * tiny files in one commit. */
  def setup(ctx: Ctx, in: Inputs, root: String): GraftTable = {
    val t = GraftTable.create(root, ctx.spark)
    GraftTable.append(t, ctx.spark.read.parquet(in.src), targetFiles = Some(in.sz.files))
    t
  }

  /** One pass: the job sequence with its checks, lookups, then the IVF
    * index build and probes. Checks read the snapshot each job committed;
    * a warm-up pass (`ctx.checking` off) skips them. */
  def pass(ctx: Ctx, in: Inputs, t: GraftTable, rec: Rec): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val t0ms = System.currentTimeMillis()
    val rng = new scala.util.Random(ctx.args.seed * 31 + 7)
    def rows(snap: Long) = Gates.rows(t.scan(Some(snap)))
    def now = t.currentSnapshot.snapshotId
    val pre = now
    ctx.check("maintain: set-up holds the generated source")(Gates.same(in.srcRows, rows(pre)))
    var jobS = Map.empty[String, Double]
    var jobCpuS = 0.0
    def job[A](name: String)(f: => A): A = {
      val (r, ms, cpuMs) = ctx.timedCpu(s"job.$name")(f)
      jobS += name -> ms / 1000
      jobCpuS += cpuMs / 1000
      TableProbe.meta(ctx, t, rec)
      r
    }

    job("compact")(Compact.run(t, Target))
    ctx.check("maintain: compact keeps every row")(Gates.same(in.srcRows, rows(now)))
    job("cluster")(Cluster.run(t, "zorder", "global", Target))
    ctx.check("maintain: cluster keeps every row")(Gates.same(in.srcRows, rows(now)))
    rec.add("scan.cluster_range_files_kept", t.planFiles(Seq(PhashRange)).size)

    // MERGE: caption upsert of ~2% of keys plus a few inserts.
    val upd = rng.shuffle(in.ids).take(math.max(1, in.n / 50)).sorted
      .map(id => (id, s"upsert-${ctx.args.seed}-$id"))
    val ins = (0 until math.max(2, in.n / 400)).map(j => ImageGen.row(in.n.toLong + j, ctx.args.seed))
    val srcSchema = StructType(Seq(StructField("image_id", StringType, false),
      StructField("caption", StringType, true), StructField("bytes", BinaryType, true)))
    val mergeSrc = spark.createDataFrame(spark.sparkContext.parallelize(
      upd.map { case (id, c) => Row(id, c, null) } ++ ins.map(r => Row(r._1, r._6, r._2)), 1),
      srcSchema)
    job("merge")(MergeInto.run(t, mergeSrc, targetBytes = Target))
    // The reference: the generated source with plain DataFrame ops.
    val expMerged = spark.read.parquet(in.src)
      .join(upd.toDF("image_id", "new_caption"), Seq("image_id"), "left")
      .select(col("image_id"), col("bytes"), col("w"), col("h"), col("fmt"),
        coalesce(col("new_caption"), col("caption")).as("caption"), col("phash"))
      .unionByName(ins.toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash"))
    ctx.check("maintain: merge matches the DataFrame reference")(
      Gates.same(Gates.rows(expMerged), rows(now)))

    // Delete ~1% of keys.
    val del = rng.shuffle(in.ids).take(math.max(1, in.n / 100)).sorted.toDF("image_id")
    job("delete")(MergeInto.deleteMatched(t, del, Target))
    val afterDelete = now
    ctx.check("maintain: delete matches the DataFrame reference")(
      Gates.same(Gates.rows(expMerged.join(del, Seq("image_id"), "left_anti")), rows(afterDelete)))

    val dd = job("dedup")(DedupPhash.run(t, targetBytes = Target))
    val afterDedup = now
    ctx.check("maintain: dedup")(Gates.dedup(rows(afterDelete), rows(afterDedup), dd.victims))

    // Transcode png -> jpg: payloads of the png rows before and after.
    def payloads(snap: Long, ids: Seq[String]): Map[String, Array[Byte]] =
      t.scan(Some(snap)).select("image_id", "bytes").filter(col("image_id").isin(ids: _*))
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    job("transcode")(Transcode.run(t, "png", "jpg", Target))
    val afterTranscode = now
    ctx.check("maintain: transcode") {
      val before = rows(afterDedup)
      val png = before.filter(_.fmt == "png").map(_.id)
      Gates.transcode(before, rows(afterTranscode), payloads(afterDedup, png),
        payloads(afterTranscode, png))
    }
    val finalRows = if (ctx.checking) rows(afterTranscode) else Nil

    job("rewrite_manifests")(RewriteManifests.run(t))
    ctx.check("maintain: rewrite-manifests keeps every row")(Gates.same(finalRows, rows(now)))

    val retain = (ExpireSnapshots.retainByPolicy(t.meta, keepLast = Some(2)) :+ pre).distinct
    val written = if (ctx.tracer.isDefined) TableProbe.addedBytes(t, t0ms) else 0L
    job("expire")(ExpireSnapshots.run(t, retain))
    ctx.check("maintain: retained snapshots' files exist after expire")(Gates.retainedFilesExist(t))
    ctx.check("maintain: time travel to the pre-maintenance snapshot after the later jobs")(
      Gates.same(in.srcRows, rows(pre)))
    ctx.check("maintain: current rows after expire")(Gates.same(finalRows, rows(now)))

    // Point lookups on the maintained table.
    val byId = finalRows.map(r => r.id -> r).toMap
    val live = rng.shuffle(in.ids.filter(id => !ctx.checking || byId.contains(id)))
    var lookupCpuMs = 0.0
    for (id <- live.take(in.sz.lookups)) {
      val f = Seq(EqString("image_id", id))
      TableProbe.plan(ctx, t, f, rec)
      val (got, ms, cpuMs) = ctx.timedCpu("lookup")(t.scanWhere(f).collect())
      ctx.attempted += 1
      if (ctx.check(s"maintain: lookup $id")(Gates.lookup(byId(id), got))) rec.add("read_ms", ms)
      lookupCpuMs += cpuMs
    }

    val ivfRoot = s"${t.root}-ivf"
    val ivf = try Ivf.pass(ctx, in.ivf, ivfRoot, rec) finally Fs.delete(ivfRoot)
    // Reads are the lookups and the IVF probes; work is the eight jobs and
    // the IVF build, so the k-means and probe operators count in the gates.
    rec.add("read_cpu_ms", (lookupCpuMs + ivf.probeCpuMs) / (in.sz.lookups + ivf.probeCalls))

    ctx.attempted += jobS.size + 1
    val total = jobS.values.sum
    rec.add("work_s", total + ivf.buildS)
    rec.add("work_cpu_s", jobCpuS + ivf.buildCpuS)
    rec.add("maintain_s", total)
    jobS.foreach { case (k, v) => rec.add(s"job.${k}_s", v) }
    rec.add("job.s", total + ivf.buildS)
    rec.add("compact_cluster_images_per_s", 2.0 * in.n / (jobS("compact") + jobS("cluster")))
    rec.add("space_amp", TableProbe.spaceAmp(t))
    rec.add("ops", jobS.size + in.sz.lookups)
    TableProbe.state(ctx, t, rec)
    if (ctx.tracer.isDefined) TableProbe.engineRecords(t, t0ms, written, rec)
  }
}
