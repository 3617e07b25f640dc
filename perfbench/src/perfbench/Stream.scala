package perfbench

import org.apache.spark.sql.{DataFrame, Row}

import graft.images.ImageGen
import graft.jobs.{Cluster, Compact, ExpireSnapshots}
import graft.table.{EqString, GraftTable}

/** `stream`: a table that already holds `prior` single-file micro-batch
  * commits takes `batches` more micro-batch appends, each followed by two
  * point lookups of committed ids (one from the earlier stream, one from
  * this pass). Inline upkeep follows `appendStreamWithUpkeep`: once the
  * small files reach `upkeepAt` (here: at the last batch of a pass, so every
  * lookup sees the same growing small-file table), compact + incremental
  * cluster, then expire with a keep-last policy. */
object Stream {
  val RowsPerBatch = 3
  val KeepLast = 8
  val Target = 8L * 1024 * 1024

  case class Sizes(prior: Int, batches: Int) {
    def upkeepAt: Int = prior + batches
  }

  def sizes(smoke: Boolean): Sizes =
    if (smoke) Sizes(prior = 12, batches = 4) else Sizes(prior = 100, batches = 20)

  /** Rows in the order they are appended: ids increase with time, as in an
    * ingest stream, so each micro-batch file covers its own narrow id range
    * and a lookup's min/max pruning keeps one file. (With scattered ids the
    * number of files a lookup opens swings around Spark's 32-path parallel
    * listing threshold from id to id, which made lookup latency bimodal.) */
  final class Inputs(val prior: IndexedSeq[Row], val batches: IndexedSeq[IndexedSeq[Row]],
      val sz: Sizes)

  def stage(ctx: Ctx): Inputs = {
    val sz = sizes(ctx.args.smoke)
    val n = (sz.prior + sz.batches) * RowsPerBatch
    val rows = ImageGen.df(ctx.spark, n, ctx.args.seed, partitions = 8).collect()
      .sortBy(_.getString(0)).toIndexedSeq
    val (p, b) = rows.splitAt(sz.prior * RowsPerBatch)
    new Inputs(p, b.grouped(RowsPerBatch).toIndexedSeq, sz)
  }

  private def df(ctx: Ctx, rows: Seq[Row], files: Int): DataFrame =
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(rows, files), ImageGen.schema)

  /** Set-up: the earlier stream, as one file written per prior batch and
    * committed one batch per snapshot. */
  def setup(ctx: Ctx, in: Inputs, root: String): GraftTable = {
    val t = GraftTable.create(root, ctx.spark)
    val files = t.writeDataFiles(df(ctx, in.prior, in.sz.prior))
    files.foreach(f => t.commit("append", Seq(f), Set.empty))
    t
  }

  def pass(ctx: Ctx, in: Inputs, t: GraftTable, rec: Rec): Unit = {
    val t0ms = System.currentTimeMillis()
    val rng = new scala.util.Random(ctx.args.seed * 13 + 5)
    val prior = in.prior.map(Gates.recOf)
    val committed = scala.collection.mutable.ArrayBuffer[RowRec]()
    var written = 0L
    var lookupCpuMs = 0.0
    val (passT0, passCpu0) = (System.nanoTime(), Host.mark())
    for ((batch, i) <- in.batches.zipWithIndex) {
      // `GraftTable.append` is exactly these two calls; split, so the traced
      // phase can time write and commit apart.
      val (_, appendMs) = ctx.timed("append") {
        val files = ctx.span("write")(t.writeDataFiles(df(ctx, batch, 1)))
        ctx.span("commit")(t.commit("append", files, Set.empty))
      }
      ctx.attempted += 1
      committed ++= batch.map(Gates.recOf)
      TableProbe.meta(ctx, t, rec)
      for (want <- Seq(prior(rng.nextInt(prior.size)), committed(rng.nextInt(committed.size)))) {
        val f = Seq(EqString("image_id", want.id))
        TableProbe.plan(ctx, t, f, rec)
        val (got, ms, cpuMs) = ctx.timedCpu("lookup")(t.scanWhere(f).collect())
        ctx.attempted += 1
        if (ctx.check(s"stream: batch $i lookup ${want.id}")(Gates.lookup(want, got)))
          rec.add("read_ms", ms)
        lookupCpuMs += cpuMs
      }
      // The upkeep a batch triggers counts in that batch's append latency.
      var upkeepMs = 0.0
      if (t.currentFiles.count(_.fileSizeBytes < (Target * 3) / 4) >= in.sz.upkeepAt) {
        TableProbe.state(ctx, t, rec) // the table at its largest, before upkeep
        upkeepMs = ctx.timed("job.upkeep") {
          ctx.span("job.compact")(Compact.run(t, Target))
          ctx.span("job.cluster")(Cluster.runIncremental(t, "zorder", Target))
          if (ctx.tracer.isDefined) written = TableProbe.addedBytes(t, t0ms)
          ctx.span("job.expire")(ExpireSnapshots.run(t,
            ExpireSnapshots.retainByPolicy(t.meta, keepLast = Some(KeepLast))))
        }._2
        rec.add("job.upkeep_s", upkeepMs / 1000)
        rec.add("job.s", upkeepMs / 1000)
      }
      rec.add("append_ms", appendMs + upkeepMs)
    }
    val passS = (System.nanoTime() - passT0) / 1e9
    rec.add("work_cpu_s", Host.cpuSince(passCpu0))
    rec.add("read_cpu_ms", lookupCpuMs / (2 * in.batches.size))
    ctx.check("stream: table equals the union of the batches")(
      Gates.same(prior ++ committed, Gates.rows(t.scan())))
    rec.add("work_s", passS)
    rec.add("space_amp", TableProbe.spaceAmp(t))
    rec.add("ops", in.batches.size)
    rec.add("scan.cluster_range_files_kept", t.planFiles(Seq(Maintain.PhashRange)).size)
    if (ctx.tracer.isDefined) TableProbe.engineRecords(t, t0ms, written, rec)
  }
}
