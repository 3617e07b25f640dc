package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.jobs.BuildIvf
import graft.table.{GraftTable, InLong}

/** The IVF index maintenance step of `maintain`: build the bucket-partitioned
  * index over seeded clustered vectors, then probe it. Probe checks: topK
  * rows, descending cosine, ids present in the index, and identical results
  * when a probe is repeated. */
object Ivf {
  val Dims = 64
  val Centers = 8
  val TopK = 10
  val NProbe = 2

  final class Inputs(val src: String, val initIds: Seq[Long], val probes: IndexedSeq[Array[Double]])

  /** What a pass spent: the build's wall and CPU seconds, and the CPU
    * milliseconds of its `probeCalls` probe calls. */
  final case class Cost(buildS: Double, buildCpuS: Double, probeCpuMs: Double, probeCalls: Int)

  /** `n` vectors around `Centers` seeded centres, written once per run. */
  def stage(ctx: Ctx, n: Int, probes: Int): Inputs = {
    val rng = new scala.util.Random(ctx.args.seed * 101 + 13)
    val centres = Array.fill(Centers, Dims)(rng.nextGaussian())
    val vecs = (0 until n).map { i =>
      centres(i % Centers).map(x => (x + 0.3 * rng.nextGaussian()).toFloat)
    }
    val schema = StructType(Seq(StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    val src = s"${ctx.args.work}/ivf-src"
    ctx.spark.createDataFrame(ctx.spark.sparkContext.parallelize(
      vecs.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) }, 4), schema)
      .write.parquet(src)
    new Inputs(src,
      rng.shuffle((0 until n).map(_.toLong)).take(Centers).sorted,
      IndexedSeq.fill(probes)(vecs(rng.nextInt(n)).map(_.toDouble)))
  }

  /** Build at `root`, then probe every vector twice. */
  def pass(ctx: Ctx, in: Inputs, root: String, rec: Rec): Cost = {
    val spark = ctx.spark
    val (idx, ms, cpuMs) = ctx.timedCpu("job.build_ivf")(BuildIvf.run(spark,
      spark.read.parquet(in.src), "vec_id", "embedding", root, in.initIds, iters = 3).table)
    rec.add("ivf_build_s", ms / 1000)
    lazy val ids = idx.scan().select("vec_id").collect().map(_.getLong(0)).toSet
    var probeCpuMs = 0.0
    for ((v, i) <- in.probes.zipWithIndex) {
      val runs = (1 to 2).map { _ =>
        val (got, ms, cpuMs) = ctx.timedCpu("probe")(BuildIvf.probe(idx, v, NProbe, TopK).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
        ctx.attempted += 1
        probeCpuMs += cpuMs
        (got, ms)
      }
      val got = runs.head._1
      val ok = ctx.check(s"ivf: probe $i")(
        if (got.length != TopK) Some(s"${got.length} rows, want $TopK")
        else if (got.sliding(2).exists(p => p(0)._3 < p(1)._3)) Some("cos not descending")
        else if (!got.forall(g => ids.contains(g._1))) Some("id not in the index")
        else if (!runs.forall(_._1.sameElements(got))) Some("repeat differs")
        else None)
      if (ok) runs.foreach(r => rec.add("ivf_probe_ms", r._2))
    }
    if (ctx.tracer.isDefined) {
      in.probes.foreach(v => rec.add("ivf.probe_files_kept",
        idx.planFiles(Seq(InLong("bucket", nearest(idx, v)))).size))
      rec.add("ivf.centroids_ms", ctx.timed("ivf.centroids")(BuildIvf.centroidsOf(idx))._2)
    }
    Cost(ms / 1000, cpuMs / 1000, probeCpuMs, 2 * in.probes.size)
  }

  /** The buckets a probe opens: the `NProbe` centroids nearest to `v` by
    * the engine's scaled squared distance. */
  private def nearest(idx: GraftTable, v: Array[Double]): Seq[Long] = {
    val q = v.map(graft.operators.KMeans.scaleValue)
    BuildIvf.centroidsOf(idx).map { case (cid, cv) =>
      (cv.indices.map { i => val d = q(i) - cv(i); d * d }.sum, cid)
    }.sorted.take(NProbe).map(_._2)
  }
}
