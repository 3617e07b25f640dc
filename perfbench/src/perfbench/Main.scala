package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession
import graft.table.GraftTable
import org.apache.spark.perfbench.BusDrain

/** Runs one workload of the benchmark once (see perfbench/README.md).
  *
  * Usage: perfbench.Main --workload maintain|stream --seed N
  *   --seconds S --trace 0|1 --work DIR --out FILE [--smoke]
  *
  * Every workload is a closed loop with one client on `local[4]`. It stages
  * its inputs from the seed, times three set-ups, runs one untimed and
  * unchecked warm-up pass, then measured passes until `--seconds` have
  * passed. With `--trace 1` a traced phase and a second untraced phase
  * follow; the per-layer numbers come from the traced phase. */
object Main {
  val Cores = 4

  /** Per-layer metrics every workload reports from its traced phase. */
  val PerLayer = Seq(
    "meta.load_ms" -> "ms", "meta.version_resolve_ms" -> "ms", "meta.manifest_read_ms" -> "ms",
    "meta.metadata_files" -> "count", "meta.live_manifests" -> "count", "meta.snapshots" -> "count",
    "scan.plan_ms" -> "ms", "scan.files_considered" -> "count", "scan.files_kept" -> "count",
    "scan.prune_ratio" -> "ratio", "scan.bytes_read" -> "bytes",
    "scan.cluster_range_files_kept" -> "count",
    "write.ms" -> "ms", "write.footer_stats_ms" -> "ms", "write.files_out" -> "count",
    "write.bytes_out" -> "bytes", "write.amp" -> "ratio",
    "commit.ms" -> "ms", "commit.attempts" -> "count",
    "job.s" -> "s", "job.compact_plan_ms" -> "ms",
    "exchange.shuffle_write_bytes" -> "bytes", "exchange.shuffle_read_bytes" -> "bytes",
    "exchange.spill_bytes" -> "bytes",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_cpu_s" -> "s",
    "spark.jobs_per_op" -> "count",
    "lineage.metrics_events" -> "count", "lineage.units" -> "count",
    "trace.overhead_work_s" -> "s", "trace.overhead_read_ms" -> "ms")

  def parse(argv: Array[String]): Args = {
    val m = mutable.Map[String, String]()
    var smoke = false
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--smoke" => smoke = true; i += 1
        case k if k.startsWith("--") && i + 1 < argv.length => m(k.drop(2)) = argv(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument: $other")
      }
    }
    val w = m.getOrElse("workload", "")
    require(Set("maintain", "stream")(w), s"unknown workload: '$w'")
    Args(w, m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m("out"), smoke)
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    // Maintenance session: shuffle compression off, the engine default for
    // image-payload exchanges.
    val spark = GraftSession.get(Cores)
    val ctx = new Ctx(spark, args)
    val listener = if (args.trace) Some(new BenchListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    Files.createDirectories(Paths.get(args.work))
    val setupS = mutable.ArrayBuffer[Double]()
    val setupCpuS = mutable.ArrayBuffer[Double]()
    var tableNo = 0
    def nextRoot(): String = { tableNo += 1; s"${args.work}/${args.workload}-t$tableNo" }

    /** Tables made by the timed set-up, consumed one per pass. */
    def timedSetups[T](n: Int, make: String => T): mutable.Queue[(String, T)] = {
      val q = mutable.Queue[(String, T)]()
      for (_ <- 1 to n) {
        val root = nextRoot()
        ctx.attempted += 1
        val (t0, c0) = (System.nanoTime(), Host.mark())
        val t = make(root)
        setupS += (System.nanoTime() - t0) / 1e9
        setupCpuS += Host.cpuSince(c0)
        ctx.log(f"set-up ${setupS.last}%.2f s, ${setupCpuS.last}%.2f CPU s")
        q.enqueue(root -> t)
      }
      q
    }

    /** The measured loop: units until the deadline, at least one. */
    def measure(unit: Rec => Unit): Int = {
      val t0 = System.nanoTime()
      var n = 0
      while (n == 0 || !ctx.deadline(t0)) {
        ctx.unit(s"${args.workload} pass ${n + 1}") { rec =>
          val c0 = Host.mark()
          unit(rec)
          rec.add("pass_cpu_s", Host.cpuSince(c0))
          rec.add("pass_steal_frac", Host.stealFracSince(c0))
        }
        n += 1
      }
      n
    }

    /** Untraced phase; with --trace 1 then a traced phase and a second
      * untraced one, pooled with the first, so that warm-up still under way
      * does not bias the tracing overhead either way. */
    def phases(unit: Rec => Unit): (Rec, Option[(Rec, Tracer, Int)]) = {
      measure(unit)
      val plain = ctx.samples
      if (!args.trace) (plain, None)
      else {
        ctx.samples = new Rec
        val tr = new Tracer(spark.sparkContext)
        ctx.tracer = Some(tr)
        val n = measure(unit)
        ctx.tracer = None
        val traced = ctx.samples
        ctx.samples = plain
        measure(unit)
        (plain, Some((traced, tr, n)))
      }
    }

    val named = mutable.LinkedHashMap[String, (Double, String, Int)]()
    def nm(name: String, unit: String, xs: Seq[Double], q: Double = 0.5): Unit =
      if (xs.nonEmpty) named(name) = (Stats.quantile(xs, q), unit, xs.size)

    /** Passes that each consume one freshly set-up table: three timed
      * set-ups up front (the first feeds the warm-up pass), more on demand.
      * A smoke run skips the warm-up. */
    def tablePasses[I](in: I, setup: (Ctx, I, String) => GraftTable,
        pass: (Ctx, I, GraftTable, Rec) => Unit) = {
      val tables = timedSetups(if (args.smoke) 1 else 3, setup(ctx, in, _))
      def take() = if (tables.nonEmpty) tables.dequeue() else timedSetups(1, setup(ctx, in, _)).dequeue()
      def once(rec: Rec): Unit = { val (root, t) = take(); try pass(ctx, in, t, rec) finally Fs.delete(root) }
      if (!args.smoke) {
        ctx.checking = false
        try ctx.unit(s"${args.workload} warm-up", keep = false)(once) finally ctx.checking = true
      }
      val res = phases(once)
      tables.foreach(x => Fs.delete(x._1))
      res
    }

    val (plain, traced) = args.workload match {
      case "maintain" =>
        val res = tablePasses(Maintain.stage(ctx), Maintain.setup, Maintain.pass)
        val s = res._1.m
        nm("maintain_s", "s", s.getOrElse("maintain_s", Nil).toSeq)
        nm("compact_cluster_images_per_s", "1/s", s.getOrElse("compact_cluster_images_per_s", Nil).toSeq)
        s.keys.filter(_.startsWith("job.")).foreach(k => nm(k, "s", s(k).toSeq))
        nm("lookup_p50_ms", "ms", s.getOrElse("read_ms", Nil).toSeq)
        nm("ivf_build_s", "s", s.getOrElse("ivf_build_s", Nil).toSeq)
        nm("ivf_probe_p50_ms", "ms", s.getOrElse("ivf_probe_ms", Nil).toSeq)
        nm("ivf_probe_p95_ms", "ms", s.getOrElse("ivf_probe_ms", Nil).toSeq, 0.95)
        res
      case "stream" =>
        val res = tablePasses(Stream.stage(ctx), Stream.setup, Stream.pass)
        val s = res._1.m
        nm("append_p50_ms", "ms", s.getOrElse("append_ms", Nil).toSeq)
        nm("append_p95_ms", "ms", s.getOrElse("append_ms", Nil).toSeq, 0.95)
        nm("lookup_p50_ms", "ms", s.getOrElse("read_ms", Nil).toSeq)
        nm("lookup_p95_ms", "ms", s.getOrElse("read_ms", Nil).toSeq, 0.95)
        nm("job.upkeep_s", "s", s.getOrElse("job.upkeep_s", Nil).toSeq)
        nm("stream_pass_s", "s", s.getOrElse("work_s", Nil).toSeq)
        res
    }

    def med(r: Rec, k: String): Option[Double] = r.m.get(k).filter(_.nonEmpty).map(xs => Stats.median(xs.toSeq))

    val e2e = mutable.LinkedHashMap[String, (Double, String)]()
    // The gated metrics are CPU seconds: on a shared VM wall time drifts
    // with the hypervisor's steal far more than CPU time does. Wall times
    // stay in the named figures.
    if (setupCpuS.nonEmpty) e2e("setup_s") = (Stats.median(setupCpuS.toSeq), "s")
    med(plain, "work_cpu_s").foreach(v => e2e("work_cpu_s") = (v, "s"))
    med(plain, "read_cpu_ms").foreach(v => e2e("read_cpu_ms") = (v, "ms"))
    med(plain, "space_amp").foreach(v => e2e("space_amp") = (v, "ratio"))
    nm("space_amp", "ratio", plain.m.getOrElse("space_amp", Nil).toSeq)
    nm("setup_wall_s", "s", setupS.toSeq)
    nm("work_wall_s", "s", plain.m.getOrElse("work_s", Nil).toSeq)
    nm("read_wall_ms", "ms", plain.m.getOrElse("read_ms", Nil).toSeq)
    nm("pass_cpu_s", "s", plain.m.getOrElse("pass_cpu_s", Nil).toSeq)
    nm("steal_frac", "ratio", plain.m.getOrElse("pass_steal_frac", Nil).toSeq)

    val layer = mutable.LinkedHashMap[String, (Double, String)]()
    var selfMs = Map.empty[String, Double]
    traced.foreach { case (tr, tracer, units) =>
      BusDrain(spark.sparkContext)
      // Bench-timed calls report medians; counts, and the engine's own
      // whole-millisecond write/commit records, report means.
      val engineMs = Set("write.ms", "write.footer_stats_ms", "commit.ms")
      for ((k, u) <- PerLayer; xs <- tr.m.get(k) if xs.nonEmpty) {
        val v = if ((u == "ms" || u == "s") && !engineMs(k)) Stats.median(xs.toSeq)
          else Stats.mean(xs.toSeq)
        layer(k) = (v, u)
      }
      val c = listener.get.total(_.startsWith("span-"))
      val ops = math.max(1.0, tr.m.get("ops").map(_.sum).getOrElse(1.0))
      val per = math.max(1, units).toDouble
      layer("exchange.shuffle_write_bytes") = (c.shuffleWrite / per, "bytes")
      layer("exchange.shuffle_read_bytes") = (c.shuffleRead / per, "bytes")
      layer("exchange.spill_bytes") = (c.spill / per, "bytes")
      layer("spark.jobs") = (c.jobs / per, "count")
      layer("spark.tasks") = (c.tasks / per, "count")
      layer("spark.task_cpu_s") = (c.cpuNs / 1e9 / per, "s")
      layer("spark.jobs_per_op") = (c.jobs / ops, "count")
      for (a <- med(tr, "work_s"); b <- med(plain, "work_s")) layer("trace.overhead_work_s") = (a - b, "s")
      for (a <- med(tr, "read_ms"); b <- med(plain, "read_ms")) layer("trace.overhead_read_ms") = (a - b, "ms")
      selfMs = tracer.selfMs.map { case (k, v) => k -> v / per }
      tracer.write(Paths.get(s"${args.work}/trace.jsonl"))
      named("exchange.fetch_wait_ms") = (c.fetchWaitMs / per, "ms", units)
      nm("ivf.probe_files_kept", "count", tr.m.getOrElse("ivf.probe_files_kept", Nil).toSeq)
      nm("ivf.centroids_ms", "ms", tr.m.getOrElse("ivf.centroids_ms", Nil).toSeq)
    }

    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "cores" -> Cores.toString,
      "heap_bytes" -> Runtime.getRuntime.maxMemory().toString,
      "spark.local.dir" -> spark.sparkContext.getConf.get("spark.local.dir",
        System.getProperty("java.io.tmpdir")),
      "spark.shuffle.compress" -> spark.sparkContext.getConf.get("spark.shuffle.compress", ""),
      "spark.version" -> spark.version,
      "java.version" -> System.getProperty("java.version"),
      "seed" -> args.seed.toString,
      "smoke" -> args.smoke.toString)

    def metricJson(m: collection.Map[String, (Double, String)]): Map[String, Map[String, Any]] =
      m.map { case (k, (v, u)) => k -> Map[String, Any]("value" -> v, "unit" -> u) }.toMap
    val out = Map[String, Any](
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "failures" -> ctx.failures.toList,
      "e2e" -> metricJson(e2e),
      "layer" -> metricJson(layer),
      "named" -> named.map { case (k, (v, u, n)) =>
        k -> Map[String, Any]("value" -> v, "unit" -> u, "n" -> n) }.toMap,
      "self_ms" -> selfMs,
      "env" -> env)
    Files.write(Paths.get(args.out),
      graft.table.TableJson.write(out).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
