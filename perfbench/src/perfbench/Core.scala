package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.table.{GraftTable, MetaIO}

/** Command-line arguments of one benchmark run. */
case class Args(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    out: String,
    smoke: Boolean)

/** Timings of one unit of work (a pass). They reach the run's samples only
  * if every check of the unit passed: a failed check never reports a time. */
final class Rec {
  val m = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  def add(name: String, v: Double): Unit =
    m.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v
}

/** One closed-loop client's run state: operation accounting, samples, and
  * (in the traced phase) the span recorder. */
final class Ctx(val spark: SparkSession, val args: Args) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  var samples = new Rec
  var tracer: Option[Tracer] = None
  /** Off during the warm-up pass, which is neither timed nor checked. */
  var checking = true

  /** Run `f` as one operation inside a span (traced phase only). */
  def span[A](name: String)(f: => A): A = tracer match {
    case Some(t) => t.span(name)(f)
    case None => f
  }

  /** Time `f` (milliseconds, nanosecond clock) inside a span. */
  def timed[A](name: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = span(name)(f)
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** Like [[timed]], also returning the CPU milliseconds spent
    * ([[Host.cpuSince]]): CPU time moves far less than wall time when the
    * hypervisor steals cycles or neighbours load the host. The process CPU
    * clock ticks in 10 ms steps, so sum it over many short calls before
    * reading it. */
  def timedCpu[A](name: String)(f: => A): (A, Double, Double) = {
    val c0 = Host.mark()
    val (r, ms) = timed(name)(f)
    (r, ms, Host.cpuSince(c0) * 1000)
  }

  /** An output check: counts as an attempted operation, fails on Some(msg)
    * or on any exception. */
  def check(what: String)(err: => Option[String]): Boolean = {
    if (!checking) return true
    attempted += 1
    val e = try err catch { case x: Throwable => Some(s"threw $x") }
    e.foreach { msg => failed += 1; failures += s"$what: ${msg.take(300)}" }
    e.isEmpty
  }

  /** One unit of work. Its timings are kept only if it finished and no
    * check inside it failed; an exception counts one failed operation.
    * A warm-up unit (`keep = false`) keeps no timings. */
  def unit(what: String, keep: Boolean = true)(body: Rec => Unit): Boolean = {
    val rec = new Rec
    val failedBefore = failed
    val ok = try { body(rec); failed == failedBefore } catch {
      case x: Throwable =>
        attempted += 1; failed += 1
        failures += s"$what: threw ${String.valueOf(x).take(300)}"
        false
    }
    if (ok && keep) rec.m.foreach { case (k, vs) => vs.foreach(samples.add(k, _)) }
    log(s"$what: ${if (ok) "ok" else "FAILED"}")
    ok
  }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = {
    val up = System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.err.println(f"[perfbench ${up / 1000.0}%.1fs] $msg")
  }

  def deadline(startNs: Long): Boolean =
    (System.nanoTime() - startNs) / 1e9 >= args.seconds
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile over the sorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(s.size - 1, lo + 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A recorded span: one per bench call into a layer. Spans of one
  * operation share `traceId`; `parent` is the enclosing span (0 = root). */
case class Span(id: Long, parent: Long, traceId: Long, name: String,
    startNs: Long, endNs: Long) {
  def durMs: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder, used only in the traced phase. Each span also
  * becomes the Spark job group of the calls it wraps, so the listener can
  * attribute tasks, shuffle and spill to it. Spans are written out when the
  * run ends. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private val stack = mutable.Stack[(Long, Long)]() // (span id, trace id)

  def span[A](name: String)(f: => A): A = {
    val id = nextId; nextId += 1
    val (parent, traceId) = stack.headOption.map { case (p, tr) => (p, tr) }
      .getOrElse((0L, id))
    stack.push((id, traceId))
    sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      stack.headOption match {
        case Some((p, _)) => sc.setJobGroup(s"span-$p", "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      spans += Span(id, parent, traceId, name, t0, t1)
    }
  }

  /** Self time per span name: a span's duration minus the part its
    * children cover (children run sequentially inside their parent). */
  def selfMs: Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durMs).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.durMs - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  def write(p: Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"trace":${s.traceId},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""" + "\n"
    }
    Files.write(p, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

/** Bench-owned Spark listener: jobs, tasks, task CPU, shuffle and spill
  * counters, keyed by the job group (the span) that issued them. */
final class BenchListener extends SparkListener {
  final class C {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var fetchWaitMs = 0L
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val byGroup = mutable.Map[String, C]()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    e.stageIds.foreach(s => stageGroup.put(s, g))
    byGroup.getOrElseUpdate(g, new C).jobs += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = byGroup.getOrElseUpdate(stageGroup.getOrDefault(e.stageId, ""), new C)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.cpuNs += m.executorCpuTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
    }
  }

  /** Sum of the counters of every group accepted by `keep`. */
  def total(keep: String => Boolean): C = synchronized {
    val t = new C
    byGroup.foreach { case (g, c) =>
      if (keep(g)) {
        t.jobs += c.jobs; t.tasks += c.tasks; t.cpuNs += c.cpuNs
        t.shuffleWrite += c.shuffleWrite; t.shuffleRead += c.shuffleRead
        t.spill += c.spill; t.fetchWaitMs += c.fetchWaitMs
      }
    }
    t
  }
}

/** Table-level measurements taken from outside the engine. */
object TableProbe {
  /** Bytes of every file under the table root. */
  def diskBytes(root: String): Long = {
    val s = Files.walk(Paths.get(root))
    try {
      var n = 0L
      s.forEach(p => if (Files.isRegularFile(p)) n += Files.size(p))
      n
    } finally s.close()
  }

  /** Bytes on disk under the root / live data bytes of the current snapshot. */
  def spaceAmp(t: GraftTable): Double =
    diskBytes(t.root).toDouble / t.currentFiles.map(_.fileSizeBytes).sum

  def metadataFiles(root: String): Int = {
    val s = Files.list(MetaIO.metadataDir(root))
    try s.filter(_.getFileName.toString.endsWith(".metadata.json")).count().toInt
    finally s.close()
  }

  def lineageUnits(root: String): Int = {
    val d = Paths.get(root, "lineage")
    if (!Files.exists(d)) 0
    else {
      val s = Files.walk(d)
      try s.filter(_.getFileName.toString.startsWith("unit-")).count().toInt
      finally s.close()
    }
  }

  /** Metadata-layer probes (traced phase only): version resolve, metadata
    * load and the manifest read behind `currentFiles`, timed around the
    * public calls. */
  def meta(ctx: Ctx, t: GraftTable, rec: Rec): Unit = if (ctx.tracer.isDefined) {
    rec.add("meta.version_resolve_ms", ctx.timed("meta.version_resolve")(MetaIO.currentVersion(t.root))._2)
    rec.add("meta.load_ms", ctx.timed("meta.load")(MetaIO.load(t.root))._2)
    rec.add("meta.manifest_read_ms", ctx.timed("meta.manifest_read")(t.currentFiles)._2)
  }

  /** Scan-planning probe for one read (traced phase only). */
  def plan(ctx: Ctx, t: GraftTable, filters: Seq[graft.table.PruneFilter], rec: Rec): Unit =
    if (ctx.tracer.isDefined) {
      val considered = t.currentFiles
      val (kept, ms) = ctx.timed("scan.plan")(t.planFiles(filters))
      rec.add("scan.plan_ms", ms)
      rec.add("scan.files_considered", considered.size)
      rec.add("scan.files_kept", kept.size)
      rec.add("scan.prune_ratio", 1.0 - kept.size.toDouble / math.max(1, considered.size))
      rec.add("scan.bytes_read", kept.map(_.fileSizeBytes).sum.toDouble)
    }

  /** Table state at the caller's chosen point (traced phase only). */
  def state(ctx: Ctx, t: GraftTable, rec: Rec): Unit =
    if (ctx.tracer.isDefined) {
      val files = t.currentFiles
      rec.add("meta.metadata_files", metadataFiles(t.root))
      rec.add("meta.live_manifests", t.currentSnapshot.manifests.size)
      rec.add("meta.snapshots", t.meta.snapshots.size)
      rec.add("job.compact_plan_ms", ctx.timed("job.compact_plan")(
        graft.jobs.Compact.plan(files, 8L * 1024 * 1024))._2)
    }

  /** Bytes committed since `sinceMs`, from snapshot summaries; read it
    * before an expire drops the snapshots. */
  def addedBytes(t: GraftTable, sinceMs: Long): Long =
    t.meta.snapshots.filter(_.timestampMs >= sinceMs)
      .flatMap(_.summary.get("added-bytes")).map(_.toLong).sum

  /** Write/commit counters from the engine's own job records written since
    * `sinceMs`; `bytes` is what the unit committed (see [[addedBytes]]). */
  def engineRecords(t: GraftTable, sinceMs: Long, bytes: Long, rec: Rec): Unit = {
    val ev = graft.lineage.Metrics.events(t.root).filter(_.ts >= sinceMs)
    val writes = ev.filter(e => e.kind == "job" && e.name == "write-data-files")
    val commits = ev.filter(e => e.kind == "job" && e.name == "commit")
    writes.foreach { e =>
      rec.add("write.ms", e.detail.get("write-ms").map(_.toDouble).getOrElse(0.0))
      rec.add("write.footer_stats_ms", e.detail.get("stats-ms").map(_.toDouble).getOrElse(0.0))
    }
    commits.foreach { e =>
      rec.add("commit.ms", e.durationMs.toDouble)
      rec.add("commit.attempts", e.detail.get("attempts").map(_.toDouble).getOrElse(1.0))
    }
    rec.add("lineage.metrics_events", ev.size)
    rec.add("lineage.units", lineageUnits(t.root))
    val files = writes.flatMap(_.detail.get("files")).map(_.toLong).sum
    rec.add("write.files_out", files.toDouble)
    rec.add("write.bytes_out", bytes.toDouble)
    rec.add("write.amp", bytes.toDouble / math.max(1L, t.currentFiles.map(_.fileSizeBytes).sum))
  }
}

/** A reading of the clocks [[Host.cpuSince]] compares. */
final case class CpuMark(cpuS: Double, stealS: Double, wallNs: Long)

/** Host-side counters: this process's CPU time, and the CPU time the
  * hypervisor took from this machine's virtual CPUs (steal, /proc/stat). */
object Host {
  /** The CPU clock reads process CPU less the JIT compiler threads' CPU:
    * compiling is the JVM's warm-up, not engine work, yet it was about half
    * of a measured maintain pass's CPU, so it would halve any engine gain. */
  def mark(): CpuMark = CpuMark(java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9 - jitS(),
    stealS(), System.nanoTime())

  /** `stat` files of the JIT compiler threads. Their set is fixed: the JVM
    * runs with -XX:-UseDynamicNumberOfCompilerThreads. */
  private lazy val jitStats: Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val tasks = Paths.get("/proc/self/task")
    if (!Files.isDirectory(tasks)) Nil
    else {
      val ds = Files.list(tasks)
      try ds.iterator.asScala.filter { d =>
        val comm = scala.util.Try(Files.readString(d.resolve("comm")).trim).getOrElse("")
        comm.startsWith("C1 CompilerThre") || comm.startsWith("C2 CompilerThre")
      }.map(_.resolve("stat")).toList finally ds.close()
    }
  }

  /** CPU seconds of the JIT compiler threads (utime + stime, in ticks). */
  private def jitS(): Double = jitStats.iterator.map { f =>
    val st = scala.util.Try(Files.readString(f)).getOrElse("")
    val fs = st.drop(st.lastIndexOf(')') + 2).split(' ')
    if (fs.length > 12) (fs(11).toLong + fs(12).toLong) / 100.0 else 0.0
  }.sum

  /** Share of the machine's CPU time stolen since `m`. */
  def stealFracSince(m: CpuMark): Double = {
    val wall = (System.nanoTime() - m.wallNs) / 1e9
    if (wall <= 0) 0.0 else math.max(0.0, (stealS() - m.stealS) / (wall * cpus))
  }

  /** This process's CPU seconds since `m`, net of steal. The guest kernel
    * charges a running thread for the time its virtual CPU was stolen, so
    * at steal share f a process reads 1/(1 - f) times its CPU time (ten
    * maintain passes at 8-25% steal matched this); the reading is scaled
    * back by (1 - f). Subtracting the machine's steal seconds instead
    * over-corrects whenever fewer than all CPUs are busy. */
  def cpuSince(m: CpuMark): Double = {
    val f = math.min(0.9, stealFracSince(m))
    (mark().cpuS - m.cpuS) * (1 - f)
  }

  /** Virtual CPUs that /proc/stat sums steal over. */
  private lazy val cpus: Int = {
    val f = Paths.get("/proc/stat")
    if (!Files.exists(f)) 1
    else {
      import scala.jdk.CollectionConverters._
      math.max(1, Files.readAllLines(f).asScala.count(_.matches("cpu\\d+ .*")))
    }
  }

  def stealS(): Double = {
    val f = Paths.get("/proc/stat")
    if (!Files.exists(f)) 0.0
    else {
      val cpu = Files.readAllLines(f).get(0).trim.split("\\s+")
      if (cpu.length > 8) cpu(8).toDouble / 100 else 0.0
    }
  }
}

object Fs {
  /** Deletes a table root once every pending listener event is delivered:
    * the engine's metrics listener appends to `<root>/lineage/_metrics`
    * after each action, from the listener-bus thread. */
  def delete(p: String): Unit = {
    org.apache.spark.perfbench.BusDrain.active()
    graft.util.Fs.deleteRecursively(Paths.get(p))
  }
}
