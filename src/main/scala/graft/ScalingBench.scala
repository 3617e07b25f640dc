package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.images.ImageGen
import graft.jobs.{BuildIvf, Cluster, Compact}
import graft.lineage.Metrics
import graft.table.GraftTable

/**
 * Scaling harness (BASELINE.md protocol), one protocol for two workloads:
 *
 *   - `images`: compact + z-order cluster of a tiny-file image table;
 *   - `ivf`: the production IVF index build (`BuildIvf.runFiles`) over a
 *     planted-cluster vector fixture. The fit is a fixed-point computation,
 *     so the harness asserts the row count and a bit-identical stored
 *     quantizer at every level.
 *
 * The fixture is generated once to plain Parquet (or reused with `--src`).
 * Each trial runs an untimed warm-up, stages the fixture untimed, times the
 * workload's phases into a fresh table, prints that table's job records from
 * `lineage/_metrics` to stderr and deletes it. Each level keeps its per-phase
 * minima over the trials, which filters hypervisor noise (identical runs
 * have varied 47 s..250 s on one VM). The result is one JSON line on stdout.
 *
 * Started with `java`, it interleaves `local[A]` and `local[B]` sessions
 * (`--cpus A,B`, default 2,8) and reports their scaling efficiency. Started
 * by spark-submit, it runs the submitted topology alone: cores from
 * `local[n]` or `local-cluster[n,c,m]` (n*c), after the executors register.
 *
 *   java ... graft.ScalingBench --workload images|ivf --rows R --files F
 *     [--target-mb M] [--trials T] [--cpus A,B] [--work DIR] [--src DIR]
 *
 * `--target-mb` (default 16) is compact/cluster's output size for `images`
 * and the sub-bucket size for `ivf`. Put `--work` on /dev/shm (RAM-backed):
 * it also holds `spark.local.dir` unless that is set, and a single VM disk
 * saturates at ~8 threads, measuring the disk, not the engine (SCALING.md).
 */
object ScalingBench {
  import Main.{arg, req}

  private case class Settings(rows: Long, files: Int, targetBytes: Long, trials: Int, src: String)

  /** One timed trial of the table at `root`: seconds per phase in run order,
    * and the workload's counts. */
  private final class Trial(root: String) {
    val secs = mutable.LinkedHashMap[String, Double]()
    val counts = mutable.LinkedHashMap[String, Long]()
    private var firstEvent = -1

    def time[A](phase: String)(body: => A): A = {
      if (firstEvent < 0) firstEvent = Metrics.events(root).size
      val t0 = System.nanoTime()
      try body finally secs(phase) = (System.nanoTime() - t0) / 1e9
    }

    /** The job records of the timed phases (staging's come before). */
    def jobs: Seq[Metrics.QueryEvent] =
      Metrics.events(root).drop(math.max(firstEvent, 0)).filter(_.kind == "job")
  }

  /** A level's per-phase minima over its trials, and its counts. */
  private case class Level(cores: Int, secs: Map[String, Double], counts: Map[String, Long]) {
    def total: Double = secs.values.sum
  }

  private trait Workload {
    def generate(spark: SparkSession): Unit
    def warmUp(spark: SparkSession, root: String, cores: Int): Unit
    /** Stages the fixture (untimed) and runs the timed phases into `root`. */
    def trial(spark: SparkSession, root: String, cores: Int, tr: Trial): Unit
    /** The JSON fields of two levels, or of the one submitted level. */
    def report(levels: Seq[Level]): Seq[(String, Any)]
  }

  private final class Images(s: Settings) extends Workload {
    def generate(spark: SparkSession): Unit =
      // Big images, so the phases are IO/CPU-bound rather than overhead.
      ImageGen.df(spark, s.rows, seed = 42L, partitions = s.files,
        sizes = Array(128, 160, 192, 224, 256)).write.parquet(s.src)

    def warmUp(spark: SparkSession, root: String, cores: Int): Unit = {
      // 5000 rows and 12 tasks per core: every executor JVM takes the full
      // read->decode->encode->write path to C2-compiled steady state, or a
      // high executor count measures interpreter time.
      val t = GraftTable.create(root, spark)
      GraftTable.append(t, spark.read.schema(t.schema).parquet(s.src)
        .limit(5000 * cores).repartition(12 * cores))
      Compact.run(t, targetBytes = s.targetBytes, maxConcurrentBins = cores)
      Cluster.run(t, curve = "zorder", mode = "global", targetBytes = s.targetBytes): Unit
    }

    def trial(spark: SparkSession, root: String, cores: Int, tr: Trial): Unit = {
      val t = stage(spark, s.src, root)
      val files = t.currentFiles
      tr.counts ++= Seq("rows" -> files.map(_.rowCount).sum,
        "bytes_in" -> files.map(_.fileSizeBytes).sum, "files_in" -> files.size.toLong)
      val c = tr.time("compact")(
        Compact.run(t, targetBytes = s.targetBytes, maxConcurrentBins = cores))
      val k = tr.time("cluster")(
        Cluster.run(t, curve = "zorder", mode = "global", targetBytes = s.targetBytes))
      tr.counts ++= Seq("compact_files_out" -> c.filesOut.toLong,
        "cluster_files_out" -> k.filesOut.toLong)
    }

    // Both phases pass over every row and byte once.
    def report(levels: Seq[Level]): Seq[(String, Any)] = {
      val (rows, bytes) = (levels.head.counts("rows"), levels.head.counts("bytes_in"))
      def rates(l: Level, sfx: String) = Seq(s"images_per_sec$sfx" -> 2.0 * rows / l.total,
        s"gb_per_sec$sfx" -> 2.0 * bytes / 1e9 / l.total)
      levels match {
        case Seq(a, b) => Seq("metric" -> "scaling efficiency", "rows" -> rows,
            "bytes_in" -> bytes, "compactA" -> a.secs("compact"), "clusterA" -> a.secs("cluster"),
            "compactB" -> b.secs("compact"), "clusterB" -> b.secs("cluster")) ++
          rates(a, "_A") ++ rates(b, "_B")
        case Seq(l) => Seq("metric" -> "submit compact+cluster", "cores" -> l.cores) ++
          l.counts ++ Seq("compact_sec" -> l.secs("compact"),
            "cluster_sec" -> l.secs("cluster"), "total_sec" -> l.total) ++ rates(l, "")
      }
    }
  }

  /** A new table at `root` holding the images fixture at `src`, one table
    * file per fixture file. Rows go to files by a hash of `image_id`, in
    * `image_id` order, so the staged files are the same whatever the read
    * splits (which follow the session's parallelism). */
  private[graft] def stage(spark: SparkSession, src: String, root: String): GraftTable = {
    val t = GraftTable.create(root, spark)
    val in = spark.read.schema(t.schema).parquet(src)
    GraftTable.append(t, in.repartition(in.inputFiles.length, col("image_id"))
      .sortWithinPartitions("image_id"))
    t
  }

  private final class Ivf(s: Settings) extends Workload {
    private val (dims, k) = (64, 16)
    private var centroids: Option[String] = None

    def generate(spark: SparkSession): Unit = {
      // vec_id 1..rows; axis vec_id % k gets +10, per-(id, dim) noise in
      // [-0.5, 0.5): the KMeansSpec plant, scaled up and computed in one
      // distributed projection.
      val vec = transform(sequence(lit(0), lit(dims - 1)), d =>
        ((when(d === (col("vec_id") % k).cast("int"), lit(10.0)).otherwise(lit(0.0))) +
          ((col("vec_id") * 31 + d * 17) % 100 - 50).cast("double") / 100.0).cast("float"))
      spark.range(1, s.rows + 1).select(col("id").as("vec_id")).repartition(s.files)
        .withColumn("embedding", vec).write.parquet(s.src)
    }

    def warmUp(spark: SparkSession, root: String, cores: Int): Unit =
      BuildIvf.run(spark, spark.read.parquet(s.src).filter(col("vec_id") <= 50000), "vec_id",
        "embedding", root, initIds = 1L to k.toLong, iters = 1, targetBytes = s.targetBytes): Unit

    def trial(spark: SparkSession, root: String, cores: Int, tr: Trial): Unit = {
      val r = tr.time("build")(BuildIvf.runFiles(spark, graft.util.Fs.listParquet(s.src),
        "vec_id", "embedding", root, initIds = 1L to k.toLong, iters = 3,
        targetBytes = s.targetBytes, maxConcurrentUnits = cores))
      require(r.rows == s.rows, s"build lost rows: ${r.rows} of ${s.rows}")
      val c = r.table.meta.properties(BuildIvf.CentroidsProp)
      require(centroids.forall(_ == c), s"fit not reproducible across parallelism at cores=$cores")
      centroids = Some(c)
      tr.counts ++= Seq("files_out" -> r.files.toLong)
    }

    def report(levels: Seq[Level]): Seq[(String, Any)] = {
      val fixture = Seq("rows" -> s.rows, "dims" -> dims, "k" -> k)
      levels match {
        case Seq(a, b) => Seq("metric" -> "ivf build scaling efficiency") ++ fixture ++
          Seq("vectors_per_sec_A" -> s.rows / a.total, "vectors_per_sec_B" -> s.rows / b.total)
        case Seq(l) => Seq("metric" -> "submit ivf build", "cores" -> l.cores) ++ fixture ++
          Seq("files_out" -> l.counts("files_out"), "total_sec" -> l.total,
            "vectors_per_sec" -> s.rows / l.total)
      }
    }
  }

  private def json(fields: Seq[(String, Any)]): String = fields.map {
    case (k, v: String) => s""""$k":"$v""""
    case (k, v: Double) => f""""$k":$v%.4f"""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val work = arg(argv, "work").getOrElse(Files.createTempDirectory("graft-scaling").toString)
    Files.createDirectories(Paths.get(work))
    if (!sys.props.contains("spark.local.dir"))
      System.setProperty("spark.local.dir", s"$work/spark-local")
    val s = Settings(req(argv, "rows").toLong, req(argv, "files").toInt,
      (arg(argv, "target-mb").fold(16.0)(_.toDouble) * 1024 * 1024).toLong,
      arg(argv, "trials").fold(2)(_.toInt), arg(argv, "src").getOrElse(s"$work/src"))
    val w = req(argv, "workload") match {
      case "images" => new Images(s)
      case "ivf" => new Ivf(s)
      case o => sys.error(s"unknown workload $o: images | ivf")
    }
    val submitted = GraftSession.configuredMaster
    val levels = submitted match {
      case None => arg(argv, "cpus").getOrElse("2,8").split(',').map(_.trim.toInt).toSeq
      case Some(m) =>
        require(arg(argv, "cpus").isEmpty, "spark-submit's --master sets the topology, not --cpus")
        Seq(GraftSession.masterCores(m))
    }
    require(levels.size == (if (submitted.isEmpty) 2 else 1), s"levels: $levels")

    // Under spark-submit the one session serves every trial.
    def open(cores: Int): SparkSession = SparkSession.getActiveSession.getOrElse {
      val spark = GraftSession.get(cores)
      // A local-cluster master's executors register after the context starts.
      val deadline = System.currentTimeMillis() + 60000
      while (spark.sparkContext.defaultParallelism < cores &&
          System.currentTimeMillis() < deadline) Thread.sleep(500)
      spark
    }
    def close(spark: SparkSession): Unit = if (submitted.isEmpty) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }

    if (arg(argv, "src").isEmpty) { val spark = open(levels.max); w.generate(spark); close(spark) }
    val trials = mutable.Map[Int, List[Trial]]().withDefaultValue(Nil)
    for (trial <- 1 to s.trials; cores <- levels) {
      val spark = open(cores)
      val (warm, root) = (s"$work/warm-$cores-$trial", s"$work/tbl-$cores-$trial")
      w.warmUp(spark, warm, cores)
      val tr = new Trial(root)
      w.trial(spark, root, cores, tr)
      System.err.println(s"[scaling] trial=$trial cores=$cores " +
        tr.secs.map { case (p, sec) => f"$p=$sec%.2f" }.mkString(" "))
      tr.jobs.foreach(e => System.err.println(s"  job=${e.name} ms=${e.durationMs} " +
        e.detail.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")))
      trials(cores) ::= tr
      // Free the trial's tables (tmpfs capacity); the fixture stays.
      Seq(root, warm).foreach(d => graft.util.Fs.deleteRecursively(Paths.get(d)))
      close(spark)
    }
    SparkSession.getActiveSession.foreach(_.stop())

    val best = levels.map { c =>
      val ts = trials(c)
      Level(c, ts.head.secs.keys.map(p => p -> ts.map(_.secs(p)).min).toMap, ts.head.counts.toMap)
    }
    val scaling = best match {
      case Seq(a, b) =>
        val speedup = a.total / b.total
        Seq("value" -> speedup * a.cores / b.cores, "unit" -> "ratio", "cpusA" -> a.cores,
          "cpusB" -> b.cores, "tA_sec" -> a.total, "tB_sec" -> b.total, "speedup" -> speedup)
      case _ => Nil
    }
    println(json(w.report(best) ++ scaling :+ ("trials" -> s.trials)))
  }
}
