package graft.lineage

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.table.TableJson

/**
 * Observability hooks: per-action query metrics and per-job summaries, as
 * JSONL under `<root>/lineage/_metrics/`.
 *
 * Re-grounds the reference's pipeline hook surface — onSearch/onEmbedding
 * duration callbacks (pipeline/src/types.ts:50-59) — as a Spark
 * [[QueryExecutionListener]]: every DataFrame action that touches the table's
 * session records (action, duration, output rows, bytes read/written), and
 * every maintenance job records a one-line summary via [[recordJob]].
 *
 * Scale notes: the listener runs on the driver's listener bus off the query
 * hot path; rows are appended with O(1) metadata per ACTION (not per row or
 * per task), so the overhead is invisible at any data scale. Files are
 * per-process (pid-suffixed) so concurrent writers never interleave bytes.
 */
object Metrics {

  private val lock = new Object

  case class QueryEvent(
      ts: Long,
      kind: String, // "query" | "job"
      name: String,
      durationMs: Long,
      outputRows: Option[Long],
      bytesRead: Option[Long],
      bytesWritten: Option[Long],
      detail: Map[String, String])

  /** A table read done on the driver (`GraftTable.scanWhere` below its
    * cutoff): the absolute table root and the bytes of the files read. */
  case class DriverRead(root: String, bytes: Long)

  /** Tags the `LocalRelation` of a driver read, which names no file path. */
  val DriverReadTag: TreeNodeTag[DriverRead] = TreeNodeTag[DriverRead]("graft.driverRead")

  /** Tags the executed plan of a `GraftTable.writeDataFiles` execution with
    * the absolute root of the table it writes: rows from outside the table
    * name none of its paths. */
  val WriteTag: TreeNodeTag[String] = TreeNodeTag[String]("graft.write")

  private def driverReads(qe: QueryExecution): Seq[DriverRead] =
    qe.analyzed.collect { case lr: LocalRelation => lr.getTagValue(DriverReadTag) }.flatten

  def dir(root: String): Path = Paths.get(root, "lineage", "_metrics")

  private def file(root: String): Path =
    dir(root).resolve(s"metrics-${ProcessHandle.current().pid()}.jsonl")

  private def append(root: String, e: QueryEvent): Unit = lock.synchronized {
    // A deleted table (bench trial cleanup) must not be resurrected by its
    // still-registered listener writing metrics into a fresh dir tree.
    if (!Files.exists(Paths.get(root))) return
    Files.createDirectories(dir(root))
    Files.write(file(root),
      (TableJson.write(e) + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** One summary row per finished maintenance job (compact/cluster/...),
    * timed from `startNs` (a `System.nanoTime()` reading) in whole
    * milliseconds rounded up, so a job that ran never records 0 ms. */
  def recordJob(root: String, name: String, startNs: Long,
      detail: Map[String, String] = Map.empty): Unit =
    append(root, QueryEvent(System.currentTimeMillis(), "job", name,
      (System.nanoTime() - startNs + 999999) / 1000000, None, None, None, detail))

  // One listener PER SESSION, shared by every installed table root, routing
  // each event only to the roots whose paths the plan actually read or
  // wrote. A listener per (session, root) — the round-2 design — recorded
  // every action into EVERY table's metrics file (duplicated + misattributed
  // with multiple tables on one session) and its per-action work grew with
  // the number of tables ever opened.
  //
  // WEAK keys: a long-lived driver cycling sessions (the bench-trial
  // pattern) must not retain every stopped session's root set forever. The
  // only strong path back to a dead session is its own listener bus, so once
  // user code drops the session the whole cycle is unreachable and the weak
  // entry is collected. Compound check-then-act ops synchronize on the map
  // (the Collections.synchronizedMap contract).
  private val sessionRoots =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.util.Set[String]]())
  private val installed =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Live (not-yet-collected) sessions with installed listeners — leak-test
    * observability only. */
  private[graft] def trackedSessions: Int = sessionRoots.size

  /** Absolute-path table roots whose data/metadata participate in `qe`:
    * read paths from the analyzed plan's file-source relations (pre-AQE, so
    * reliable) and driver-read relations, and the table a `writeDataFiles`
    * execution writes. */
  private def touchedRoots(spark: SparkSession, qe: QueryExecution): Seq[String] = {
    val roots = sessionRoots.get(spark)
    if (roots == null || roots.isEmpty) return Nil
    val paths = scala.collection.mutable.ArrayBuffer[String]()
    qe.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.foreach(p => paths += p.toString)
          case _ => ()
        }
      case lr: LocalRelation => lr.getTagValue(DriverReadTag).foreach(paths += _.root)
      case _ => ()
    }
    // A query that failed in planning has no executed plan to read.
    scala.util.Try(qe.executedPlan.getTagValue(WriteTag)).foreach(_.foreach(paths += _))
    import scala.jdk.CollectionConverters._
    // Match on a path-COMPONENT boundary after URI normalization: a plain
    // substring test attributed '/w/tbl2' events to a sibling root '/w/tbl'.
    roots.asScala.toSeq.filter { r =>
      val abs = Paths.get(r).toAbsolutePath.toString
      paths.exists { p0 =>
        val p = p0.replaceFirst("^file:/+", "/")
        p == abs || p.startsWith(abs + "/")
      }
    }
  }

  /** Install per-action metrics for `root` on `spark`: one shared listener
    * per session; each successful DataFrame action logs duration, output
    * rows, and scan/write byte counters — attributed ONLY to the installed
    * roots whose files the plan touched. */
  def install(spark: SparkSession, root: String): Unit = {
    val roots = sessionRoots.synchronized {
      var s = sessionRoots.get(spark)
      if (s == null) {
        s = ConcurrentHashMap.newKeySet[String]()
        sessionRoots.put(spark, s)
      }
      s
    }
    roots.add(root)
    if (installed.put(spark, java.lang.Boolean.TRUE) != null) return
    // The listener stays registered on the context's listener bus (strong),
    // so it must hold the session WEAKLY — a strong capture would keep every
    // dropped session reachable via bus -> listener -> session and defeat
    // the weak registry above.
    val sessionRef = new java.lang.ref.WeakReference[SparkSession](spark)
    spark.listenerManager.register(new QueryExecutionListener {
      private def metricSum(qe: QueryExecution, names: Set[String]): Option[Long] = {
        var sum = 0L; var seen = false
        qe.executedPlan.foreach { p =>
          p.metrics.foreach { case (k, m) =>
            if (names.contains(k)) { sum += m.value; seen = true }
          }
        }
        if (seen) Some(sum) else None
      }
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        try {
          val sp = sessionRef.get()
          val targets = if (sp == null) Nil else touchedRoots(sp, qe)
          if (targets.nonEmpty) {
            val rows = {
              var last: Option[Long] = None
              qe.executedPlan.metrics.get("numOutputRows").foreach(m => last = Some(m.value))
              last
            }
            val ev = QueryEvent(System.currentTimeMillis(), "query", funcName,
              durationNs / 1000000,
              rows,
              // A driver read has no scan metric: its file bytes stand in.
              (metricSum(qe, Set("bytesRead", "filesSize")) ++
                driverReads(qe).map(_.bytes)).reduceOption(_ + _),
              metricSum(qe, Set("bytesWritten", "numOutputBytes")),
              Map.empty)
            targets.foreach(append(_, ev))
          }
        } catch { case _: Throwable => () } // observability never fails the query
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
        try Option(sessionRef.get()).toSeq.flatMap(touchedRoots(_, qe)).foreach(r =>
          append(r, QueryEvent(System.currentTimeMillis(), "query",
            s"$funcName!failed", 0, None, None, None,
            Map("error" -> String.valueOf(ex.getMessage).take(200)))))
        catch { case _: Throwable => () }
    })
  }

  /** Recorded events under `root` (driver-side read; test/CLI surface).
    * `tail = Some(n)` keeps only the n most-recent events with BOUNDED
    * memory — a long-lived continuous-ingest table accumulates unbounded
    * JSONL, and materializing it all to answer "what happened recently"
    * would grow the driver heap with table age. Events stream through a
    * size-n min-heap on ts (per-process files are time-ordered internally
    * but interleave across processes, so a global sort of SOME bounded
    * structure is required either way). */
  def events(root: String, tail: Option[Int] = None): Seq[QueryEvent] = {
    val d = dir(root)
    if (!Files.exists(d)) return Nil
    import scala.jdk.CollectionConverters._
    val files = graft.util.Fs.list(d).filter(_.getFileName.toString.endsWith(".jsonl"))
    val all = scala.collection.mutable.ArrayBuffer[QueryEvent]()
    // tail = Some(n): min-heap of the n largest timestamps —
    // O(total log n) time, O(n) memory.
    val heap = tail.map(n => new java.util.PriorityQueue[QueryEvent](
      math.max(1, n), java.util.Comparator.comparingLong[QueryEvent](_.ts)))
    def accept(e: QueryEvent): Unit = (heap, tail) match {
      case (Some(h), Some(n)) =>
        if (h.size < n) { h.add(e); () }
        else if (n > 0 && e.ts > h.peek().ts) { h.poll(); h.add(e); () }
      case _ => all += e; ()
    }
    var corrupt = 0L
    files.foreach { p =>
      val r = Files.newBufferedReader(p, StandardCharsets.UTF_8)
      try {
        var line = r.readLine()
        // An unparseable line is tolerated silently ONLY as a file's FINAL
        // line (a live writer racing this reader tears at most the tail —
        // the normal state on a continuous-ingest table). An unparseable
        // line FOLLOWED by more lines is real corruption: still skipped
        // (observability must not fail the caller) but counted and
        // surfaced, so shrinking history is distinguishable from a benign
        // race.
        var pendingBad = false
        while (line != null) {
          if (pendingBad) { corrupt += 1; pendingBad = false }
          if (line.nonEmpty) {
            scala.util.Try(TableJson.read[QueryEvent](line)) match {
              case scala.util.Success(e) => accept(e)
              case scala.util.Failure(_) => pendingBad = true
            }
          }
          line = r.readLine()
        }
      } finally r.close()
    }
    lastCorruptLines = corrupt
    if (corrupt > 0)
      System.err.println(
        s"[graft] metrics: skipped $corrupt corrupt non-final line(s) under $d")
    heap.map(_.asScala.toSeq).getOrElse(all.toSeq).sortBy(_.ts)
  }

  /** Corrupt (non-final unparseable) lines skipped by the most recent
    * [[events]] call — observability for tests and the CLI. */
  @volatile private[graft] var lastCorruptLines: Long = 0L
}
