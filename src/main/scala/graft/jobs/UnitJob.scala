package graft.jobs

import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import graft.lineage.{Lineage, Metrics, UnitLineage}
import graft.table.{DataFileMeta, GraftTable, Snapshot}

/**
 * The resumable-unit runner shared by compaction, both clustering modes and
 * the IVF build. A job supplies how it forms its units, what one unit
 * writes, and its result; this owns the resume protocol, FlowRAG's "write
 * the hash marker only after success" ordering (see [[Lineage]]):
 *  1. a job whose COMMITTED marker exists reports that snapshot
 *     ([[committed]]);
 *  2. units a killed attempt committed are skipped while their output files
 *     exist ([[resumed]]);
 *  3. the rest run on a bounded pool, a batch of units per task (one Spark
 *     job per batch: Compact's waves); a pool of 1 runs them in order;
 *  4. each unit's lineage is written only after its output files are. The
 *     one injected kill point (`failAfterUnits`, counted over the units
 *     this run finishes) sits between the two: the harshest point, as it
 *     leaves an unreferenced file that resume must ignore;
 *  5. the first failure stops every unit that has not started (a shared
 *     flag each task checks first, then `shutdownNow`) and is rethrown;
 *  6. [[finish]] commits every unit's output as one snapshot, marks the job
 *     committed and records it, timed from job start.
 *
 * One instance per job run; `startNs` is when the job started.
 */
final class UnitJob(root: String, val jobId: String, startNs: Long) {

  /** The snapshot an earlier attempt of this job committed, if any. */
  def committed: Option[Long] = Lineage.committedSnapshot(root, jobId)

  /** Units an earlier, killed attempt finished whose output files all still
    * exist. Those outputs are in no snapshot, so an orphan sweep between the
    * kill and this run may have deleted them; such a unit runs again and its
    * lineage is replaced. */
  lazy val resumed: Map[Int, UnitLineage] = Lineage.committedUnits(root, jobId)
    .filter { case (_, u) => u.filesOut.forall(f => Files.exists(Paths.get(root, f.path))) }

  /** Mark the job done at `snapshotId` (also used when a job finds its own
    * commit raced a kill before the marker was written). */
  def markCommitted(snapshotId: Long): Unit =
    Lineage.markCommitted(root, jobId, snapshotId)

  /** Run every unit in `0 until units` not in [[resumed]], `batch(remaining)`
    * units per task on a pool of `poolSize`. `write` writes one batch and
    * returns each unit's (input paths, output files), in batch order.
    * Returns the number of units run. */
  def run(units: Int, poolSize: Int, failAfterUnits: Option[Int],
      batch: Int => Int = _ => 1)(
      write: Seq[Int] => Seq[(Seq[String], Seq[DataFileMeta])]): Int = {
    val todo = (0 until units).filterNot(resumed.contains)
    val batches = todo.grouped(math.max(1, batch(todo.size))).toSeq
    val finished = new AtomicInteger(0)
    val failed = new AtomicBoolean(false)
    def runBatch(b: Seq[Int]): Unit = {
      val t0 = System.nanoTime()
      val outs = write(b)
      require(outs.size == b.size, s"unit output mismatch: ${outs.size} for ${b.size} units")
      val ms = (System.nanoTime() - t0) / 1000000
      b.zip(outs).foreach { case (u, (in, out)) =>
        failAfterUnits.foreach { k =>
          if (finished.incrementAndGet() > k)
            throw new RuntimeException(s"injected failure after $k units")
        }
        Lineage.commitUnit(root, UnitLineage(jobId, u, in, out, ms))
      }
    }
    val pool = Executors.newFixedThreadPool(math.max(1, poolSize))
    val done = new ExecutorCompletionService[Unit](pool)
    try {
      batches.foreach { b =>
        done.submit(new Callable[Unit] {
          def call(): Unit = if (!failed.get) {
            try runBatch(b) catch { case e: Throwable => failed.set(true); throw e }
          }
        })
      }
      // The first failure interrupts in-flight units (finally) and is
      // rethrown; queued ones see the flag, set before their task ends.
      batches.foreach { _ =>
        try done.take().get() catch { case e: ExecutionException => throw e.getCause }
      }
    } finally pool.shutdownNow()
    todo.size
  }

  /** Commit every unit's output in place of `removed`, then mark the job
    * committed and record it as `name` with `detail(added)`. */
  def finish(t: GraftTable, units: Int, operation: String, removed: Set[String],
      summary: Map[String, String], name: String)(
      detail: Seq[DataFileMeta] => Map[String, String]): (Snapshot, Seq[DataFileMeta]) = {
    val done = Lineage.committedUnits(root, jobId)
    require(done.size == units, s"lineage incomplete: ${done.size}/$units")
    val added = done.values.flatMap(_.filesOut).toSeq.sortBy(_.path)
    val snap = t.commit(operation, added, removed, summary)
    markCommitted(snap.snapshotId)
    Metrics.recordJob(root, name, startNs, detail(added))
    (snap, added)
  }
}

object UnitJob {
  /** Deterministic job id from (op, base snapshot, params, inputs): a
    * restarted run on the same base re-derives the same id and resumes. */
  def id(op: String, baseSnapshot: Long, params: String, inputs: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(s"$op|$baseSnapshot|$params|".getBytes)
    inputs.sorted.foreach(p => md.update(p.getBytes))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}
