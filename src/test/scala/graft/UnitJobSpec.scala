package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.UnitJob
import graft.lineage.{Lineage, UnitLineage}
import graft.table.DataFileMeta

/** The resumable-unit runner driven directly: fake unit bodies over a temp
  * root, no table and no Spark job. */
class UnitJobSpec extends AnyFunSuite {

  private def freshRoot(name: String): String =
    Files.createDirectories(TestFixtures.workRoot.resolve(name)).toString

  private def output(u: Int) =
    (Seq(s"in-$u"), Seq(DataFileMeta(s"data/out-$u.parquet", 10L, 1L, Map.empty)))

  test("a failed unit stops every unit that has not started and is rethrown") {
    val root = freshRoot("unitjob-cancel")
    val job = new UnitJob(root, "cancel", System.nanoTime())
    val started = new ConcurrentLinkedQueue[Int]()
    val unit1Started = new CountDownLatch(1)
    val never = new CountDownLatch(1)
    val boom = new RuntimeException("unit 0 failed")
    val e = intercept[RuntimeException] {
      job.run(units = 6, poolSize = 2, failAfterUnits = None) { _.map { u =>
        started.add(u)
        u match {
          case 0 => unit1Started.await(); throw boom
          case 1 => unit1Started.countDown(); never.await(); output(u)
          case _ => output(u)
        }
      } }
    }
    assert(e eq boom, s"rethrows unit 0's exception, got $e")
    assert(started.asScala.forall(_ < 2), s"queued units started: ${started.asScala}")
    // A unit that finished would have lineage; none did (0 threw, 1 was
    // interrupted while blocked).
    assert(Lineage.committedUnits(root, "cancel").isEmpty)
  }

  test("the kill point falls after a unit's write and before its lineage; resume runs the rest") {
    val root = freshRoot("unitjob-kill")
    val written = new ConcurrentLinkedQueue[Int]()
    def attempt(fail: Option[Int]) = {
      val job = new UnitJob(root, "kill", System.nanoTime())
      (job, job.run(units = 4, poolSize = 1, failAfterUnits = fail) { _.map { u =>
        written.add(u)
        // A real unit's output file exists before its lineage: resume
        // re-runs a finished unit whose file is gone.
        Files.createDirectories(Paths.get(root, "data"))
        Files.write(Paths.get(root, s"data/out-$u.parquet"), Array[Byte](1))
        output(u)
      } })
    }
    intercept[RuntimeException] { attempt(Some(2)) }
    // Unit 2 wrote its output, but only units 0 and 1 are committed.
    assert(written.asScala.toSeq == Seq(0, 1, 2))
    assert(Lineage.committedUnits(root, "kill").keySet == Set(0, 1))
    written.clear()
    val (job, ran) = attempt(None)
    assert(job.resumed.keySet == Set(0, 1) && ran == 2)
    assert(written.asScala.toSeq == Seq(2, 3), "resume runs only the unfinished units")
    assert(Lineage.committedUnits(root, "kill").keySet == Set(0, 1, 2, 3))
    assert(Lineage.committedUnits(root, "kill")(3).filesOut == output(3)._2)
  }

  test("reading committed units closes every directory stream") {
    val fdDir = new java.io.File("/proc/self/fd")
    assume(fdDir.isDirectory, "needs /proc/self/fd")
    val root = freshRoot("unitjob-fds")
    Lineage.commitUnit(root, UnitLineage("fds", 0, Seq("in-0"), output(0)._2, 0L))
    def openFds(): Int = { System.gc(); fdDir.list().length }
    val before = openFds()
    (1 to 200).foreach(_ => assert(Lineage.committedUnits(root, "fds").size == 1))
    val leaked = openFds() - before
    // An unclosed Files.list keeps its descriptors open even across a GC:
    // 200 such calls leave hundreds open. The slack covers descriptors
    // other threads of this JVM open meanwhile.
    assert(leaked < 50, s"$leaked descriptors left open by 200 listings")
  }
}
