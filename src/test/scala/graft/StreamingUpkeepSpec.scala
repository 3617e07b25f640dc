package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamingIngest
import graft.table.GraftTable

/** Streaming ingest with inline table upkeep: small files produced by
  * micro-batches get compacted + incrementally clustered as part of the
  * stream, and every row survives the maintenance commits. */
class StreamingUpkeepSpec extends GraftSuite {

  test("appendStreamWithUpkeep compacts and incrementally clusters once small files accumulate") {
    val work = TestFixtures.workRoot.resolve("stream-upkeep")
    val srcDir = work.resolve("src").toString
    // 200 rows in 20 parquet files -> 20 micro-batch appends of tiny files
    // (maxFilesPerTrigger=4 -> 5 batches of 4 files each).
    graft.images.ImageGen.df(spark, 200, seed = 13L, partitions = 20)
      .write.parquet(srcDir)
    val t = GraftTable.create(work.resolve("tbl").toString, spark)
    val stream = spark.readStream.schema(t.schema)
      .option("maxFilesPerTrigger", "4").parquet(srcDir)
    val q = StreamingIngest.appendStreamWithUpkeep(t, stream,
      checkpointDir = work.resolve("ckpt").toString,
      targetBytes = 4L * 1024 * 1024,
      maintainEveryFiles = 8)
    q.awaitTermination(120000)
    assert(!q.isActive)

    val ops = t.meta.snapshots.map(_.operation)
    assert(ops.count(_ == "append") >= 2, s"expected several micro-batch appends: $ops")
    assert(ops.contains("compact"), s"upkeep should have compacted: $ops")
    assert(ops.contains("cluster"), s"upkeep should have clustered: $ops")

    // No rows lost or duplicated through ingest + maintenance.
    val ids = t.scan().select("image_id").collect().map(_.getString(0))
    assert(ids.length == 200)
    assert(ids.distinct.length == 200)
    // Upkeep actually erased the accumulated small-file population.
    val small = t.currentFiles.count(_.fileSizeBytes < 3L * 1024 * 1024)
    assert(t.currentFiles.size < 20,
      s"expected upkeep to shrink the file count, got ${t.currentFiles.size} (small=$small)")
  }

  test("streaming micro-batch append commits snapshots") {
    // Ingest: stream the image fixture into a fresh table via AvailableNow;
    // 3 small files stay under the upkeep threshold, so the last commit is
    // the append itself.
    val work = TestFixtures.workRoot.resolve("stream-ingest")
    val srcDir = work.resolve("src").toString
    graft.images.ImageGen.df(spark, 60, seed = 7L, partitions = 3)
      .write.parquet(srcDir)
    val t = GraftTable.create(work.resolve("tbl").toString, spark)
    val stream = spark.readStream.schema(t.schema).parquet(srcDir)
    val q = StreamingIngest.appendStreamWithUpkeep(t, stream,
      checkpointDir = work.resolve("ckpt").toString)
    q.awaitTermination(120000)
    assert(t.scan().count() == 60)
    assert(t.meta.snapshots.nonEmpty)
    assert(t.currentSnapshot.operation == "append")
  }

  test("streaming append is idempotent per (checkpoint, batchId): a re-delivered batch is skipped") {
    val work = TestFixtures.workRoot.resolve("stream-idem")
    val t = GraftTable.create(work.resolve("tbl").toString, spark)
    val batch = graft.images.ImageGen.df(spark, 20, seed = 77L, partitions = 2)
    val ckpt = work.resolve("ckpt").toString
    // First delivery commits; the foreachBatch redelivery of the SAME
    // batchId (at-least-once after a crash between table commit and
    // checkpoint offset commit) must be a no-op.
    assert(StreamingIngest.idempotentAppend(t, batch, ckpt, batchId = 0L))
    assert(t.scan().count() == 20)
    assert(!StreamingIngest.idempotentAppend(t, batch, ckpt, batchId = 0L))
    assert(t.scan().count() == 20)
    assert(t.meta.snapshots.count(_.operation == "append") == 1)
    // The property is the only record: the append's summary carries no
    // per-batch marker.
    assert(!t.currentSnapshot.summary.keys.exists(_.startsWith("stream-")),
      s"summary: ${t.currentSnapshot.summary}")
    // A different batch id (or another checkpoint) is new work.
    assert(StreamingIngest.idempotentAppend(t, batch, ckpt, batchId = 1L))
    assert(t.scan().count() == 40)
    assert(StreamingIngest.idempotentAppend(t, batch, work.resolve("ckpt2").toString, 1L))
    assert(t.scan().count() == 60)

    // The guard is a per-checkpoint WATERMARK in table properties, committed
    // in the same CAS as the append — so it is O(1) to check and SURVIVES
    // snapshot expiry: once every snapshot that appended a batch is gone,
    // the property alone still skips its replay.
    assert(t.meta.properties.get(StreamingIngest.watermarkKey(ckpt)).contains("1"))
    graft.jobs.ExpireSnapshots.run(t, Seq(t.currentSnapshot.snapshotId))
    assert(t.meta.snapshots.size == 1, "history expired to current only")
    assert(!StreamingIngest.idempotentAppend(t, batch, ckpt, batchId = 0L),
      "replay of an expired-snapshot batch must STILL be skipped")
    assert(!StreamingIngest.idempotentAppend(t, batch, ckpt, batchId = 1L))
    // The kept snapshot (ckpt2's batch 1) has no marker either: only its
    // property can skip the replay.
    assert(!StreamingIngest.idempotentAppend(t, batch, work.resolve("ckpt2").toString, 1L))
    assert(t.scan().count() == 60)
  }

  test("cluster exchange is skew-safe: a hot curve key collapses to one partition, rows survive") {
    val work = TestFixtures.workRoot.resolve("cluster-skew")
    val t = GraftTable.create(work.resolve("tbl").toString, spark)
    // 70% of rows share ONE (phash,w,h) key -> duplicate quantile boundaries
    // must collapse (distinct) and the exchange still routes every row.
    val base = graft.images.ImageGen.df(spark, 300, seed = 21L, partitions = 6)
    val skewed = base.withColumn("phash",
      when(rand(42) < 0.7, lit(1234567890123L)).otherwise(col("phash")))
      .withColumn("w", when(rand(43) < 0.7, lit(64)).otherwise(col("w")))
      .withColumn("h", when(rand(44) < 0.7, lit(64)).otherwise(col("h")))
    GraftTable.append(t, skewed, targetFiles = Some(6))
    val rows = t.scan().count()
    val r = graft.jobs.Cluster.run(t, curve = "zorder", mode = "global",
      targetBytes = 256L * 1024)
    assert(r.snapshot.isDefined)
    assert(t.scan().count() == rows, "skewed exchange must not lose rows")
    assert(canon(t.scan()).size == rows.toInt)
  }
}
