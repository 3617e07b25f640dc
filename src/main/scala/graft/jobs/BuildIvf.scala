package graft.jobs

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, RowOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

import graft.expr.{functions => gf}
import graft.lineage.{Lineage, Metrics}
import graft.operators.KMeans
import graft.table.{DataFileMeta, GraftTable, InLong, MetaIO, PartitionSpec, Snapshot}

/**
 * IVF ANN index BUILD as a lakehouse table-maintenance job — the batch
 * analog of the reference ANN backends' index construction
 * (storage-redis/src/vector-storage.ts:31-46,
 * storage-opensearch/src/vector-storage.ts:24-39): train the coarse
 * quantizer ([[KMeans]]), assign every vector to its inverted list, and
 * PERSIST the lists as a bucket-partitioned graft table whose manifests
 * prune probes.
 *
 * Why a table rather than an in-memory index: at 10^12 vectors the
 * inverted lists ARE the storage layout. Each bucket is a partition value,
 * so a probe is a manifest-pruned scan that opens only its bucket's files
 * (~nprobe/k of the table); the centroids (k x dims fixed-point longs)
 * travel in TABLE PROPERTIES, making the index self-describing and
 * snapshot-versioned with its data, and time travel applies to the index
 * like any other table. RETRAIN CONTRACT: a re-run against a committed
 * index with different parameters (or different data) REFUSES
 * ([[preTrainingGuard]]/[[attachTable]]) — retraining means delete and
 * rebuild. Note the job identity is the parameter signature plus the
 * input FILE LIST: identical root+params+files is treated as the same
 * completed job (the COMMITTED marker short-circuits), so a non-file
 * source whose contents changed, or the same files re-filtered through a
 * different DataFrame transformation, must use a fresh root.
 *
 * Scale design (round 6):
 *  - SALTED SUB-BUCKET routing: bucket i gets m_i = ceil(estBytes_i /
 *    targetBytes) output partitions, each written by its own task — the
 *    earlier one-partition-per-bucket routing capped within-bucket write
 *    parallelism at ONE task and made output file size equal to bucket
 *    size (~100 GB per file at 10^12 vectors, k = 1024). Every sub-bucket
 *    file still holds exactly one bucket, so manifests stay valued and
 *    probes open only the probed buckets' files (the reference backends
 *    shard their lists the same way, storage-opensearch vector-storage).
 *  - The bucket -> representative router is one O(1)-per-row codegen'd
 *    expression ([[graft.expr.IvfRep]]: binary search + salt hash), not an
 *    O(k) chained `when`.
 *  - LINEAGE-RESUMABLE through [[UnitJob]], two unit shapes: the trained
 *    centroids are the job's first durable artifact (a killed 100 TB build
 *    never retrains), then
 *      * [[runFiles]] (the production path for file-backed sources):
 *        units are FFD-packed INPUT-FILE groups — each unit reads only
 *        its own files (zero read amplification, the Compact/Cluster
 *        shape), routes its slice bucket-pure, and units run overlapped
 *        on a bounded pool. Cross-unit parallelism doubles as the
 *        sub-bucket split: with unit capacity ~ k x targetBytes each
 *        unit's per-bucket slice is ~one target-sized file.
 *      * [[run]] (arbitrary DataFrames): one unit routes the whole input,
 *        so a killed run resumes from the persisted fit but rewrites every
 *        bucket; prefer runFiles whenever the source is files.
 */
object BuildIvf {

  /** Property key holding `cid:c1,c2,...|cid:...` (components scaled 1e6,
    * [[KMeans.Scale]]). k x dims longs — metadata-sized at any N. */
  val CentroidsProp = "ivf.centroids"
  val KProp = "ivf.k"

  /** Lineage artifact: trained centroids + cluster sizes (resume skips the
    * fit; sizes drive the sub-bucket split). */
  private val FitArtifact = "centroids.txt"

  case class Result(table: GraftTable, k: Int, rows: Long, files: Int)

  private[graft] def encodeCentroids(cs: Seq[(Long, Array[Long])]): String =
    cs.map { case (cid, cv) => s"$cid:${cv.mkString(",")}" }.mkString("|")

  private[graft] def decodeCentroids(s: String): Seq[(Long, Array[Long])] =
    s.split('|').toSeq.map { part =>
      val Array(cid, vs) = part.split(':')
      (cid.toLong, vs.split(',').map(_.toLong))
    }

  private def encodeSizes(sizes: Map[Long, Long]): String =
    sizes.toSeq.sorted.map { case (c, n) => s"$c:$n" }.mkString(",")

  private def decodeSizes(s: String): Map[Long, Long] =
    s.split(',').toSeq.filter(_.nonEmpty).map { p =>
      val Array(c, n) = p.split(':'); (c.toLong, n.toLong)
    }.toMap

  def centroidsOf(t: GraftTable): Seq[(Long, Array[Long])] =
    decodeCentroids(t.meta.properties.getOrElse(CentroidsProp,
      throw new IllegalStateException(s"${t.root} is not an IVF index table")))

  /** Sub-bucket (output file / writer task) count per bucket: m = ceil of
    * the bucket's estimated bytes over `targetBytes`, bytes estimated from
    * row count x (ids + dims floats). Estimation steers file SIZE only —
    * purity and probe pruning never depend on it. */
  private[graft] def subBucketCounts(cents: Seq[(Long, Array[Long])],
      rowsPerBucket: Map[Long, Long], targetBytes: Long): Map[Long, Int] = {
    val dims = cents.headOption.map(_._2.length).getOrElse(0)
    val rowBytes = 20L + 4L * dims
    cents.map { case (cid, _) =>
      cid -> math.max(1, math.ceil(
        rowsPerBucket.getOrElse(cid, 0L).toDouble * rowBytes /
          math.max(1L, targetBytes)).toInt)
    }.toMap
  }

  /** (vec_id, embedding, bucket): map-side nearest-centroid assignment
    * against ALL centroids (driver-held literals — no join, no shuffle).
    * Rows with a NULL id or vector are excluded: a null vector has no
    * nearest list (reference ANN backends likewise skip documents without
    * embeddings), and letting it through would give it a null bucket that
    * contaminates a partition-pure file. */
  private def assign(vectors: DataFrame, idCol: String, vecCol: String,
      cents: Seq[(Long, Array[Long])]): DataFrame =
    vectors
      .select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<float>").as("embedding"))
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull)
      .withColumn("bucket",
        KMeans.assignScaled(KMeans.scaled(col("embedding")), cents))

  /** Partition-PURE salted routing: bucket with ascending index i owns the
    * contiguous output-partition block [offsets(i), offsets(i+1)) via the
    * Murmur3 representative trick ([[Cluster.partitionReps]]); the row's id
    * salts the sub-bucket pick. Every data file holds ONE bucket, so the
    * manifests carry per-bucket partition values — a plain
    * repartition(col("bucket")) hash-collides buckets into shared files
    * and silently demotes probe pruning to zero. */
  private def route(assigned: DataFrame, cids: Array[Long],
      subBuckets: Map[Long, Int]): DataFrame = {
    val ms = cids.map(c => math.max(1, subBuckets.getOrElse(c, 1)))
    val offsets = ms.scanLeft(0)(_ + _)
    val total = offsets.last
    val reps = Cluster.partitionReps(total)
    assigned
      .withColumn("__rep", gf.ivf_rep(col("bucket"), col("vec_id"),
        cids, offsets, reps))
      .repartition(total, col("__rep")).drop("__rep")
  }

  // ------------------------------------------------------- shared phases

  /** Full-job idempotence: a restart after the final commit is a no-op.
    * Rows/files come from the BUILD's OWN snapshot summary (resolved by
    * the marker's id — the current snapshot may already be a later
    * append's); an expired build snapshot falls back to the lineage
    * units' totals. No manifest re-read either way. */
  private def completedResult(spark: SparkSession, root: String,
      job: UnitJob): Option[Result] =
    job.committed.map { sid =>
      val t = GraftTable.load(root, spark)
      val k = t.meta.properties(KProp).toInt
      t.meta.snapshot(sid) match {
        case Some(s) => summaryResult(t, k, s)
        case None =>
          val units = Lineage.committedUnits(root, job.jobId).values
          Result(t, k, units.map(_.rows).sum, units.map(_.filesOut.size).sum)
      }
    }

  /** The result of the build that committed `s`, from `s`'s own summary. */
  private def summaryResult(t: GraftTable, k: Int, s: Snapshot): Result =
    Result(t, k, s.summary.get("added-rows").map(_.toLong).getOrElse(0L),
      s.summary.get("added-files").map(_.toInt).getOrElse(0))

  /** Cheap pre-training refusal: a table at root that already has a
    * committed snapshot, with NO fit artifact for this jobId, is either a
    * foreign table or an index built with different parameters — fail now
    * rather than after a (100 TB-scale) training pass. The in-flight and
    * raced-commit resume cases both have the artifact (it is written
    * before any unit runs); attachTable re-validates with the centroids. */
  private def preTrainingGuard(spark: SparkSession, root: String,
      jid: String): Unit =
    if (MetaIO.currentVersion(root).isDefined &&
        Lineage.getArtifact(root, jid, FitArtifact).isEmpty &&
        GraftTable.load(root, spark).meta.currentSnapshotId.nonEmpty)
      throw new IllegalArgumentException(
        s"$root already holds a committed index built with different " +
          s"parameters; delete it or re-run with the original arguments")

  /** Phase 1 (resumable): train, or reuse the persisted fit — the first
    * committed artifact, so a killed build never retrains. */
  private def fitOrResume(vectors: => DataFrame,
      idCol: String, vecCol: String, initIds: Seq[Long], iters: Int,
      root: String, jid: String): (Seq[(Long, Array[Long])], Map[Long, Long]) =
    Lineage.getArtifact(root, jid, FitArtifact) match {
      case Some(txt) =>
        val lines = txt.split('\n')
        (decodeCentroids(lines(0)),
          if (lines.length > 1) decodeSizes(lines(1)) else Map.empty[Long, Long])
      case None =>
        val tFit = System.nanoTime()
        val fit = KMeans.fit(vectors, vecCol, idCol, initIds, iters)
        Metrics.recordJob(root, "kmeans-fit", tFit,
          Map("k" -> fit.centroids.size.toString, "iters" -> iters.toString))
        Lineage.putArtifact(root, jid, FitArtifact,
          encodeCentroids(fit.centroids) + "\n" + encodeSizes(fit.sizes))
        (fit.centroids, fit.sizes)
    }

  /** Phase 2: the index table — fresh create, or reattach to the in-flight
    * build's metadata (created before the kill). The centroid property
    * guards against resuming into an unrelated table at the same root;
    * returns Left when our own commit raced the kill (snapshot durable,
    * marker not yet written) so the caller recognizes it instead of
    * appending a duplicate. */
  private def attachTable(spark: SparkSession, root: String, job: UnitJob,
      sorted: Seq[(Long, Array[Long])]): Either[Result, GraftTable] = {
    val k = sorted.size
    if (MetaIO.currentVersion(root).isDefined) {
      val ex = GraftTable.load(root, spark)
      require(ex.meta.properties.get(CentroidsProp)
          .contains(encodeCentroids(sorted)),
        s"$root holds a different table; refusing to resume an IVF build into it")
      ex.meta.currentSnapshot
        .filter(_.summary.get("job-id").contains(job.jobId)).foreach { s =>
          job.markCommitted(s.snapshotId)
          return Left(summaryResult(ex, k, s))
        }
      // Any OTHER committed snapshot means the index was already built by
      // a run with DIFFERENT parameters (the fit is deterministic, so
      // matching centroids alone cannot distinguish jobs): proceeding
      // would append every vector a second time. Only an in-flight build
      // (no snapshot yet) is resumable here.
      require(ex.meta.currentSnapshotId.isEmpty,
        s"$root already holds a committed index built with different " +
          s"parameters; delete it or re-run with the original arguments")
      Right(ex)
    } else Right(GraftTable.create(root, spark,
      schemaDdl = "vec_id BIGINT, embedding ARRAY<FLOAT>, bucket BIGINT",
      properties = Map(
        CentroidsProp -> encodeCentroids(sorted),
        KProp -> k.toString),
      partitionSpec = Some(PartitionSpec("bucket", "identity"))))
  }

  /** Final phase: fold every committed unit's files into ONE snapshot,
    * mark the job done, record metrics. */
  private def finish(t: GraftTable, job: UnitJob, units: Int, k: Int): Result = {
    val (_, added) = job.finish(t, units, "append", Set.empty,
      Map("job" -> "build-ivf", "job-id" -> job.jobId), "build-ivf") { added =>
      Map("units" -> units.toString, "k" -> k.toString, "files" -> added.size.toString,
        "rows" -> added.map(_.rowCount).sum.toString) }
    Result(t, k, added.map(_.rowCount).sum, added.size)
  }

  // ------------------------------------------------------------- entries

  /** Build the index table at `root` from `vectors` (idCol: long-castable
    * id, vecCol: float/double array). Deterministic end-to-end: the
    * fixed-point fit plus value-routed salted writes make a rebuild of the
    * same data byte-comparable. Resumable: re-invoking with identical
    * arguments after a kill reuses the persisted fit; the routed write is
    * one unit. Prefer [[runFiles]] for file-backed sources (its units
    * resume at file-group granularity). */
  def run(spark: SparkSession, vectors: DataFrame, idCol: String,
      vecCol: String, root: String, initIds: Seq[Long],
      iters: Int = 3, targetBytes: Long = 8L * 1024 * 1024,
      failAfterUnits: Option[Int] = None): Result = {
    val jobT0 = System.nanoTime()
    // Input files (when the source is file-backed) pin the job identity the
    // same way Compact's input list does; a non-file source falls back to
    // the parameter signature alone.
    val inputs = scala.util.Try(vectors.inputFiles.toSeq).getOrElse(Nil)
    val job = new UnitJob(root, UnitJob.id("build-ivf", 0L,
      s"$idCol|$vecCol|${initIds.sorted.mkString(",")}|$iters|$targetBytes",
      inputs), jobT0)
    completedResult(spark, root, job).foreach(r => return r)
    Files.createDirectories(Paths.get(root))
    preTrainingGuard(spark, root, job.jobId)
    val (cents, sizes) =
      fitOrResume(vectors, idCol, vecCol, initIds, iters, root, job.jobId)
    val sorted = cents.sortBy(_._1)
    val k = sorted.size
    val sub = subBucketCounts(sorted, sizes, targetBytes)
    val t = attachTable(spark, root, job, sorted) match {
      case Left(done) => return done
      case Right(tbl) => tbl
    }

    // Phase 3: one routed write of every bucket, the job's one unit.
    job.run(1, poolSize = 1, failAfterUnits) { _ =>
      Seq((Nil, t.writeDataFiles(route(assign(vectors, idCol, vecCol, sorted),
        sorted.map(_._1).toArray, sub))))
    }
    finish(t, job, 1, k)
  }

  /** File-group-resumable build — the production 100 TB path for
    * file-backed vector sources (and the CLI's). Units are FFD-packed
    * groups of the input files, each read EXACTLY ONCE by its own unit
    * (zero read amplification — the Compact/Cluster unit shape), routed
    * bucket-pure and committed to lineage, overlapped on a bounded pool.
    * Unit capacity is k x targetBytes, so each unit's expected per-bucket
    * slice is one ~target-sized file and cross-unit parallelism doubles as
    * the sub-bucket split; a skewed bucket's per-unit slice is still
    * bounded by the unit size. Training still scans everything (that is the fit),
    * and resumes from the persisted artifact like run(). */
  def runFiles(spark: SparkSession, srcFiles: Seq[String], idCol: String,
      vecCol: String, root: String, initIds: Seq[Long], iters: Int = 3,
      targetBytes: Long = 8L * 1024 * 1024, maxConcurrentUnits: Int = 8,
      failAfterUnits: Option[Int] = None): Result = {
    val jobT0 = System.nanoTime()
    require(srcFiles.nonEmpty, "no input files")
    val job = new UnitJob(root, UnitJob.id("build-ivf-files", 0L,
      s"$idCol|$vecCol|${initIds.sorted.mkString(",")}|$iters|$targetBytes",
      srcFiles), jobT0)
    completedResult(spark, root, job).foreach(r => return r)
    Files.createDirectories(Paths.get(root))
    preTrainingGuard(spark, root, job.jobId)
    val (cents, sizes) = fitOrResume(spark.read.parquet(srcFiles: _*),
      idCol, vecCol, initIds, iters, root, job.jobId)
    val sorted = cents.sortBy(_._1)
    val k = sorted.size
    val t = attachTable(spark, root, job, sorted) match {
      case Left(done) => return done
      case Right(tbl) => tbl
    }

    // Strip a file: URI scheme before the size lookup — DataFrame
    // .inputFiles returns file:/... paths that spark.read accepts but
    // java.nio Paths.get would reject; non-local schemes still fail loudly
    // (the FFD packing needs real local sizes).
    val metas = srcFiles.map { p =>
      val local = if (p.startsWith("file:")) Paths.get(java.net.URI.create(p))
        else Paths.get(p)
      DataFileMeta(p, Files.size(local), 0L, Map.empty)
    }
    val totalBytes = math.max(1L, metas.map(_.fileSizeBytes).sum)
    val groups = Cluster.packGroups(metas, math.max(targetBytes, k.toLong * targetBytes))
    // Per-unit sub-bucket counts: the global cluster-size profile scaled
    // to the unit's byte fraction — m is ~1 at the chosen capacity, >1
    // only for genuinely skewed buckets. Double arithmetic: at 10^12 rows
    // with multi-GB units, n * unitBytes overflows Long exactly for the
    // skewed buckets the split exists to handle.
    def unitSub(unitBytes: Long): Map[Long, Int] = subBucketCounts(sorted,
      sizes.view.mapValues(n =>
        math.max(1L, (n.toDouble * unitBytes / totalBytes).toLong)).toMap,
      targetBytes)

    // Resume soundness: the job id pins file PATHS but not sizes, and the
    // FFD grouping orders by size — if a source file was rewritten between
    // kill and resume, the recomputed groups no longer line up with the
    // committed units' recorded inputs, and trusting the indices would
    // ingest some files twice and others never. Fail loudly instead.
    job.resumed.foreach { case (gi, u) =>
      require(gi < groups.size && groups(gi).map(_.path).toSet == u.filesIn.toSet,
        s"input files changed since the killed run (unit $gi's group no " +
          s"longer matches its lineage); delete $root/lineage/${job.jobId} to rebuild")
    }
    job.run(groups.size, maxConcurrentUnits, failAfterUnits) { _.map { gi =>
      val g = groups(gi)
      val src = spark.read.parquet(g.map(_.path): _*)
      (g.map(_.path), t.writeDataFiles(route(assign(src, idCol, vecCol, sorted),
        sorted.map(_._1).toArray, unitSub(g.map(_.fileSizeBytes).sum))))
    } }
    finish(t, job, groups.size, k)
  }

  /** nprobe-pruned cosine top-k over the index table. Probe lists are
    * picked DRIVER-side against the property centroids (k distances — no
    * job); ONE manifest-pruned scan with an InLong membership filter opens
    * only the probed buckets' files (~nprobe/k of the table) — the earlier
    * per-bucket scanWhere union planned nprobe separate parquet scans,
    * fine at nprobe=2 but nprobe plan nodes at nprobe=64. */
  def probe(t: GraftTable, query: Array[Double], nprobe: Int,
      topK: Int): DataFrame = {
    val cents = centroidsOf(t)
    val q = query.map(KMeans.scaleValue)
    // Same exact-Long contract as the fit (KMeans.scaled scaladoc): an
    // out-of-magnitude query would silently wrap the driver-side distance
    // loop below and probe the wrong lists; a wrong-dimensionality query
    // would index past the centroid (or, in the scan kernel, the query)
    // array with a raw AIOOBE.
    val dims = cents.headOption.map(_._2.length).getOrElse(query.length)
    require(query.length == dims,
      s"query has ${query.length} dims, index has $dims")
    val bound = KMeans.maxSafeScaled(dims)
    require(q.forall(x => math.abs(x) <= bound),
      s"query component exceeds the exact-Long distance bound $bound (scaled 1e6)")
    val probes = cents
      .map { case (cid, cv) =>
        var d = 0L
        var i = 0
        while (i < cv.length) { val x = q(i) - cv(i); d += x * x; i += 1 }
        (d, cid)
      }
      .sorted.take(math.max(1, nprobe)).map(_._2)
    val scanned = t.scanWhere(Seq(InLong("bucket", probes)))
    val qNorm = math.sqrt(query.map(x => x * x).sum)
    val scored = scanned
      // One codegen'd pass per row (dot + norm together, expr.CosineSim) —
      // the serving hot loop; the composed zip_with/aggregate form paid
      // three interpreted higher-order traversals per scanned vector.
      .withColumn("cos", gf.cosine_sim(col("embedding"), query, qNorm))
      .select(col("vec_id"), col("bucket"), col("cos"))
    // Probed buckets read on the driver (small enough for scanWhere's
    // driver-read cutoff) are scored by the optimizer, which folds the
    // projection into the local rows with the same CosineSim kernel; their
    // top k is taken here too, and no Spark job runs.
    scored.queryExecution.optimizedPlan match {
      case l: LocalRelation => Bridge.ofRows(t.spark, topOnDriver(l, topK,
        scanned.queryExecution.analyzed.collectFirst {
          case r: LocalRelation => r.getTagValue(Metrics.DriverReadTag)
        }.flatten))
      case _ => scored.orderBy(col("cos").desc, col("vec_id").asc).limit(topK)
    }
  }

  /** The first `topK` rows of scored `l` in the distributed probe's order,
    * `cos DESC, vec_id ASC`, compared by Spark's own row ordering (NaN
    * above every number, nulls last), as a local relation that carries the
    * driver read's metrics tag, `read`. */
  private def topOnDriver(l: LocalRelation, topK: Int,
      read: Option[Metrics.DriverRead]): LocalRelation = {
    val a = l.output.map(x => x.name -> x).toMap
    val ord = RowOrdering.create(
      Seq(SortOrder(a("cos"), Descending), SortOrder(a("vec_id"), Ascending)), l.output)
    val top = l.copy(data = l.data.sorted(ord).take(topK))
    read.foreach(top.setTagValue(Metrics.DriverReadTag, _))
    top
  }
}
