package graft

import org.apache.spark.sql.SparkSession

import graft.images.ImageGen
import graft.jobs._
import graft.table._

/**
 * spark-submit CLI (SURVEY.md §3.3 restatement of the reference's MCP/CLI
 * delegation surface, packages/cli/src/program.ts): one verb per maintenance
 * job plus gen/stats/scan/snapshots for driving and inspection.
 *
 *   spark-submit --class graft.Main flowragspark.jar <verb> --root DIR [args]
 */
object Main {
  private[graft] def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(s"--$name")
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }
  private[graft] def req(args: Array[String], name: String): String =
    arg(args, name).getOrElse(sys.error(s"missing --$name"))

  def main(argv: Array[String]): Unit = {
    if (argv.isEmpty) {
      System.err.println(
        "verbs: gen | ingest | stats | snapshots | scan | lineage | metrics | compact | cluster | rewrite-manifests | expire | rollback | merge-demo | delete | dedup | transcode | evolve-schema | ivf-build | ivf-probe | ivf-demo")
      sys.exit(2)
    }
    val verb = argv.head
    val args = argv.tail
    val spark: SparkSession =
      if (sys.env.contains("SPARK_GRAFT_CPUS") || SparkSession.getActiveSession.isEmpty)
        GraftSession.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
      else SparkSession.active
    try {
      val root = req(args, "root")
      verb match {
        case "gen" =>
          val rows = arg(args, "rows").map(_.toLong).getOrElse(1000L)
          val files = arg(args, "files").map(_.toInt).getOrElse(100)
          val seed = arg(args, "seed").map(_.toLong).getOrElse(42L)
          // --partition-by col[:transform], e.g. fmt or phash:truncate[1024]
          val pspec = arg(args, "partition-by").map { s =>
            val p = s.split(":", 2)
            PartitionSpec(p(0), if (p.length > 1) p(1) else "identity")
          }
          val t = if (MetaIO.currentVersion(root).isDefined) GraftTable.load(root, spark)
                  else GraftTable.create(root, spark, partitionSpec = pspec)
          val df = ImageGen.df(spark, rows, seed, files)
          val spec = t.meta.partitionSpec
          val snap = spec match {
            case None => GraftTable.append(t, df)
            case Some(sp) =>
              // Writer contract for partitioned tables: cluster the batch by
              // the partition transform so files are partition-pure and the
              // commit groups them into valued manifests. Demo-scale: one
              // write per value, ONE commit.
              val pc = PartitionSpec.toColumn(sp)
              val cached = df.cache()
              val vals = cached.select(pc.as("v")).distinct()
                .collect().map(_.getString(0)).sorted
              val per = math.max(1, files / math.max(1, vals.length))
              val out = vals.flatMap(v =>
                t.writeDataFiles(cached.filter(pc === v), targetFiles = Some(per)))
              cached.unpersist()
              t.commit("append", out.toSeq, Set.empty)
          }
          println(s"appended snapshot=${snap.snapshotId} rows=$rows files=${snap.summary("added-files")} bytes=${snap.summary("added-bytes")}" +
            spec.map(sp => s" partitions=${snap.partitionValues.map(_.values.toSet.size).getOrElse(0)} (${sp.column}:${sp.transform})").getOrElse(""))
        case "ivf-build" =>
          // Production surface: build (or resume) the IVF index table at
          // <root> from a parquet vector source — file-group-resumable
          // (BuildIvf.runFiles): a killed build restarts at input-file-group
          // granularity with no retraining and no re-read of finished units.
          //   ivf-build --root IDX --src DIR|FILE --seeds 1,61,121
          //     [--id-col vec_id] [--vec-col embedding] [--iters 3]
          //     [--target bytes] [--max-concurrent 8]
          val files = graft.util.Fs.listParquet(req(args, "src"))
          val r = BuildIvf.runFiles(spark, files,
            arg(args, "id-col").getOrElse("vec_id"),
            arg(args, "vec-col").getOrElse("embedding"),
            root,
            initIds = req(args, "seeds").split(',').toSeq.map(_.trim.toLong),
            iters = arg(args, "iters").map(_.toInt).getOrElse(3),
            targetBytes = arg(args, "target").map(_.toLong).getOrElse(8L * 1024 * 1024),
            maxConcurrentUnits = arg(args, "max-concurrent").map(_.toInt).getOrElse(8))
          println(s"ivf-build buckets=${r.k} rows=${r.rows} files=${r.files} " +
            s"snapshot=${r.table.currentSnapshot.snapshotId}")
        case "ivf-probe" =>
          //   ivf-probe --root IDX --vec 1.0,0.0,... [--nprobe 2] [--topk 10]
          val t = GraftTable.load(root, spark)
          val q = req(args, "vec").split(',').map(_.trim.toDouble)
          val nprobe = arg(args, "nprobe").map(_.toInt).getOrElse(2)
          val topK = arg(args, "topk").map(_.toInt).getOrElse(10)
          val probed = BuildIvf.probe(t, q, nprobe, topK).collect()
          if (probed.isEmpty)
            println(s"ivf-probe nprobe=$nprobe topk=$topK no results")
          else {
            val opened = t.planFiles(
              Seq(EqLong("bucket", probed.head.getLong(1)))).size
            println(s"ivf-probe nprobe=$nprobe topk=$topK " +
              s"firstBucketFiles=$opened/${t.currentFiles.size} " +
              s"top=${probed.map(r => f"${r.getLong(0)}:${r.getDouble(2)}%.4f").mkString(",")}")
          }
        case "ivf-demo" =>
          // IVF ANN index build + probe end-to-end at <root>: synthetic
          // planted-cluster vectors -> BuildIvf (k-means + bucket-partitioned
          // inverted lists) -> one nprobe=1 probe, with pruning shown.
          import spark.implicits._
          val n = arg(args, "rows").map(_.toInt).getOrElse(300)
          val dims = 8
          val rows = (1 to n).map { i =>
            val c = (i - 1) % 3
            val v = (0 until dims).map(d =>
              ((if (d == c) 10.0 else 0.0) +
                (((i * 31 + d * 17) % 100) - 50) / 100.0).toFloat)
            (i.toLong, v)
          }
          val df = rows.toDF("vec_id", "embedding")
          val r = BuildIvf.run(spark, df, "vec_id", "embedding", root,
            initIds = Seq(1L, 2L, 3L))
          val probed = r.table.planFiles(Seq(EqLong("bucket",
            BuildIvf.centroidsOf(r.table).head._1)))
          val q = Array(10.0) ++ Array.fill(dims - 1)(0.0)
          val top = BuildIvf.probe(r.table, q, nprobe = 1, topK = 5).collect()
          println(s"ivf buckets=${r.k} rows=${r.rows} files=${r.files} " +
            s"probeFiles=${probed.size}/${r.table.currentFiles.size} " +
            s"top=${top.map(_.getLong(0)).mkString(",")}")
        case "ingest" =>
          // External-directory ingest (reference scanner.ts:80-140):
          //   ingest --root TBL --dir DIR [--include G1,G2] [--exclude G1,G2]
          val t = if (MetaIO.currentVersion(root).isDefined) GraftTable.load(root, spark)
                  else GraftTable.create(root, spark)
          val dir = req(args, "dir")
          val inc = arg(args, "include").map(_.split(",").toSeq.map(_.trim)).getOrElse(Nil)
          val exc = arg(args, "exclude").map(_.split(",").toSeq.map(_.trim)).getOrElse(Nil)
          val r = Ingest.run(t, dir, inc, exc)
          println(s"ingest snapshot=${r.snapshot.map(_.snapshotId).getOrElse(-1)} " +
            s"scanned=${r.filesScanned} skipped=${r.skipped} rows=${r.rows} " +
            s"written=${r.filesWritten} bytes=${r.bytes}")
        case "evolve-schema" =>
          val t = GraftTable.load(root, spark)
          val changes = t.evolveSchema(req(args, "ddl"))
          if (changes.isEmpty) println("schema unchanged")
          else changes.foreach(c => println(s"applied: ${c.describe}"))
        case "metrics" =>
          // --tail N: bounded-memory recent-events view for long-lived tables.
          graft.lineage.Metrics.events(root, arg(args, "tail").map(_.toInt)).foreach { e =>
            println(s"ts=${e.ts} kind=${e.kind} name=${e.name} durationMs=${e.durationMs}" +
              s" rows=${e.outputRows.getOrElse(-1L)} read=${e.bytesRead.getOrElse(-1L)}" +
              s" written=${e.bytesWritten.getOrElse(-1L)} ${e.detail.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
          }
        case "stats" =>
          val t = GraftTable.load(root, spark)
          val s = t.currentSnapshot
          val fs = t.currentFiles
          println(s"snapshot=${s.snapshotId} op=${s.operation} files=${fs.size} rows=${fs.map(_.rowCount).sum} bytes=${fs.map(_.fileSizeBytes).sum}")
          Compact.sizeHistogram(t).foreach { case (b, n, bytes) =>
            println(f"  size<=${2 * b}%10d: $n%5d files, $bytes%12d bytes") }
        case "snapshots" =>
          val t = GraftTable.load(root, spark)
          t.meta.snapshots.foreach(s => println(
            s"snapshot=${s.snapshotId} parent=${s.parentId.getOrElse(-1)} op=${s.operation} manifests=${s.manifests.size} summary=${s.summary}"))
        case "scan" =>
          val t = GraftTable.load(root, spark)
          val snapId = arg(args, "snapshot").map(_.toLong)
            .orElse(arg(args, "as-of-ms").map(ts => t.snapshotAsOf(ts.toLong).snapshotId))
          val filters = Seq(
            arg(args, "fmt").map(EqString("fmt", _)),
            arg(args, "phash-min").map(v => GeLong("phash", v.toLong)),
            arg(args, "phash-max").map(v => LeLong("phash", v.toLong)),
            arg(args, "w-min").map(v => GeLong("w", v.toLong)),
            // Key-range scan (the targeted-MERGE discovery shape); each
            // bound stands alone, so --id-min without --id-max is a
            // half-open range, not a silent no-op.
            arg(args, "id-min").map(graft.table.GeString("image_id", _)),
            arg(args, "id-max").map(graft.table.LeString("image_id", _))).flatten
          val pruned = t.planFiles(filters).size
          val df = t.scanWhere(filters, snapId)
          val n = df.count()
          val manifestNote = if (t.meta.partitionSpec.isDefined)
            s" prunedManifests=${t.planManifests(filters).size}/${t.currentSnapshot.manifests.size}"
          else ""
          println(s"scan rows=$n prunedFiles=$pruned/${t.currentFiles.size}$manifestNote")
          if (arg(args, "show").isDefined)
            df.selectExpr("image_id", "w", "h", "fmt", "substring(caption,1,40) as caption", "phash")
              .show(20, truncate = false)
        case "compact" =>
          val t = GraftTable.load(root, spark)
          val target = arg(args, "target").map(_.toLong).getOrElse(8L * 1024 * 1024)
          val failAfter = arg(args, "fail-after").map(_.toInt)
          val r = Compact.run(t, target, failAfterUnits = failAfter)
          println(s"compact snapshot=${r.snapshot.map(_.snapshotId).getOrElse(-1)} bins=${r.binsPlanned} executed=${r.binsExecuted} resumed=${r.binsResumed} filesIn=${r.filesIn} filesOut=${r.filesOut} bytesIn=${r.bytesIn} bytesOut=${r.bytesOut}")
        case "cluster" =>
          val t = GraftTable.load(root, spark)
          val mode = arg(args, "mode").getOrElse("global")
          val r =
            if (mode == "incremental")
              Cluster.runIncremental(t, arg(args, "curve").getOrElse("zorder"),
                arg(args, "target").map(_.toLong).getOrElse(8L * 1024 * 1024))
            else Cluster.run(t, arg(args, "curve").getOrElse("zorder"), mode,
              arg(args, "target").map(_.toLong).getOrElse(8L * 1024 * 1024))
          println(s"cluster snapshot=${r.snapshot.map(_.snapshotId).getOrElse(-1)} curve=${r.curve} mode=${r.mode} filesIn=${r.filesIn} filesOut=${r.filesOut} rows=${r.rows}")
        case "lineage" =>
          val t = GraftTable.load(root, spark)
          graft.util.Fs.list(java.nio.file.Paths.get(root, "lineage"))
            .map(_.getFileName.toString).filterNot(_.startsWith("_")).foreach { j =>
              val units = graft.lineage.Lineage.committedUnits(root, j)
              val snap = graft.lineage.Lineage.committedSnapshot(root, j)
              println(s"job=$j units=${units.size} committedSnapshot=${snap.getOrElse("-")}" +
                s" rows=${units.values.map(_.rows).sum} bytes=${units.values.map(_.bytes).sum}" +
                s" filesIn=${units.values.map(_.filesIn.size).sum} filesOut=${units.values.map(_.filesOut.size).sum}")
            }
        case "rewrite-manifests" =>
          val t = GraftTable.load(root, spark)
          val r = RewriteManifests.run(t,
            arg(args, "per-manifest").map(_.toInt).getOrElse(1000))
          println(s"rewrite-manifests snapshot=${r.snapshot.map(_.snapshotId).getOrElse(-1)} skipped=${r.skippedUnchanged} before=${r.manifestsBefore} after=${r.manifestsAfter}")
        case "rollback" =>
          val t = GraftTable.load(root, spark)
          val s = t.rollback(req(args, "snapshot").toLong)
          println(s"rollback current=${s.snapshotId} op=${s.operation}")
        case "expire" =>
          val t = GraftTable.load(root, spark)
          // Either an explicit --retain id list, or a declarative policy
          // (--keep-last N and/or --max-age-ms T).
          val retain = arg(args, "retain")
            .map(_.split(",").map(_.trim.toLong).toSeq)
            .getOrElse {
              val kl = arg(args, "keep-last").map(_.toInt)
              val ma = arg(args, "max-age-ms").map(_.toLong)
              require(kl.isDefined || ma.isDefined,
                "expire needs --retain, --keep-last, or --max-age-ms")
              ExpireSnapshots.retainByPolicy(t.meta, kl, ma)
            }
          // Conservative default (1h): never sweep a file an in-flight job
          // just wrote but has not committed yet. --orphan-min-age-ms 0 for
          // single-writer setups that want an immediate sweep.
          val r = ExpireSnapshots.run(t, retain,
            orphanMinAgeMs = arg(args, "orphan-min-age-ms").map(_.toLong)
              .getOrElse(60L * 60 * 1000))
          println(s"expire retained=${r.retainedSnapshots.mkString(",")} expired=${r.expiredSnapshots.mkString(",")} deletedFiles=${r.deletedDataFiles} deletedBytes=${r.deletedBytes} orphans=${r.orphansSwept}")
        case "dedup" =>
          val t = GraftTable.load(root, spark)
          val r = DedupPhash.run(t, arg(args, "hamming").map(_.toInt).getOrElse(0))
          println(s"dedup snapshot=${r.snapshot.map(_.snapshotId).getOrElse(-1)} mode=${r.mode} groups=${r.dupGroups} victims=${r.victims} rewrittenFiles=${r.rewrittenFiles}")
        case "transcode" =>
          val t = GraftTable.load(root, spark)
          val r = Transcode.run(t, arg(args, "from").getOrElse("png"),
            arg(args, "to").getOrElse("jpg"))
          println(s"transcode snapshot=${r.snapshot.map(_.snapshotId).getOrElse(-1)} rows=${r.transcodedRows} files=${r.files}")
        case "delete" =>
          // Targeted COW delete: delete --root TBL --ids id1,id2,...
          import spark.implicits._
          val t = GraftTable.load(root, spark)
          val ids = req(args, "ids").split(",").map(_.trim).toSeq.toDF("image_id")
          val r = MergeInto.deleteMatched(t, ids)
          println(s"delete snapshot=${r.snapshot.map(_.snapshotId).getOrElse(-1)} deletedRows=${r.deletedRows} rewrittenFiles=${r.rewrittenFiles}")
        case "merge-demo" =>
          // Upsert demo: fix captions of 10 rows, insert 5 new rows.
          import org.apache.spark.sql.functions._
          val t = GraftTable.load(root, spark)
          import spark.implicits._
          val fixes = (0 until 10).map(i => (f"img-$i%012d", s"corrected caption $i"))
            .toDF("image_id", "caption")
          val r = MergeInto.run(t, fixes)
          println(s"merge snapshot=${r.snapshot.map(_.snapshotId).getOrElse(-1)} matched=${r.matchedRows} updatedFiles=${r.updatedFiles} inserted=${r.insertedRows} strategy=${r.strategy}")
        case other =>
          System.err.println(s"unknown verb: $other"); sys.exit(2)
      }
    } finally spark.stop()
  }
}
