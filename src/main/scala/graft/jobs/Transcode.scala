package graft.jobs

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expr.{functions => gf}
import graft.images.ImageCodec
import graft.table.{GraftTable, Snapshot}

/**
 * Format transcode (e.g. png -> jpg): the one maintenance job that actually
 * re-encodes pixels, exercising the decoded-pixel PSNR>=40dB invariant
 * (BASELINE.json input_hint) end-to-end: captions and image_ids are carried
 * byte-identical; bytes change; the verification suite compares decoded
 * pixels via the Psnr expression, never encoded bytes.
 *
 * Uses the pruned scan (fmt = <from> touches only files whose min/max fmt
 * stats admit it) so a mostly-jpg table transcodes only the png files.
 */
object Transcode {

  case class Result(snapshot: Option[Snapshot], transcodedRows: Long, files: Int)

  def run(t: GraftTable, from: String = "png", to: String = "jpg",
      targetBytes: Long = 8L * 1024 * 1024): Result = {
    val jobT0 = System.nanoTime()
    val spark = t.spark
    val base = t.currentSnapshot
    val affected = t.planFiles(Seq(graft.table.EqString("fmt", from)))
    if (affected.isEmpty) return Result(None, 0, 0)

    val reenc = udf((b: Array[Byte]) => to match {
      // q=0.98 + 4:4:4: measured min PSNR ~47dB on the synthetic fixture,
      // comfortably above the 40dB invariant (q=0.95 grazes it at ~39dB).
      case "jpg" | "jpeg" => ImageCodec.encodeJpg(ImageCodec.decode(b), 0.98f)
      case other => ImageCodec.encode(ImageCodec.decode(b), other)
    })
    val df = spark.read.schema(t.schema).parquet(affected.map(_.absPath(t.root)): _*)
    val out = df
      .withColumn("__nb", when(col("fmt") === lit(from), reenc(col("bytes")))
        .otherwise(col("bytes")))
      .select(Seq(
        col("image_id"),
        col("__nb").as("bytes"),
        col("w"), col("h"),
        when(col("fmt") === lit(from), lit(to)).otherwise(col("fmt")).as("fmt"),
        col("caption"),
        when(col("fmt") === lit(from), gf.phash64(col("__nb"))).otherwise(col("phash")).as("phash"))
        // Schema-evolved extra columns pass through untouched — a COW
        // rewrite must never drop columns it does not transform.
        ++ t.schema.fieldNames.toSeq.filterNot(GraftTable.BaseColumns).map(col): _*)
    // Clustered base: preserve curve order through the rewrite. Note the
    // transcode RECOMPUTES phash, so the shaping exchange keys on the new
    // values; bounds from the old keys only steer balance, never correctness.
    val files = Cluster.activeCurve(t, base) match {
      case Some(cv) => t.writeDataFiles(
        // Transcode maps every row to the new format — on a fmt-partitioned
        // table the whole rewrite lands in the overflow block, which must
        // therefore be full curve-range width.
        Cluster.shapeForCurve(t, affected, out, cv, targetBytes,
          partitionMayChange = true))
      case None => t.writeDataFiles(out, targetFiles = Some(math.max(1,
        math.ceil(affected.map(_.fileSizeBytes).sum.toDouble / targetBytes).toInt)))
    }
    val snap = t.commit("transcode", files, affected.map(_.path).toSet,
      Map("from" -> from, "to" -> to))
    graft.lineage.Metrics.recordJob(t.root, "transcode",
      (System.nanoTime() - jobT0) / 1000000, Map(
      "from" -> from, "to" -> to, "files" -> affected.size.toString))
    Result(Some(snap), files.map(_.rowCount).sum, affected.size)
  }
}
