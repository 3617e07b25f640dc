package graft.jobs

import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions._

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
    val cow = new CopyOnWrite(t, "transcode")
    val affected = t.planFiles(Seq(graft.table.EqString("fmt", from)))
    if (affected.isEmpty) return Result(None, 0, 0)
    // Rows actually re-encoded (an affected file may also hold rows of other
    // formats, which pass through), counted by the rewrite's own write job.
    val reencoded = new Observation()

    val reenc = udf((b: Array[Byte]) => to match {
      // q=0.98 + 4:4:4: measured min PSNR ~47dB on the synthetic fixture,
      // comfortably above the 40dB invariant (q=0.95 grazes it at ~39dB).
      case "jpg" | "jpeg" => ImageCodec.encodeJpg(ImageCodec.decode(b), 0.98f)
      case other => ImageCodec.encode(ImageCodec.decode(b), other)
    })
    // Clustered base: the shaping exchange keys on the RECOMPUTED phash;
    // bounds from the old keys only steer balance, never correctness. On a
    // fmt-partitioned table every affected row changes format, so the whole
    // rewrite lands in the overflow block (partitionMayChange).
    val files = cow.rewrite(affected, targetBytes, partitionMayChange = true)(
      _.observe(reencoded, count_if(col("fmt") === lit(from)).as("rows"))
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
        ++ t.schema.fieldNames.toSeq.filterNot(GraftTable.BaseColumns).map(col): _*))
    val snap = cow.commit("transcode", files, affected, Map("from" -> from, "to" -> to),
      Map("from" -> from, "to" -> to, "files" -> affected.size.toString))
    Result(Some(snap), reencoded.get("rows").asInstanceOf[Long], affected.size)
  }
}
