package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.table.{GraftTable, MetaIO}

/** One image row as the output gates compare it: every column, with the
  * payload reduced to its MD5. */
case class RowRec(id: String, md5: String, w: Int, h: Int, fmt: String,
    caption: String, phash: Long)

/** Exact, order-independent output checks. Each returns None when the
  * check holds and Some(reason) when it does not; none of them compares the
  * program against its own earlier output except where the operation must
  * leave content unchanged. */
object Gates {
  private val ordering: Ordering[RowRec] =
    Ordering.by((r: RowRec) => (r.id, r.md5, r.w, r.h, r.fmt, r.caption, r.phash))

  /** All rows of an image-schema DataFrame, sorted. */
  def rows(df: DataFrame): Seq[RowRec] =
    df.select(col("image_id"), md5(col("bytes")), col("w"), col("h"), col("fmt"),
      col("caption"), col("phash")).collect().toSeq.map(fromRow).sorted(ordering)

  private def fromRow(r: Row): RowRec =
    RowRec(r.getString(0), r.getString(1), r.getInt(2), r.getInt(3), r.getString(4),
      r.getString(5), r.getLong(6))

  /** The record of a full row collected with its payload (lookups). */
  def recOf(r: Row): RowRec = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(r.getAs[Array[Byte]]("bytes")).map(b => f"$b%02x").mkString
    RowRec(r.getAs[String]("image_id"), md, r.getAs[Int]("w"), r.getAs[Int]("h"),
      r.getAs[String]("fmt"), r.getAs[String]("caption"), r.getAs[Long]("phash"))
  }

  /** Order-independent digest (SHA-256 over the sorted rows), for logs. */
  def digest(rs: Seq[RowRec]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rs.sorted(ordering).foreach(r => md.update(r.toString.getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  /** Multiset equality of two row sets. */
  def same(expected: Seq[RowRec], actual: Seq[RowRec]): Option[String] = {
    val e = expected.sorted(ordering); val a = actual.sorted(ordering)
    if (e == a) None
    else {
      val es = e.toSet; val as = a.toSet
      val missing = e.filterNot(as).take(2); val extra = a.filterNot(es).take(2)
      Some(s"expected ${e.size} rows (digest ${digest(e)}), got ${a.size} " +
        s"(digest ${digest(a)}); missing=$missing extra=$extra")
    }
  }

  /** Dedup: survivors have distinct phash, every phash present before
    * survives (so exactly one row per phash group), every survivor existed
    * before, and exactly `victims` rows are gone. */
  def dedup(before: Seq[RowRec], after: Seq[RowRec], victims: Long): Option[String] = {
    val dupPhash = after.groupBy(_.phash).collectFirst { case (p, rs) if rs.size > 1 => p }
    val lostPhash = before.map(_.phash).toSet -- after.map(_.phash)
    val prior = before.toSet
    val invented = after.filterNot(prior).take(2)
    if (dupPhash.isDefined) Some(s"phash ${dupPhash.get} survives more than once")
    else if (lostPhash.nonEmpty) Some(s"no row survives for phash ${lostPhash.take(2)}")
    else if (invented.nonEmpty) Some(s"rows not present before dedup: $invented")
    else if (after.size != before.size - victims)
      Some(s"row count ${after.size} != ${before.size} - $victims victims")
    else None
  }

  /** PSNR in dB over RGB, decoded independently of the engine's codec. */
  def psnr(a: Array[Byte], b: Array[Byte]): Double = {
    val x = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(a))
    val y = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
    if (x.getWidth != y.getWidth || x.getHeight != y.getHeight) return Double.NegativeInfinity
    var se = 0.0; var n = 0L
    for (j <- 0 until x.getHeight; i <- 0 until x.getWidth) {
      val p = x.getRGB(i, j); val q = y.getRGB(i, j)
      var s = 0
      while (s <= 16) {
        val d = ((p >> s) & 0xff) - ((q >> s) & 0xff)
        se += d.toDouble * d; n += 1; s += 8
      }
    }
    if (se == 0.0) Double.PositiveInfinity else 10 * math.log10(255.0 * 255.0 * n / se)
  }

  /** Transcode png -> jpg: ids, captions and dimensions unchanged for every
    * row; untouched rows byte-identical; transcoded rows are jpg, decode to
    * PSNR >= 40 dB against the original pixels, and carry the phash of their
    * new bytes. `oldPng`/`newBytes` hold the payloads of the transcoded ids. */
  def transcode(before: Seq[RowRec], after: Seq[RowRec],
      oldPng: Map[String, Array[Byte]], newBytes: Map[String, Array[Byte]]): Option[String] = {
    val a = after.groupBy(_.id)
    if (after.size != before.size || a.size != before.size)
      return Some(s"row count ${after.size} (distinct ${a.size}) != ${before.size}")
    val bad = before.iterator.flatMap { b =>
      a.get(b.id).map(_.head) match {
        case None => Some(s"${b.id} missing")
        case Some(r) if b.fmt != "png" => if (r == b) None else Some(s"${b.id} changed: $b -> $r")
        case Some(r) =>
          if (r.caption != b.caption || r.w != b.w || r.h != b.h || r.fmt != "jpg")
            Some(s"${b.id} changed: $b -> $r")
          else {
            val nb = newBytes(b.id)
            val db = psnr(oldPng(b.id), nb)
            if (db < 40.0) Some(f"${b.id} PSNR $db%.2f dB < 40")
            else if (graft.images.ImageCodec.phash(nb) != r.phash) Some(s"${b.id} phash is not the new bytes' phash")
            else None
          }
      }
    }.take(3).toList
    if (bad.isEmpty) None else Some(bad.mkString("; "))
  }

  /** Every manifest and data file that a retained snapshot references
    * exists on disk. */
  def retainedFilesExist(t: GraftTable): Option[String] = {
    val missing = t.meta.snapshots.iterator.flatMap { s =>
      s.manifests.iterator.flatMap { m =>
        val mp = MetaIO.metadataDir(t.root).resolve(m)
        if (!Files.exists(mp)) Iterator(s"manifest $m of snapshot ${s.snapshotId}")
        else MetaIO.readManifest(t.root, m).files.iterator
          .filterNot(f => Files.exists(Paths.get(f.absPath(t.root))))
          .map(f => s"file ${f.path} of snapshot ${s.snapshotId}")
      }
    }.take(3).toList
    if (missing.isEmpty) None else Some(s"missing: ${missing.mkString(", ")}")
  }

  /** A lookup returned exactly its expected row. */
  def lookup(expected: RowRec, got: Array[Row]): Option[String] =
    if (got.length != 1) Some(s"${expected.id}: ${got.length} rows")
    else {
      val r = recOf(got(0))
      if (r == expected) None else Some(s"${expected.id}: got $r")
    }
}
