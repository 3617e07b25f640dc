package graft.table

import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.parquet.column.values.bloomfilter.{BlockSplitBloomFilter, XxHash}
import org.apache.spark.unsafe.types.UTF8String
import org.json4s.{CustomSerializer, JString}

/** A data file's Bloom filter over its `image_id` values (Parquet's
  * `BlockSplitBloomFilter`, XXH64 of each value's UTF-8 bytes), stored in
  * the file's manifest entry. It lets a point lookup drop files whose
  * min/max span the key (hash-like ids do after any re-layout). It can only
  * answer "no" for a key the file does not hold: it drops files and never
  * decides which rows match. */
final class IdSketch(val bits: Array[Byte]) extends Serializable {
  @transient private lazy val filter = new BlockSplitBloomFilter(bits)

  /** False only if no row of the file has `image_id == v`. `v` hashes as
    * `v.getBytes(UTF_8)`, the bytes `UTF8String.fromString` gives the
    * residual filter's literal (an unpaired surrogate becomes '?' in both). */
  def mayContain(v: String): Boolean =
    filter.findHash(IdSketch.Xx.hashBytes(v.getBytes(StandardCharsets.UTF_8)))

  override def equals(o: Any): Boolean = o match {
    case s: IdSketch => java.util.Arrays.equals(bits, s.bits)
    case _ => false
  }
  override def hashCode: Int = java.util.Arrays.hashCode(bits)
}

object IdSketch {
  /** The sketched column: the table's natural key. */
  val Column = "image_id"
  /** False-positive rate a sketch is sized for. */
  val Fpp = 0.01
  /** Largest sketch in bytes (~21.9 KB of base64 in the manifest entry):
    * 13,512 rows at [[Fpp]]. A file with more rows gets no sketch (it may
    * match any key) rather than one above that rate, so no entry grows past
    * the cap (CHANGES.md has the entry sizes behind this choice). */
  val MaxBytes = 16 * 1024

  private val Xx = new XxHash()

  /** Bytes of Parquet's filter for `rows` values at [[Fpp]]: its optimal
    * size, at least 32 bytes, rounded up to a power of two. */
  def bytesFor(rows: Long): Int = {
    val b = math.max(BlockSplitBloomFilter.optimalNumOfBits(rows, Fpp) / 8,
      BlockSplitBloomFilter.LOWER_BOUND_BYTES)
    if ((b & (b - 1)) == 0) b else Integer.highestOneBit(b) << 1
  }

  /** Most rows a sketch of at most [[MaxBytes]] holds at [[Fpp]]. */
  val MaxRows: Long = {
    var (lo, hi) = (0L, MaxBytes * 8L) // above a bit per row is over the cap
    while (hi - lo > 1) {
      val mid = (lo + hi) / 2
      if (bytesFor(mid) <= MaxBytes) lo = mid else hi = mid
    }
    lo
  }

  /** Collects one XXH64 per non-null value as a write task streams its
    * rows, then sizes the filter from the count. Past [[MaxRows]] values it
    * stops hashing and yields no sketch. */
  final class Builder {
    private var hashes = new Array[Long](64)
    private var n = 0

    def add(v: UTF8String): Unit = if (hashes != null) {
      if (n == MaxRows) hashes = null
      else {
        if (n == hashes.length) hashes = java.util.Arrays.copyOf(hashes, n * 2)
        hashes(n) = Xx.hashByteBuffer(v.getByteBuffer)
        n += 1
      }
    }

    def result(): Option[IdSketch] = Option(hashes).map { hs =>
      val f = new BlockSplitBloomFilter(bytesFor(n))
      var i = 0
      while (i < n) { f.insertHash(hs(i)); i += 1 }
      val out = new java.io.ByteArrayOutputStream(f.getBitsetSize)
      f.writeTo(out)
      new IdSketch(out.toByteArray)
    }
  }

  /** Manifest JSON form: the bitset as base64, decoded once when the
    * manifest is parsed. */
  object Json extends CustomSerializer[IdSketch](_ => (
    { case JString(s) => new IdSketch(Base64.getDecoder.decode(s)) },
    { case s: IdSketch => JString(Base64.getEncoder.encodeToString(s.bits)) }))
}
