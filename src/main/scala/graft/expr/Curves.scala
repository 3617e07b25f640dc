package graft.expr

/**
 * Space-filling-curve math: Z-order bit interleaving and Hilbert index
 * (Skilling's transposed-form algorithm, "Programming the Hilbert curve",
 * AIP Conf. Proc. 707, 2004 — public domain construction).
 *
 * These give the clustered layout that replaces the reference's secondary /
 * ANN indexes (sqlite-graph-storage.ts:79-85; redis/vector-storage.ts:31-46):
 * instead of an index structure, files are rewritten in curve order so that
 * per-file min/max stats over (phash, w, h) become an effective batch index.
 *
 * Static, allocation-free methods so generated code (doGenCode) can call them
 * directly from whole-stage codegen.
 */
object Curves {

  /** Spread the low `bits` bits of v so consecutive bits land `n` apart. */
  @inline private def part(v: Long, n: Int, bits: Int): Long = {
    var out = 0L
    var i = 0
    while (i < bits) {
      out |= ((v >>> i) & 1L) << (i * n)
      i += 1
    }
    out
  }

  /** Z-order (Morton) interleave of `dims` values, each quantized to
    * floor(63/dims.length) bits. dims(0) owns the least-significant lane. */
  def zorder(dims: Array[Long]): Long = {
    val n = dims.length
    val bits = 63 / n
    val mask = (1L << bits) - 1L
    var out = 0L
    var d = 0
    while (d < n) {
      out |= part(dims(d) & mask, n, bits) << d
      d += 1
    }
    out
  }

  def zorder3(a: Long, b: Long, c: Long): Long = zorder(Array(a, b, c))

  /**
   * Hilbert index of an n-dimensional point, `bits` bits per dimension.
   * Skilling's AxestoTranspose followed by transposed-bits -> scalar index.
   * Input values are masked to `bits` bits. Result has n*bits significant
   * bits (keep n*bits <= 63).
   */
  def hilbertIndex(axes0: Array[Long], bits: Int): Long = {
    val n = axes0.length
    require(n * bits <= 63, s"hilbert: $n dims x $bits bits exceeds 63")
    val x = new Array[Long](n)
    val mask = if (bits == 63) -1L >>> 1 else (1L << bits) - 1L
    var i = 0
    while (i < n) { x(i) = axes0(i) & mask; i += 1 }

    // AxestoTranspose (inverse undo + Gray encode), per Skilling 2004.
    var m = 1L << (bits - 1)
    while (m > 1) {
      val q = m
      val p = q - 1
      i = 0
      while (i < n) {
        if ((x(i) & q) != 0) x(0) ^= p // invert
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t } // exchange
        i += 1
      }
      m >>= 1
    }
    i = 1
    while (i < n) { x(i) ^= x(i - 1); i += 1 }
    var t2 = 0L
    m = 2
    while (m != (1L << bits)) {
      if ((x(n - 1) & m) != 0) t2 ^= m - 1
      m <<= 1
    }
    i = 0
    while (i < n) { x(i) ^= t2; i += 1 }

    // Interleave transposed form into a single scalar: bit b of dim i is
    // position (bits-1-b)*n + (n-1-i) from the top.
    var out = 0L
    var b = bits - 1
    while (b >= 0) {
      i = 0
      while (i < n) {
        out = (out << 1) | ((x(i) >>> b) & 1L)
        i += 1
      }
      b -= 1
    }
    out
  }

  def hilbert3(a: Long, b: Long, c: Long): Long =
    hilbertIndex(Array(a, b, c), 21)
}
