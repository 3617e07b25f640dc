package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.expr.Curves

/** Property tests (SURVEY.md §5 test plan item 2): Z-order/Hilbert
  * bijectivity and locality. Seeded sampling (deterministic) instead of a
  * scalacheck bridge, which isn't in the offline cache. */
class CurvesSpec extends AnyFunSuite {
  private def sampled(n: Int)(f: scala.util.Random => Unit): Unit = {
    val rng = new scala.util.Random(4242)
    (0 until n).foreach(_ => f(rng))
  }

  /** The inverse of [[Curves.hilbertIndex]]: scalar index -> axes, the
    * reference the kernel is checked against. */
  private def hilbertAxes(index: Long, n: Int, bits: Int): Array[Long] = {
    val x = new Array[Long](n)
    // de-interleave
    var pos = n * bits - 1
    var b = bits - 1
    while (b >= 0) {
      var i = 0
      while (i < n) {
        x(i) |= ((index >>> pos) & 1L) << b
        pos -= 1
        i += 1
      }
      b -= 1
    }
    // TransposetoAxes (Gray decode + undo excess work), per Skilling 2004.
    var t = x(n - 1) >>> 1
    var i = n - 1
    while (i > 0) { x(i) ^= x(i - 1); i -= 1 }
    x(0) ^= t
    var m = 2L
    while (m != (1L << bits)) {
      val q = m
      val p = q - 1
      i = n - 1
      while (i >= 0) {
        if ((x(i) & q) != 0) x(0) ^= p
        else { val tt = (x(0) ^ x(i)) & p; x(0) ^= tt; x(i) ^= tt }
        i -= 1
      }
      m <<= 1
    }
    x
  }

  test("zorder interleave: known small values") {
    // dims (1,0,0) -> bit 0; (0,1,0) -> bit 1; (0,0,1) -> bit 2
    assert(Curves.zorder3(1, 0, 0) == 1L)
    assert(Curves.zorder3(0, 1, 0) == 2L)
    assert(Curves.zorder3(0, 0, 1) == 4L)
    assert(Curves.zorder3(2, 0, 0) == 8L)
    assert(Curves.zorder3(3, 3, 3) == 63L)
  }

  test("zorder is monotone in each dimension when others fixed") {
    sampled(500) { rng =>
      val a = rng.nextLong(1L << 20); val b = rng.nextLong(1L << 20)
      assert(Curves.zorder3(a, b, 0) < Curves.zorder3(a, b, (1L << 20) + 1))
    }
  }

  test("hilbert roundtrip is bijective (3 dims, small widths)") {
    for (bits <- 2 to 5; idx <- 0L until (1L << (3 * bits))) {
      val axes = hilbertAxes(idx, 3, bits)
      val back = Curves.hilbertIndex(axes, bits)
      assert(back == idx, s"bits=$bits idx=$idx axes=${axes.mkString(",")} back=$back")
    }
  }

  test("hilbert adjacency: consecutive indices differ by exactly one unit step") {
    for (bits <- 2 to 4) {
      var prev = hilbertAxes(0L, 3, bits)
      for (idx <- 1L until (1L << (3 * bits))) {
        val cur = hilbertAxes(idx, 3, bits)
        val dist = prev.zip(cur).map { case (a, b) => math.abs(a - b) }.sum
        assert(dist == 1, s"bits=$bits idx=$idx: non-adjacent step $dist")
        prev = cur
      }
    }
  }

  test("hilbert roundtrip at production width (21 bits x 3 dims), sampled") {
    sampled(2000) { rng =>
      val a = rng.nextLong(1L << 21); val b = rng.nextLong(1L << 21)
      val c = rng.nextLong(1L << 21)
      val idx = Curves.hilbertIndex(Array(a, b, c), 21)
      val back = hilbertAxes(idx, 3, 21)
      assert(back.toSeq == Seq(a, b, c))
    }
  }

  test("zorder roundtrip width: 21 bits x 3 dims fills 63 bits, no collisions on distinct inputs") {
    sampled(2000) { rng =>
      val a = rng.nextLong(1L << 21); val b = rng.nextLong(1L << 21)
      if (a != b) assert(Curves.zorder3(a, 0, 0) != Curves.zorder3(b, 0, 0))
    }
  }
}
