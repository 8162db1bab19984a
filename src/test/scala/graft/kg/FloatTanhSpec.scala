package graft.kg

import org.scalatest.funsuite.AnyFunSuite

/** `FloatKernel.tanh` returns the raw bits of `Fdlibm.tanh(x.toDouble)
  * .toFloat`, the tanh the Float inference pins were made with. Sampled
  * here; `FloatTanhSweep` checks all 2^32 floats. */
class FloatTanhSpec extends AnyFunSuite {

  private def bits(f: Float): Int = java.lang.Float.floatToRawIntBits(f)
  private def float(b: Int): Float = java.lang.Float.intBitsToFloat(b)

  private def check(xs: Iterator[Float]): Unit = {
    val bad = xs.filter(x => bits(FloatKernel.tanh(x)) != bits(Fdlibm.tanh(x.toDouble).toFloat))
      .take(5).map { x =>
        f"x=$x%s (0x${bits(x)}%08x): got ${FloatKernel.tanh(x)}%s, Fdlibm ${Fdlibm.tanh(x.toDouble).toFloat}%s"
      }.toSeq
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  /** x and the 3 floats on either side of it, both signs. */
  private def ulps3(x: Float): Seq[Float] =
    (Iterator.iterate(x)(Math.nextDown).take(4) ++ Iterator.iterate(x)(Math.nextUp).slice(1, 4))
      .toSeq.flatMap(y => Seq(y, -y))

  test("tanh matches Fdlibm on every 251st float bit pattern") {
    // an odd stride reaches every exponent of both signs, subnormals and
    // NaN payloads
    check(Iterator.iterate(0L)(_ + 251L).takeWhile(_ < (1L << 32)).map(b => float(b.toInt)))
  }

  test("tanh matches Fdlibm on signed zeros, subnormals, infinities and NaNs") {
    val subnormals = Seq(1, 2, 3, 0x12345, 0x7fffff).map(float)
    check((Seq(0f, Float.PositiveInfinity, Float.MaxValue, java.lang.Float.MIN_NORMAL) ++ subnormals)
      .flatMap(x => Seq(x, -x)).iterator ++
      Iterator(Float.NaN, float(0x7fc00001), float(0xffc00000), float(0x7f800001)))
  }

  test("tanh matches Fdlibm at each Taylor centre k/32 and at the 9 and 1e-4 cut-offs") {
    val centres = (0 until 290).map(k => k / 32f)
    check((centres ++ Seq(9f, 1e-4f)).flatMap(ulps3).iterator)
  }
}
