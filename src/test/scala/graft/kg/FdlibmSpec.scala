package graft.kg

import org.scalatest.funsuite.AnyFunSuite

/** `Fdlibm.tanh`/`expm1` return the same bits as `StrictMath`, which is the
  * fdlibm C code they transcribe. Compared as raw IEEE-754 bits, so a
  * NaN payload or the sign of a zero counts. */
class FdlibmSpec extends AnyFunSuite {

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def mismatches(xs: Iterator[Double], fast: Double => Double,
      strict: Double => Double): Seq[String] =
    xs.filter(x => bits(fast(x)) != bits(strict(x))).take(5).map { x =>
      f"x=$x%s (0x${bits(x)}%016x): got ${fast(x)}%s, StrictMath ${strict(x)}%s"
    }.toSeq

  private def checkTanh(xs: Iterator[Double]): Unit = {
    val bad = mismatches(xs, Fdlibm.tanh, StrictMath.tanh)
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  private val specials = Seq(0.0, -0.0, Double.PositiveInfinity, Double.NegativeInfinity,
    Double.NaN, Double.MinPositiveValue, -Double.MinPositiveValue, Double.MaxValue,
    Double.MinValue, java.lang.Double.MIN_NORMAL,
    Float.MinPositiveValue.toDouble, Float.MaxValue.toDouble, Float.NaN.toDouble)

  test("tanh matches StrictMath on every 251st float bit pattern and the specials") {
    // the stride is odd, so it reaches every exponent of both signs,
    // subnormals and NaN payloads
    val floats = Iterator.iterate(0L)(_ + 251L).takeWhile(_ < (1L << 32))
      .map(b => java.lang.Float.intBitsToFloat(b.toInt).toDouble)
    checkTanh(floats ++ specials.iterator)
  }

  /** Each branch threshold of tanh and expm1 (the expm1 ones also at half
    * their value, where tanh's 2|x| reaches them), a few ulps either side,
    * both signs, plus the doubles on either side of each high-word cut. */
  private val thresholds: Seq[Double] = {
    val ln2 = math.log(2.0)
    val cuts = Seq(math.pow(2, -55), math.pow(2, -54), 0.5 * ln2, 1.5 * ln2,
      0.25 * ln2, 0.75 * ln2, 1.0, 0.5, 22.0, 11.0, 56 * ln2, 709.78)
    val hiWords = Seq(0x3c800000, 0x3c900000, 0x3fd62e42, 0x3ff0a2b2, 0x3ff00000,
      0x40360000, 0x4043687a, 0x40862e42)
    def ulps(x: Double): Seq[Double] =
      Iterator.iterate(x)(math.nextDown).take(5).toSeq ++ Iterator.iterate(x)(math.nextUp).take(5)
    val edges = hiWords.flatMap { w =>
      Seq(java.lang.Double.longBitsToDouble(w.toLong << 32),
        java.lang.Double.longBitsToDouble((w.toLong << 32) - 1))
    }
    (cuts ++ edges).flatMap(ulps).flatMap(x => Seq(x, -x))
  }

  test("tanh matches StrictMath at the branch thresholds") {
    checkTanh(thresholds.iterator)
  }

  /** 1M seeded doubles: a third uniform bit patterns, a third uniform in
    * [-30, 30], a third log-uniform in magnitude over 2^-60..2^10. */
  private def randomDoubles(n: Int): Iterator[Double] = {
    val rng = new java.util.SplittableRandom(20261017L)
    Iterator.tabulate(n) { i =>
      i % 3 match {
        case 0 => java.lang.Double.longBitsToDouble(rng.nextLong())
        case 1 => rng.nextDouble(-30.0, 30.0)
        case _ =>
          val m = math.pow(2, rng.nextDouble(-60.0, 10.0))
          if (rng.nextBoolean()) m else -m
      }
    }
  }

  test("tanh matches StrictMath on 1M seeded random doubles") {
    checkTanh(randomDoubles(1000000))
  }

  test("expm1 matches StrictMath on the thresholds, specials and random doubles") {
    val xs = thresholds.iterator ++ specials.iterator ++ Iterator(-800.0, 800.0, 709.7, -40.0) ++
      randomDoubles(300000).map(_ * 25)
    val bad = mismatches(xs, Fdlibm.expm1, StrictMath.expm1)
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
