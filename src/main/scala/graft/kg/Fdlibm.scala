package graft.kg

/*
 * ====================================================
 * Copyright (C) 1993 by Sun Microsystems, Inc. All rights reserved.
 *
 * Developed at SunSoft, a Sun Microsystems, Inc. business.
 * Permission to use, copy, modify, and distribute this
 * software is freely granted, provided that this notice
 * is preserved.
 * ====================================================
 */

/**
 * Pure-JVM transcription of fdlibm's `s_tanh.c` and `s_expm1.c`, the C
 * library behind `StrictMath.tanh`/`StrictMath.expm1`. On JDK 17 both are
 * JNI calls into that C code (and `Math.tanh` delegates to them), which is
 * about half the cost of one LSTM step in [[Scorer]]; this version runs
 * inline and returns the same bits (FdlibmSpec pins it). It also fixes the
 * model pins to fdlibm semantics: `Math.tanh` is only specified to within
 * 2.5 ulp, and a JDK may replace it with an intrinsic.
 */
object Fdlibm {

  @inline private def hi(x: Double): Int = (java.lang.Double.doubleToRawLongBits(x) >> 32).toInt
  @inline private def lo(x: Double): Int = java.lang.Double.doubleToRawLongBits(x).toInt
  @inline private def withHi(x: Double, high: Int): Double =
    java.lang.Double.longBitsToDouble(
      (high.toLong << 32) | (java.lang.Double.doubleToRawLongBits(x) & 0xffffffffL))

  private final val One = 1.0
  private final val Two = 2.0
  private final val Huge = 1.0e+300
  private final val Tiny = 1.0e-300

  /*
   * tanh(x) = (e^x - e^-x) / (e^x + e^-x)
   *  1. reduce x to non-negative by tanh(-x) = -tanh(x).
   *  2.  0      <= x <= 2**-55 : tanh(x) := x*(one+x)
   *      2**-55 <  x <=  1     : tanh(x) := -t/(t+2);     t = expm1(-2x)
   *      1      <= x <=  22.0  : tanh(x) := 1 - 2/(t+2);  t = expm1(2x)
   *      22.0   <  x <= INF    : tanh(x) := 1.
   * tanh(NaN) is NaN; only tanh(0) = 0 is exact for finite argument.
   */
  def tanh(x: Double): Double = {
    val jx = hi(x)
    val ix = jx & 0x7fffffff
    if (ix >= 0x7ff00000) { // x is INF or NaN
      if (jx >= 0) One / x + One // tanh(+-inf) = +-1
      else One / x - One // tanh(NaN) = NaN
    } else {
      val z =
        if (ix < 0x40360000) { // |x| < 22
          if (ix < 0x3c800000) return x * (One + x) // |x| < 2**-55: tanh(small) = small
          if (ix >= 0x3ff00000) { // |x| >= 1
            val t = expm1(Two * math.abs(x))
            One - Two / (t + Two)
          } else {
            val t = expm1(-Two * math.abs(x))
            -t / (t + Two)
          }
        } else One - Tiny // |x| >= 22: +-1, inexact
      if (jx >= 0) z else -z
    }
  }

  private final val OThreshold = 7.09782712893383973096e+02 // 0x40862E42 FEFA39EF
  private final val Ln2Hi = 6.93147180369123816490e-01 // 0x3fe62e42 fee00000
  private final val Ln2Lo = 1.90821492927058770002e-10 // 0x3dea39ef 35793c76
  private final val InvLn2 = 1.44269504088896338700e+00 // 0x3ff71547 652b82fe
  // scaled coefficients related to expm1
  private final val Q1 = -3.33333333333331316428e-02 // BFA11111 111110F4
  private final val Q2 = 1.58730158725481460165e-03 // 3F5A01A0 19FE5585
  private final val Q3 = -7.93650757867487942473e-05 // BF14CE19 9EAADBB7
  private final val Q4 = 4.00821782732936239552e-06 // 3ED0CFCA 86E65239
  private final val Q5 = -2.01099218183624371326e-07 // BE8AFDB7 6E09C32D

  /*
   * expm1(x) = e^x - 1, accurate even for tiny x. Argument reduction
   * x = k*ln2 + r with |r| <= 0.5*ln2 (r kept as hi - lo plus the correction
   * c), a rational approximation of expm1(r) on the primary range, then
   * scaling back by 2^k. See s_expm1.c for the error analysis.
   */
  def expm1(x0: Double): Double = {
    var x = x0
    var hx = hi(x)
    val xsb = hx & 0x80000000 // sign bit of x
    hx &= 0x7fffffff // high word of |x|

    // filter out huge and non-finite argument
    if (hx >= 0x4043687A) { // |x| >= 56*ln2
      if (hx >= 0x40862E42) { // |x| >= 709.78...
        if (hx >= 0x7ff00000) {
          if (((hx & 0xfffff) | lo(x)) != 0) return x + x // NaN
          else return if (xsb == 0) x else -1.0 // exp(+-inf) = {inf, -1}
        }
        if (x > OThreshold) return Huge * Huge // overflow
      }
      if (xsb != 0) { // x < -56*ln2: -1 with inexact
        if (x + Tiny < 0.0) return Tiny - One
      }
    }

    // argument reduction
    var k = 0
    var c = 0.0
    if (hx > 0x3fd62e42) { // |x| > 0.5 ln2
      var hiPart = 0.0
      var loPart = 0.0
      if (hx < 0x3FF0A2B2) { // and |x| < 1.5 ln2
        if (xsb == 0) { hiPart = x - Ln2Hi; loPart = Ln2Lo; k = 1 }
        else { hiPart = x + Ln2Hi; loPart = -Ln2Lo; k = -1 }
      } else {
        k = (InvLn2 * x + (if (xsb == 0) 0.5 else -0.5)).toInt
        val t = k.toDouble
        hiPart = x - t * Ln2Hi // t*ln2_hi is exact here
        loPart = t * Ln2Lo
      }
      x = hiPart - loPart
      c = (hiPart - x) - loPart
    } else if (hx < 0x3c900000) { // |x| < 2**-54: return x, inexact when x != 0
      val t = Huge + x
      return x - (t - (Huge + x))
    }

    // x is now in primary range
    val hfx = 0.5 * x
    val hxs = x * hfx
    val r1 = One + hxs * (Q1 + hxs * (Q2 + hxs * (Q3 + hxs * (Q4 + hxs * Q5))))
    var t = 3.0 - r1 * hfx
    var e = hxs * ((r1 - t) / (6.0 - x * t))
    if (k == 0) x - (x * e - hxs) // c is 0
    else {
      e = x * (e - c) - c
      e -= hxs
      if (k == -1) return 0.5 * (x - e) - 0.5
      if (k == 1) {
        return if (x < -0.25) -2.0 * (e - (x + 0.5)) else One + 2.0 * (x - e)
      }
      if (k <= -2 || k > 56) { // suffices to return exp(x) - 1
        val y = One - (e - x)
        return withHi(y, hi(y) + (k << 20)) - One // add k to y's exponent
      }
      if (k < 20) {
        t = withHi(One, 0x3ff00000 - (0x200000 >> k)) // t = 1 - 2^-k
        val y = t - (e - x)
        withHi(y, hi(y) + (k << 20))
      } else {
        t = withHi(One, (0x3ff - k) << 20) // 2^-k
        var y = x - (e + t)
        y += One
        withHi(y, hi(y) + (k << 20))
      }
    }
  }
}
