package graft.kg

/**
 * The Float inference math of the production [[Scorer]] and the model zoo
 * ([[Models]]), Keras-0.x semantics: hard_sigmoid gates, tanh outputs,
 * test-time dropout as a `retain = 1 - p` scale. Bit-exactness is the
 * contract (golden triples, ScorerSpec's raw pins), so each caller fills its
 * own gate pre-activations, where the two accumulation orders differ:
 * `Scorer` adds a precomputed per-id `W·x` to the bias, the zoo accumulates
 * `((b + x₀w₀) + x₁w₁)…` in place. [[tanh]] is part of the same contract:
 * it returns `Fdlibm.tanh(x.toDouble).toFloat` bit for bit on every float.
 * The Double training model ([[SentenceModel]]) keeps its own math.
 */
private[kg] object FloatKernel {

  /** Keras-0.x hard_sigmoid: clip(0.2·x + 0.5, 0, 1). */
  @inline def hardSigmoid(x: Float): Float = {
    val y = 0.2f * x + 0.5f
    if (y < 0f) 0f else if (y > 1f) 1f else y
  }

  /** y(j) += Σᵢ x(i)·m(i)(j) for i < xLen, j < n, one row of `m` at a time;
    * rows whose x(i) is zero are skipped. The inner loop indexes `y` and
    * the row alike, the shape C2's superword pass vectorizes. */
  def addMatVec(m: Array[Array[Float]], x: Array[Float], xLen: Int,
      y: Array[Float], n: Int): Unit = {
    var i = 0
    while (i < xLen) {
      val xi = x(i)
      if (xi != 0f) {
        val row = m(i)
        var j = 0
        while (j < n) { y(j) += xi * row(j); j += 1 }
      }
      i += 1
    }
  }

  /** The i, f, c, o gate matrices as one row per input unit:
    * rows(i)(g·n + j) = m_g(i)(j), so one [[addMatVec]] pass feeds all
    * four gates and each element keeps its own sum order over i. */
  def fuseGates(m: Array[Array[Float]]*): Array[Array[Float]] =
    Array.tabulate(m.head.length)(i => m.flatMap(_(i)).toArray)

  /** One LSTM step over `n` units. The caller has filled `g` with the
    * i, f, c, o gate pre-activations (bias plus input projection) at
    * offsets 0, n, 2n, 3n; this adds the recurrent U·h through `u` =
    * [[fuseGates]](U_i, U_f, U_c, U_o), then updates the state in place:
    * c = f·c + i·tanh(g), h = o·tanh(c). The state update takes two
    * passes over the units, so no tanh waits on the one before it and the
    * CPU overlaps them. */
  def lstmStep(u: Array[Array[Float]], g: Array[Float], h: Array[Float],
      c: Array[Float], n: Int): Unit = {
    addMatVec(u, h, n, g, 4 * n)
    var j = 0
    while (j < n) {
      c(j) = hardSigmoid(g(n + j)) * c(j) + hardSigmoid(g(j)) * tanh(g(2 * n + j))
      j += 1
    }
    j = 0
    while (j < n) { h(j) = hardSigmoid(g(3 * n + j)) * tanh(c(j)); j += 1 }
  }

  /** Taylor coefficients of tanh to degree 7 around each centre k/32,
    * k < 290: entry 8k + m is tanh⁽ᵐ⁾(k/32)/m!. The m-th derivative is a
    * polynomial pₘ in T = tanh (p₀ = T, pₘ₊₁ = (1 − T²)·pₘ'), evaluated at
    * T = Fdlibm.tanh(k/32). */
  private val taylor: Array[Double] = {
    val polys = Iterator.iterate(Array(0.0, 1.0)) { p =>
      val dp = Array.tabulate(p.length - 1)(i => (i + 1) * p(i + 1))
      Array.tabulate(dp.length + 2) { i =>
        (if (i < dp.length) dp(i) else 0.0) - (if (i >= 2) dp(i - 2) else 0.0)
      }
    }.take(8).toArray
    val out = new Array[Double](290 * 8)
    for (k <- 0 until 290) {
      val t = Fdlibm.tanh(k / 32.0)
      var fact = 1.0
      for (m <- 0 until 8) {
        if (m > 0) fact *= m
        out(8 * k + m) = polys(m).foldRight(0.0)((coef, acc) => coef + acc * t) / fact
      }
    }
    out
  }

  /** tanh for a Float, bit for bit `Fdlibm.tanh(x.toDouble).toFloat` on
    * every float (FloatTanhSweep checks all 2^32): the Taylor polynomial
    * around the nearest centre, in double, is kept when a band of relative
    * width 2·10⁻¹¹ around it rounds to a single float, far wider than its
    * error; otherwise, and for |x| < 10⁻⁴, |x| ≥ 9 or NaN, Fdlibm decides.
    * The sign comes from copySign, so the fast path has no sign branch. */
  def tanh(x: Float): Float = {
    val a = Math.abs(x.toDouble)
    if (a >= 1e-4 && a < 9.0) {
      val k = (a * 32 + 0.5).toInt
      val d = a - k / 32.0
      val o = 8 * k
      val t = taylor
      val v = ((((((t(o + 7) * d + t(o + 6)) * d + t(o + 5)) * d + t(o + 4)) * d +
        t(o + 3)) * d + t(o + 2)) * d + t(o + 1)) * d + t(o)
      val e = v * 1e-11
      val f = (v + e).toFloat
      if ((v - e).toFloat == f) return Math.copySign(f, x)
    }
    Fdlibm.tanh(x.toDouble).toFloat
  }

  /** Dense readout of the final hidden state h(0 until n) after test-time
    * dropout: denseB + (h·retain)·dense, as a fresh array. */
  def readout(h: Array[Float], n: Int, retain: Float,
      dense: Array[Array[Float]], denseB: Array[Float]): Array[Float] = {
    val out = denseB.clone()
    var j = 0
    while (j < n) {
      val hj = h(j) * retain
      if (hj != 0f) {
        val row = dense(j)
        var r = 0
        while (r < out.length) { out(r) += hj * row(r); r += 1 }
      }
      j += 1
    }
    out
  }

  /** Seeded fixture tensors (the reference ships no trained weights, so
    * these define semantics, SURVEY.md §7.3): tensor `k` is stream
    * (seed, k, salt), uniform in ±scale, row-major, so growing one tensor
    * leaves every other bit-identical. */
  final class Fill(seed: Long, salt: Long) {
    def vec(k: Int, n: Int, scale: Float): Array[Float] = mat(k, 1, n, scale)(0)
    def mat(k: Int, rows: Int, cols: Int, scale: Float): Array[Array[Float]] = {
      val r = new Gen.Rng(seed * 0x9E3779B97F4A7C15L + k * 0xC2B2AE3D27D4EB4FL + salt)
      Array.fill(rows)(Array.fill(cols)(((r.nextDouble() * 2 - 1) * scale).toFloat))
    }
  }
}
