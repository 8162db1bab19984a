package graft.kg

/**
 * The Float inference math of the production [[Scorer]] and the model zoo
 * ([[Models]]), Keras-0.x semantics: hard_sigmoid gates, tanh outputs,
 * test-time dropout as a `retain = 1 - p` scale. Bit-exactness is the
 * contract (golden triples, ScorerSpec's raw pins), so each caller fills its
 * own gate pre-activations, where the two accumulation orders differ:
 * `Scorer` adds a precomputed per-id `W·x` to the bias, the zoo accumulates
 * `((b + x₀w₀) + x₁w₁)…` in place. The Double training kernels
 * ([[FlatModel]]) keep their own math.
 */
private[kg] object FloatKernel {

  /** Keras-0.x hard_sigmoid: clip(0.2·x + 0.5, 0, 1). */
  @inline def hardSigmoid(x: Float): Float = {
    val y = 0.2f * x + 0.5f
    if (y < 0f) 0f else if (y > 1f) 1f else y
  }

  /** y(off + j) += Σᵢ x(i)·m(i)(j) for i < xLen, j < n, one row of `m` at a
    * time; rows whose x(i) is zero are skipped. */
  def addMatVec(m: Array[Array[Float]], x: Array[Float], xLen: Int,
      y: Array[Float], off: Int, n: Int): Unit = {
    var i = 0
    while (i < xLen) {
      val xi = x(i)
      if (xi != 0f) {
        val row = m(i)
        var j = 0
        while (j < n) { y(off + j) += xi * row(j); j += 1 }
      }
      i += 1
    }
  }

  /** One LSTM step over `n` units. The caller has filled the four gate
    * pre-activations with bias plus input projection; this adds the
    * recurrent U·h to each, then updates the state in place:
    * c = f·c + i·tanh(g), h = o·tanh(c). */
  def lstmStep(uI: Array[Array[Float]], uF: Array[Array[Float]],
      uC: Array[Array[Float]], uO: Array[Array[Float]],
      gi: Array[Float], gf: Array[Float], gc: Array[Float], go: Array[Float],
      h: Array[Float], c: Array[Float], n: Int): Unit = {
    addMatVec(uI, h, n, gi, 0, n)
    addMatVec(uF, h, n, gf, 0, n)
    addMatVec(uC, h, n, gc, 0, n)
    addMatVec(uO, h, n, go, 0, n)
    var j = 0
    while (j < n) {
      val i_ = hardSigmoid(gi(j)); val f_ = hardSigmoid(gf(j)); val o_ = hardSigmoid(go(j))
      c(j) = f_ * c(j) + i_ * Fdlibm.tanh(gc(j)).toFloat
      h(j) = o_ * Fdlibm.tanh(c(j)).toFloat
      j += 1
    }
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
