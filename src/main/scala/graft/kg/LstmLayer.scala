package graft.kg

/**
 * One Keras-0.x LSTM layer in double precision — the recurrent core the
 * LSTM ([[Backprop]]), 2-layer/4-channel ([[BackpropConcat]]) and conv
 * ([[BackpropConv]]) kernels share: hard_sigmoid gates (derivative 0.2 on
 * the open interval, 0 at the rails), tanh candidate/output. The backward
 * pass takes a PER-TIMESTEP incoming gradient, because a stacked layer
 * consumes EVERY state of the layer below, so that layer's BPTT receives a
 * gradient at every t, not just the last.
 */
object LstmLayer {

  /** Per-layer tensor offsets: (W,U,b) × i/f/c/o gates. */
  final case class Cell(off: Int, inDim: Int, hidden: Int) {
    private var cursor = off
    private def alloc(n: Int): Int = { val o = cursor; cursor += n; o }
    val wI = alloc(inDim * hidden); val uI = alloc(hidden * hidden); val bI = alloc(hidden)
    val wF = alloc(inDim * hidden); val uF = alloc(hidden * hidden); val bF = alloc(hidden)
    val wC = alloc(inDim * hidden); val uC = alloc(hidden * hidden); val bC = alloc(hidden)
    val wO = alloc(inDim * hidden); val uO = alloc(hidden * hidden); val bO = alloc(hidden)
    val end: Int = cursor

    /** (offset, length, scale) of every tensor in seeded-init order: the
      * four W blocks, the four U blocks, then the four biases. */
    def initTensors: Seq[(Int, Int, Double)] =
      Seq(wI, wF, wC, wO).map((_, inDim * hidden, 0.3)) ++
        Seq(uI, uF, uC, uO).map((_, hidden * hidden, 0.3)) ++
        Seq(bI, bF, bC, bO).map((_, hidden, 0.1))
  }

  /** Per-timestep forward caches for [[backward]]: gate PRE-activations
    * and cell states. */
  final class Trace(n: Int) {
    val preI = new Array[Array[Double]](n); val preF = new Array[Array[Double]](n)
    val preC = new Array[Array[Double]](n); val preO = new Array[Array[Double]](n)
    val cs = new Array[Array[Double]](n)
  }

  /** Forward over `xs`; returns every state h_t (T × h). Starts from the
    * zero state unless `h0`/`c0` are given (the truncation FD helpers run
    * a suffix from a detached window-entry state). Fills `trace` when
    * non-null. */
  def forward(f: Array[Double], c: Cell, xs: Array[Array[Double]], trace: Trace = null,
      h0: Array[Double] = null, c0: Array[Double] = null): Array[Array[Double]] = {
    val h = c.hidden; val d = c.inDim
    val hPrev = if (h0 == null) new Array[Double](h) else h0.clone()
    val cell = if (c0 == null) new Array[Double](h) else c0.clone()
    val out = Array.ofDim[Double](xs.length, h)
    var t = 0
    while (t < xs.length) {
      val x = xs(t)
      val gi = new Array[Double](h); val gf = new Array[Double](h)
      val gc = new Array[Double](h); val go = new Array[Double](h)
      var j = 0
      while (j < h) {
        gi(j) = f(c.bI + j); gf(j) = f(c.bF + j); gc(j) = f(c.bC + j); go(j) = f(c.bO + j)
        j += 1
      }
      var i = 0
      while (i < d) {
        val xi = x(i)
        if (xi != 0) {
          j = 0
          while (j < h) {
            gi(j) += xi * f(c.wI + i * h + j); gf(j) += xi * f(c.wF + i * h + j)
            gc(j) += xi * f(c.wC + i * h + j); go(j) += xi * f(c.wO + i * h + j)
            j += 1
          }
        }
        i += 1
      }
      i = 0
      while (i < h) {
        val hi = hPrev(i)
        if (hi != 0) {
          j = 0
          while (j < h) {
            gi(j) += hi * f(c.uI + i * h + j); gf(j) += hi * f(c.uF + i * h + j)
            gc(j) += hi * f(c.uC + i * h + j); go(j) += hi * f(c.uO + i * h + j)
            j += 1
          }
        }
        i += 1
      }
      if (trace != null) {
        trace.preI(t) = gi; trace.preF(t) = gf; trace.preC(t) = gc; trace.preO(t) = go
      }
      j = 0
      while (j < h) {
        cell(j) = FlatModel.hsig(gf(j)) * cell(j) + FlatModel.hsig(gi(j)) * Fdlibm.tanh(gc(j))
        hPrev(j) = FlatModel.hsig(go(j)) * Fdlibm.tanh(cell(j))
        out(t)(j) = hPrev(j)
        j += 1
      }
      if (trace != null) trace.cs(t) = cell.clone()
      t += 1
    }
    out
  }

  /** Backward (from the zero start state) with a PER-TIMESTEP incoming
    * gradient `dStates(t)` on h_t (zero rows where nothing flows in).
    * Accumulates this layer's tensor gradients into `grad` and RETURNS
    * dXs — the gradient wrt the layer's inputs at every t (what the layer
    * below receives). `states` holds this layer's outputs; `trace` comes
    * from [[forward]]. */
  def backward(f: Array[Double], c: Cell, xs: Array[Array[Double]],
      states: Array[Array[Double]], trace: Trace, dStates: Array[Array[Double]],
      grad: Array[Double], tMin: Int = 0): Array[Array[Double]] = {
    val h = c.hidden; val d = c.inDim
    val T = xs.length
    val dXs = Array.ofDim[Double](T, d)
    val dh = new Array[Double](h)
    val dc = new Array[Double](h)
    // BPTT truncation (theano scan semantics, per layer): the backward
    // scan runs only the last T - tMin iterations; gradient injections
    // and dXs before tMin stay zero
    var t = T - 1
    while (t >= tMin) {
      var k = 0
      while (k < h) { dh(k) += dStates(t)(k); k += 1 }
      val cell = trace.cs(t)
      val cPrev = if (t == 0) null else trace.cs(t - 1)
      val hPrev = if (t == 0) new Array[Double](h) else states(t - 1)
      val gi = trace.preI(t); val gf = trace.preF(t); val gc = trace.preC(t); val go = trace.preO(t)
      val dhNext = new Array[Double](h)
      k = 0
      while (k < h) {
        val tc = Fdlibm.tanh(cell(k))
        val iG = FlatModel.hsig(gi(k)); val fG = FlatModel.hsig(gf(k))
        val oG = FlatModel.hsig(go(k))
        val gT = Fdlibm.tanh(gc(k))
        val dOut = dh(k) * tc * FlatModel.hsigGrad(go(k))                   // d pre_o
        val dcK = dc(k) + dh(k) * oG * (1 - tc * tc)                        // d c_t
        val dIn = dcK * gT * FlatModel.hsigGrad(gi(k))                      // d pre_i
        val dFor = dcK * (if (t == 0) 0.0 else cPrev(k)) * FlatModel.hsigGrad(gf(k)) // d pre_f
        val dCand = dcK * iG * (1 - gT * gT)                                // d pre_c
        dc(k) = dcK * fG                                                    // carry to t-1
        grad(c.bI + k) += dIn; grad(c.bF + k) += dFor
        grad(c.bC + k) += dCand; grad(c.bO + k) += dOut
        var i = 0
        while (i < d) {
          val xi = xs(t)(i)
          grad(c.wI + i * h + k) += xi * dIn; grad(c.wF + i * h + k) += xi * dFor
          grad(c.wC + i * h + k) += xi * dCand; grad(c.wO + i * h + k) += xi * dOut
          dXs(t)(i) += f(c.wI + i * h + k) * dIn + f(c.wF + i * h + k) * dFor +
                       f(c.wC + i * h + k) * dCand + f(c.wO + i * h + k) * dOut
          i += 1
        }
        i = 0
        while (i < h) {
          val hi = hPrev(i)
          grad(c.uI + i * h + k) += hi * dIn; grad(c.uF + i * h + k) += hi * dFor
          grad(c.uC + i * h + k) += hi * dCand; grad(c.uO + i * h + k) += hi * dOut
          dhNext(i) += f(c.uI + i * h + k) * dIn + f(c.uF + i * h + k) * dFor +
                       f(c.uC + i * h + k) * dCand + f(c.uO + i * h + k) * dOut
          i += 1
        }
        k += 1
      }
      System.arraycopy(dhNext, 0, dh, 0, h)
      t -= 1
    }
    dXs
  }

  /** [[backward]] for a layer whose only gradient arrives on its LAST
    * state — the readout's dL/dh_T. */
  def backwardFromLast(f: Array[Double], c: Cell, xs: Array[Array[Double]],
      states: Array[Array[Double]], trace: Trace, dhT: Array[Double],
      grad: Array[Double], tMin: Int = 0): Array[Array[Double]] = {
    val dStates = Array.ofDim[Double](xs.length, c.hidden)
    if (xs.nonEmpty) dStates(xs.length - 1) = dhT
    backward(f, c, xs, states, trace, dStates, grad, tMin)
  }
}
