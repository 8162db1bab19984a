package graft.kg

import FlatModel.{hsig, hsigGrad}
import Trainer.SeqRow

/**
 * The gated recurrent cells of the model zoo in double precision with BPTT
 * — the training side of [[Models.GatedCell]]. The reference's `get_rnn`
 * maps `gru` and `mut1`-`mut3` to the keras 0.x GRU and JZS1-3
 * (models.py:29-30); the JZS wiring is Jozefowicz, Zaremba & Sutskever
 * 2015. All four share the update gate z, the reset gate r and a candidate
 * c over r⊙h, with z = hard_sigmoid(g_z), r = hard_sigmoid(g_r),
 * c = tanh(g_c) and x̃ = x when embDim == hidden, else P·x:
 *
 *   GRU:  g_z = Wz·x + Uz·h + bz
 *         g_r = Wr·x + Ur·h + br
 *         g_c = Wh·x + Uh·(r⊙h) + bh
 *         h' = z ⊙ h + (1 − z) ⊙ c
 *   MUT1: g_z = Wz·x + bz                    (update gate sees only x)
 *         g_r = Wr·x + Ur·h + br
 *         g_c = Uh·(r⊙h) + tanh(x̃) + bh     (no Wh)
 *   MUT2: g_z = Wz·x + Uz·h + bz
 *         g_r = x̃ + Ur·h + br               (reset sees raw x̃, no Wr)
 *         g_c = Wh·x + Uh·(r⊙h) + bh
 *   MUT3: g_z = Wz·x + Uz·tanh(h) + bz
 *         g_r = Wr·x + Ur·h + br
 *         g_c = Wh·x + Uh·(r⊙h) + bh        (x̃ unused)
 *   MUT:  h' = z ⊙ c + (1 − z) ⊙ h           (the MIRROR of the GRU's z)
 *
 * Test-time dropout is a constant `retain` scale on the embedding output
 * and the final state; the readout is the shared [[FlatModel.head]]. Each
 * kind keeps the summation order BackpropSpec pins to the raw bits: the
 * GRU adds Wh·x before Uh·(r⊙h) and fuses its input and carry gradient
 * sums, MUT sums them tensor by tensor. Gradients are pinned per kind by
 * the central finite-difference checks in BackpropSpec.
 */
object GatedLayer {

  /** The GRU's kind; kinds 1-3 are MUT1-3. */
  val Gru = 0

  /** Offsets into the flat parameter/gradient vector: embedding, the z/r/h
    * gates' (W, U, b), the x̃ projection P (MUT kinds only, even when
    * embDim == hidden), then dense + bias. A tensor a kind does not read
    * keeps a zero gradient. */
  final case class Layout(kind: Int, vocab: Int, embDim: Int, hidden: Int, relSize: Int) {
    require(kind >= Gru && kind <= 3, s"gated kind $kind")
    val gru: Boolean = kind == Gru
    val emb = 0
    private var cursor = vocab * embDim
    private def alloc(n: Int): Int = { val o = cursor; cursor += n; o }
    val wZ = alloc(embDim * hidden); val uZ = alloc(hidden * hidden); val bZ = alloc(hidden)
    val wR = alloc(embDim * hidden); val uR = alloc(hidden * hidden); val bR = alloc(hidden)
    val wH = alloc(embDim * hidden); val uH = alloc(hidden * hidden); val bH = alloc(hidden)
    val proj: Int = if (gru) -1 else alloc(embDim * hidden)
    val dense = alloc(hidden * relSize); val denseB = alloc(relSize)
    val total: Int = cursor

    /** (offset, length, scale) of every tensor in seeded-init order. */
    def initTensors: Seq[(Int, Int, Double)] = Seq(
      (emb, vocab * embDim, 0.5),
      (wZ, embDim * hidden, 0.3), (uZ, hidden * hidden, 0.3), (bZ, hidden, 0.1),
      (wR, embDim * hidden, 0.3), (uR, hidden * hidden, 0.3), (bR, hidden, 0.1),
      (wH, embDim * hidden, 0.3), (uH, hidden * hidden, 0.3), (bH, hidden, 0.1)) ++
      (if (gru) Nil else Seq((proj, embDim * hidden, 0.3))) ++
      Seq((dense, hidden * relSize, 0.5), (denseB, relSize, 0.1))
  }

  def layoutOf(b: Pipeline.ScoringBundle, kind: Int): Layout =
    Layout(kind, b.word.size, b.weights.embDim, b.weights.hidden, b.rel.size)

  /** The cell as a [[FlatModel]], starting from the seeded fixture (scales
    * mirror [[Models]]). The GRU draws with salt 77; MUT`kind` draws with
    * salt 177 from stream base 1000·kind, so mut1/2/3 start from distinct
    * tensors, like distinct zoo cells. */
  def model(l: Layout, seed: Long = 42L, truncate: Int = 50): FlatModel[SeqRow] =
    new FlatModel[SeqRow] {
      def total: Int = l.total
      def denseRange: (Int, Int) = (l.dense, l.denseB)
      def start: Array[Double] =
        FlatModel.seeded(l.total, seed, if (l.gru) 77L else 177L, 1000 * l.kind)(l.initTensors)
      def logits(f: Array[Double], retain: Double, row: SeqRow): Array[Double] = {
        val xs = FlatModel.embed(f, Array(l.emb), l.embDim, retain, Array(row.sequence))
        FlatModel.readout(f, l.dense, l.denseB, l.relSize,
          FlatModel.last(forward(f, l, xs), l.hidden), retain)
      }
      def accumulate(f: Array[Double], retain: Double, row: SeqRow, mask: Array[Float],
          grad: Array[Double]): Double = {
        val seq = row.sequence
        val T = seq.length
        val chans = Array(seq)
        val emb = Array(l.emb)
        val xs = FlatModel.embed(f, emb, l.embDim, retain, chans)
        val trace = new Trace(T)
        val states = forward(f, l, xs, trace)
        val (loss, dh) = FlatModel.head(f, l.dense, l.denseB, l.relSize,
          FlatModel.last(states, l.hidden), retain, row.label, mask, grad)
        val tMin = FlatModel.windowStart(T, truncate)
        val dXs = backward(f, l, xs, states, trace, dh, grad, tMin)
        // embedding gradient (x = emb[w] * retain), scattered in descending t
        var t = T - 1
        while (t >= tMin) { FlatModel.scatter(grad, emb, l.embDim, retain, chans, t, dXs(t)); t -= 1 }
        loss
      }
    }

  /** Per-timestep forward caches for [[backward]]: gate PRE-activations,
    * r ⊙ h_{t-1}, and x̃ (MUT1/2 only). */
  private final class Trace(n: Int) {
    val preZ = new Array[Array[Double]](n); val preR = new Array[Array[Double]](n)
    val preC = new Array[Array[Double]](n); val rh = new Array[Array[Double]](n)
    val xt = new Array[Array[Double]](n)
  }

  /** y(j) += Σ_i v(i)·M(i, j) over ascending i, skipping zero v(i); M is
    * rows × h at `off`. */
  private def addMV(f: Array[Double], off: Int, v: Array[Double], rows: Int,
      y: Array[Double], h: Int): Unit = {
    var i = 0
    while (i < rows) {
      val vi = v(i)
      if (vi != 0) {
        var j = 0
        while (j < h) { y(j) += vi * f(off + i * h + j); j += 1 }
      }
      i += 1
    }
  }

  /** y(i) += Σ_k M(i, k)·g(k)·scale(i) over ascending k (scale 1 when
    * null): the input gradient of y = M^T·v. */
  private def addMg(f: Array[Double], off: Int, g: Array[Double], rows: Int,
      y: Array[Double], h: Int, scale: Array[Double] = null): Unit = {
    var i = 0
    while (i < rows) {
      val sc = if (scale == null) 1.0 else scale(i)
      var s = y(i)
      var k = 0
      while (k < h) { s += f(off + i * h + k) * g(k) * sc; k += 1 }
      y(i) = s
      i += 1
    }
  }

  /** A bias is the weight row of a constant input 1. */
  private val One = Array(1.0)

  /** grad(M(i, k)) += v(i)·g(k): the gradient of M in y = M^T·v. */
  private def addOuter(grad: Array[Double], off: Int, v: Array[Double], rows: Int,
      g: Array[Double], h: Int): Unit = {
    var i = 0
    while (i < rows) {
      val vi = v(i)
      var k = 0
      while (k < h) { grad(off + i * h + k) += vi * g(k); k += 1 }
      i += 1
    }
  }

  /** Forward over `xs` from the zero state; returns every state h_t
    * (T × hidden) and fills `tr` when non-null. */
  private def forward(f: Array[Double], l: Layout, xs: Array[Array[Double]],
      tr: Trace = null): Array[Array[Double]] = {
    val h = l.hidden; val d = l.embDim; val kind = l.kind
    val hPrev = new Array[Double](h)
    val out = Array.ofDim[Double](xs.length, h)
    val xt = new Array[Double](h)
    val rh = new Array[Double](h)
    val th = new Array[Double](h)
    var t = 0
    while (t < xs.length) {
      val x = xs(t)
      if (kind == 1 || kind == 2) {
        if (d == h) System.arraycopy(x, 0, xt, 0, h)
        else { java.util.Arrays.fill(xt, 0.0); addMV(f, l.proj, x, d, xt, h) }
        if (tr != null) tr.xt(t) = xt.clone()
      }
      val gz = java.util.Arrays.copyOfRange(f, l.bZ, l.bZ + h)
      addMV(f, l.wZ, x, d, gz, h)
      if (kind == 3) {
        var j = 0
        while (j < h) { th(j) = Fdlibm.tanh(hPrev(j)); j += 1 }
        addMV(f, l.uZ, th, h, gz, h)
      } else if (kind != 1) addMV(f, l.uZ, hPrev, h, gz, h)
      val gr = java.util.Arrays.copyOfRange(f, l.bR, l.bR + h)
      if (kind == 2) {
        var j = 0
        while (j < h) { gr(j) += xt(j); j += 1 }
      } else addMV(f, l.wR, x, d, gr, h)
      addMV(f, l.uR, hPrev, h, gr, h)
      var j = 0
      while (j < h) { rh(j) = hsig(gr(j)) * hPrev(j); j += 1 }
      val gc = java.util.Arrays.copyOfRange(f, l.bH, l.bH + h)
      if (l.gru) addMV(f, l.wH, x, d, gc, h)
      addMV(f, l.uH, rh, h, gc, h)
      if (kind == 1) {
        j = 0
        while (j < h) { gc(j) += Fdlibm.tanh(xt(j)); j += 1 }
      } else if (!l.gru) addMV(f, l.wH, x, d, gc, h)
      if (tr != null) { tr.preZ(t) = gz; tr.preR(t) = gr; tr.preC(t) = gc; tr.rh(t) = rh.clone() }
      j = 0
      while (j < h) {
        val z = hsig(gz(j))
        val c = Fdlibm.tanh(gc(j))
        hPrev(j) = if (l.gru) z * hPrev(j) + (1 - z) * c else z * c + (1 - z) * hPrev(j)
        j += 1
      }
      System.arraycopy(hPrev, 0, out(t), 0, h)
      t += 1
    }
    out
  }

  /**
   * BPTT over t >= tMin from the gradient `dhT` on the LAST state (the
   * readout's dL/dh_T). Accumulates the layer's tensor gradients into
   * `grad` (+=) and returns dXs, the gradient wrt the inputs at every t
   * (zero rows before tMin). `states` and `trace` come from [[forward]].
   *   d pre_z  = dh ⊙ (h_{t-1} − c) ⊙ σ'(pre_z)   (c − h_{t-1} for MUT)
   *   d pre_c  = dh ⊙ (1 − z) ⊙ (1 − c²)          (z for MUT)
   *   d(r⊙h)   = Uh^T · d pre_c
   *   d pre_r  = d(r⊙h) ⊙ h_{t-1} ⊙ σ'(pre_r)
   *   dh_{t-1} = dh ⊙ z + d(r⊙h) ⊙ r + the gates' U^T terms  (1 − z for MUT)
   */
  private def backward(f: Array[Double], l: Layout, xs: Array[Array[Double]],
      states: Array[Array[Double]], trace: Trace, dhT: Array[Double],
      grad: Array[Double], tMin: Int): Array[Array[Double]] = {
    val h = l.hidden; val d = l.embDim; val kind = l.kind
    val T = xs.length
    val dXs = Array.ofDim[Double](T, d)
    val dh = dhT.clone()
    val dz = new Array[Double](h); val dr = new Array[Double](h); val dc = new Array[Double](h)
    val drh = new Array[Double](h)
    val dxt = new Array[Double](h)
    val th = new Array[Double](h)
    val thGrad = new Array[Double](h)
    var t = T - 1
    while (t >= tMin) {
      val x = xs(t); val dx = dXs(t)
      val hPrev = if (t == 0) new Array[Double](h) else states(t - 1)
      val gz = trace.preZ(t); val gr = trace.preR(t); val gc = trace.preC(t)
      java.util.Arrays.fill(drh, 0.0)
      java.util.Arrays.fill(dxt, 0.0)
      val dhNext = new Array[Double](h)
      var k = 0
      while (k < h) {
        val c = Fdlibm.tanh(gc(k))
        val z = hsig(gz(k))
        dz(k) = dh(k) * (if (l.gru) hPrev(k) - c else c - hPrev(k)) * hsigGrad(gz(k))
        dc(k) = dh(k) * (if (l.gru) 1 - z else z) * (1 - c * c)
        dhNext(k) += dh(k) * (if (l.gru) z else 1 - z) // direct carry past the candidate
        k += 1
      }
      addMg(f, l.uH, dc, h, drh, h)
      k = 0
      while (k < h) {
        dr(k) = drh(k) * hPrev(k) * hsigGrad(gr(k))
        dhNext(k) += drh(k) * hsig(gr(k)) // the reset gate passes h_{t-1} through
        k += 1
      }
      if (kind == 3) {
        k = 0
        while (k < h) {
          th(k) = Fdlibm.tanh(hPrev(k)); thGrad(k) = 1 - th(k) * th(k)
          k += 1
        }
      }
      // tensor gradients: one add per entry per step, so their order is free
      addOuter(grad, l.bZ, One, 1, dz, h)
      addOuter(grad, l.bR, One, 1, dr, h)
      addOuter(grad, l.bH, One, 1, dc, h)
      addOuter(grad, l.wZ, x, d, dz, h)
      if (kind != 2) addOuter(grad, l.wR, x, d, dr, h)
      if (kind != 1) {
        addOuter(grad, l.wH, x, d, dc, h)
        addOuter(grad, l.uZ, if (kind == 3) th else hPrev, h, dz, h)
      }
      addOuter(grad, l.uR, hPrev, h, dr, h)
      addOuter(grad, l.uH, trace.rh(t), h, dc, h)
      // input and carry sums, in each kind's pinned order
      if (l.gru) {
        k = 0
        while (k < h) {
          var i = 0
          while (i < d) {
            dx(i) += f(l.wZ + i * h + k) * dz(k) + f(l.wR + i * h + k) * dr(k) +
                     f(l.wH + i * h + k) * dc(k)
            i += 1
          }
          i = 0
          while (i < h) {
            dhNext(i) += f(l.uZ + i * h + k) * dz(k) + f(l.uR + i * h + k) * dr(k)
            i += 1
          }
          k += 1
        }
      } else {
        if (kind == 1) {
          k = 0
          while (k < h) {
            val tx = Fdlibm.tanh(trace.xt(t)(k))
            dxt(k) += dc(k) * (1 - tx * tx)
            k += 1
          }
        } else addMg(f, l.wH, dc, d, dx, h)
        if (kind == 2) {
          k = 0
          while (k < h) { dxt(k) += dr(k); k += 1 } // g_r saw raw x̃
        } else addMg(f, l.wR, dr, d, dx, h)
        addMg(f, l.uR, dr, h, dhNext, h)
        addMg(f, l.wZ, dz, d, dx, h)
        if (kind != 1) addMg(f, l.uZ, dz, h, dhNext, h, if (kind == 3) thGrad else null)
        // route dx̃ into dx: the identity, or through P (and P's gradient)
        if (kind != 3) {
          if (d == h) {
            var i = 0
            while (i < h) { dx(i) += dxt(i); i += 1 }
          } else {
            addOuter(grad, l.proj, x, d, dxt, h)
            addMg(f, l.proj, dxt, d, dx, h)
          }
        }
      }
      System.arraycopy(dhNext, 0, dh, 0, h)
      t -= 1
    }
    dXs
  }
}
