package graft.kg

import FlatModel.{hsig, hsigGrad}
import Trainer.SeqRow

/**
 * Full-model gradient kernels for the MUT1/2/3 (JZS) cells — with
 * [[Backprop]] (LSTM) and [[BackpropGru]] this makes every recurrent cell
 * of the reference's model zoo trainable (models.py:29-30 maps
 * mut1/2/3 to keras 0.x JZS1-3; the cell wiring is Jozefowicz, Zaremba &
 * Sutskever 2015 — the same formulas as [[Models.MutCell]], here in
 * double precision with BPTT).
 *
 * Shared recurrence (all variants):
 *   c_t = tanh(g_c),   z_t = hard_sigmoid(g_z)
 *   h_t = z_t ⊙ c_t + (1 − z_t) ⊙ h_{t-1}     (note: gate rôle is the
 *                                              MIRROR of the GRU's)
 * Per-variant gate pre-activations (x̃ = x when dims match, else P·x):
 *   MUT1: g_z = Wz·x + bz                    (update gate sees only x)
 *         g_r = Wr·x + Ur·h + br
 *         g_c = Uh·(r⊙h) + tanh(x̃) + bh     (no Wh)
 *   MUT2: g_z = Wz·x + Uz·h + bz
 *         g_r = x̃ + Ur·h + br               (reset sees raw x̃, no Wr)
 *         g_c = Wh·x + Uh·(r⊙h) + bh
 *   MUT3: g_z = Wz·x + Uz·tanh(h) + bz
 *         g_r = Wr·x + Ur·h + br
 *         g_c = Wh·x + Uh·(r⊙h) + bh        (x̃ unused)
 * Test-time dropout is the usual constant `retain` scale on the embedding
 * output and the final hidden state; the readout head is the shared
 * [[FlatModel.head]]. Gradients are pinned by the central finite-difference
 * check in BackpropSpec for all three variants.
 *
 * The layout carries the union of all variants' tensors; a tensor a
 * variant does not touch simply keeps a zero gradient (wH and uZ unused
 * by MUT1 — its x̃ goes through proj when dims mismatch; wR unused by
 * MUT2; proj and x̃ entirely unused by MUT3).
 */
object BackpropMut {

  final case class Layout(vocab: Int, embDim: Int, hidden: Int, relSize: Int) {
    val emb = 0
    private var cursor = vocab * embDim
    private def alloc(n: Int): Int = { val o = cursor; cursor += n; o }
    val wZ = alloc(embDim * hidden); val uZ = alloc(hidden * hidden); val bZ = alloc(hidden)
    val wR = alloc(embDim * hidden); val uR = alloc(hidden * hidden); val bR = alloc(hidden)
    val wH = alloc(embDim * hidden); val uH = alloc(hidden * hidden); val bH = alloc(hidden)
    val proj = alloc(embDim * hidden) // x̃ projection when embDim != hidden
    val dense = alloc(hidden * relSize); val denseB = alloc(relSize)
    val total: Int = cursor
  }

  def layoutOf(b: Pipeline.ScoringBundle): Layout =
    Layout(b.word.size, b.weights.embDim, b.weights.hidden, b.rel.size)

  /** MUT`variant` as a [[FlatModel]], starting from the seeded fixture
    * (same scheme as the GRU kernel; the variant offsets the tensor
    * streams so mut1/2/3 start from distinct tensors, like distinct zoo
    * cells). */
  def model(l: Layout, variant: Int, seed: Long = 42L, truncate: Int = 50): FlatModel[SeqRow] = {
    require(variant >= 1 && variant <= 3, s"mut variant $variant")
    new FlatModel[SeqRow] {
      def total: Int = l.total
      def denseRange: (Int, Int) = (l.dense, l.denseB)
      def start: Array[Double] = FlatModel.seeded(l.total, seed, 177L, 1000 * variant)(Seq(
        (l.emb, l.vocab * l.embDim, 0.5),
        (l.wZ, l.embDim * l.hidden, 0.3), (l.uZ, l.hidden * l.hidden, 0.3), (l.bZ, l.hidden, 0.1),
        (l.wR, l.embDim * l.hidden, 0.3), (l.uR, l.hidden * l.hidden, 0.3), (l.bR, l.hidden, 0.1),
        (l.wH, l.embDim * l.hidden, 0.3), (l.uH, l.hidden * l.hidden, 0.3), (l.bH, l.hidden, 0.1),
        (l.proj, l.embDim * l.hidden, 0.3),
        (l.dense, l.hidden * l.relSize, 0.5), (l.denseB, l.relSize, 0.1)))
      def logits(f: Array[Double], retain: Double, row: SeqRow): Array[Double] = {
        val xs = FlatModel.embed(f, Array(l.emb), l.embDim, retain, Array(row.sequence))
        FlatModel.readout(f, l.dense, l.denseB, l.relSize,
          forward(variant, f, l, xs, null, null, null, null, null)._2, retain)
      }
      def accumulate(f: Array[Double], retain: Double, row: SeqRow, mask: Array[Float],
          grad: Array[Double]): Double =
        BackpropMut.accumulate(variant, f, l, retain, row.sequence, row.label, mask, grad,
          truncate)
    }
  }

  /** y += M^T x over the flat layout (M at `off`, rows inDim × cols h). */
  @inline private def addMV(f: Array[Double], off: Int, x: Array[Double],
      inDim: Int, y: Array[Double], h: Int): Unit = {
    var i = 0
    while (i < inDim) {
      val xi = x(i)
      if (xi != 0) {
        var j = 0
        while (j < h) { y(j) += xi * f(off + i * h + j); j += 1 }
      }
      i += 1
    }
  }

  /** Shared forward over the embedded inputs `xs`; cache arrays (when
    * non-null) are filled per timestep, and the returned state table then
    * holds h_t shifted by one, hs(0) = 0. Returns (hs, h_T). */
  private def forward(variant: Int, f: Array[Double], l: Layout, xs: Array[Array[Double]],
      preZ: Array[Array[Double]], preR: Array[Array[Double]],
      preC: Array[Array[Double]], rhs: Array[Array[Double]],
      xts: Array[Array[Double]]): (Array[Array[Double]], Array[Double]) = {
    val h = l.hidden; val d = l.embDim
    val identityXt = d == h
    val hPrev = new Array[Double](h)
    val hs = if (preZ != null) Array.ofDim[Double](xs.length + 1, h) else null
    val xt = new Array[Double](h)
    val rh = new Array[Double](h)
    val th = new Array[Double](h)
    var t = 0
    while (t < xs.length) {
      val x = xs(t)
      // x̃ (variants 1-2 only; MUT3 never reads it)
      if (variant != 3) {
        if (identityXt) System.arraycopy(x, 0, xt, 0, h)
        else { java.util.Arrays.fill(xt, 0.0); addMV(f, l.proj, x, d, xt, h) }
        if (xts != null) xts(t) = xt.clone()
      }
      val gz = new Array[Double](h); val gr = new Array[Double](h)
      var j = 0
      while (j < h) { gz(j) = f(l.bZ + j); gr(j) = f(l.bR + j); j += 1 }
      variant match {
        case 1 =>
          addMV(f, l.wZ, x, d, gz, h) // z from x only
          addMV(f, l.wR, x, d, gr, h); addMV(f, l.uR, hPrev, h, gr, h)
        case 2 =>
          addMV(f, l.wZ, x, d, gz, h); addMV(f, l.uZ, hPrev, h, gz, h)
          j = 0
          while (j < h) { gr(j) += xt(j); j += 1 } // r sees raw x̃
          addMV(f, l.uR, hPrev, h, gr, h)
        case 3 =>
          j = 0
          while (j < h) { th(j) = Fdlibm.tanh(hPrev(j)); j += 1 }
          addMV(f, l.wZ, x, d, gz, h); addMV(f, l.uZ, th, h, gz, h)
          addMV(f, l.wR, x, d, gr, h); addMV(f, l.uR, hPrev, h, gr, h)
      }
      j = 0
      while (j < h) { rh(j) = hsig(gr(j)) * hPrev(j); j += 1 }
      val gc = new Array[Double](h)
      j = 0
      while (j < h) { gc(j) = f(l.bH + j); j += 1 }
      addMV(f, l.uH, rh, h, gc, h)
      if (variant == 1) {
        j = 0
        while (j < h) { gc(j) += Fdlibm.tanh(xt(j)); j += 1 }
      } else addMV(f, l.wH, x, d, gc, h)
      if (preZ != null) { preZ(t) = gz; preR(t) = gr; preC(t) = gc; rhs(t) = rh.clone() }
      j = 0
      while (j < h) {
        val z = hsig(gz(j))
        hPrev(j) = z * Fdlibm.tanh(gc(j)) + (1 - z) * hPrev(j)
        j += 1
      }
      if (hs != null) System.arraycopy(hPrev, 0, hs(t + 1), 0, h)
      t += 1
    }
    (hs, hPrev.clone())
  }

  /** One example's loss, accumulating dL/dθ into `grad` (+=). */
  private def accumulate(variant: Int, f: Array[Double], l: Layout, retain: Double,
      seq: Array[Int], label: Int, mask: Array[Float], grad: Array[Double],
      truncate: Int): Double = {
    val h = l.hidden; val d = l.embDim
    val identityXt = d == h
    val T = seq.length
    val tMin = FlatModel.windowStart(T, truncate)
    val emb = Array(l.emb)
    val chans = Array(seq)
    val xs = FlatModel.embed(f, emb, d, retain, chans)
    val preZ = new Array[Array[Double]](T); val preR = new Array[Array[Double]](T)
    val preC = new Array[Array[Double]](T); val rhs = new Array[Array[Double]](T)
    val xts = new Array[Array[Double]](T)
    val (hs, hT) = forward(variant, f, l, xs, preZ, preR, preC, rhs, xts)
    val (loss, dh) = FlatModel.head(f, l.dense, l.denseB, l.relSize, hT, retain, label, mask, grad)

    // BPTT
    val dx = new Array[Double](d)
    val dxt = new Array[Double](h)
    val dzPre = new Array[Double](h)
    val dcPre = new Array[Double](h)
    val drh = new Array[Double](h)
    val drPre = new Array[Double](h)
    var t = T - 1
    while (t >= tMin) {
      val hPrev = hs(t)
      val gz = preZ(t); val gr = preR(t); val gc = preC(t)
      val rh = rhs(t); val xt = xts(t)
      java.util.Arrays.fill(dx, 0.0)
      java.util.Arrays.fill(dxt, 0.0)
      java.util.Arrays.fill(drh, 0.0)
      val dhNext = new Array[Double](h)
      var k = 0
      while (k < h) {
        val c = Fdlibm.tanh(gc(k))
        val z = hsig(gz(k))
        // h = z*c + (1-z)*hPrev  (gate rôle mirrored vs the GRU)
        dzPre(k) = dh(k) * (c - hPrev(k)) * hsigGrad(gz(k))
        dcPre(k) = dh(k) * z * (1 - c * c)
        dhNext(k) += dh(k) * (1 - z)
        k += 1
      }
      // candidate: gc = bH + Uh·rh + (variant 1 ? tanh(x̃) : Wh·x)
      var i = 0
      while (i < h) {
        var acc = 0.0
        val ri = rh(i)
        k = 0
        while (k < h) {
          val g = dcPre(k)
          acc += f(l.uH + i * h + k) * g
          grad(l.uH + i * h + k) += ri * g
          k += 1
        }
        drh(i) = acc
        i += 1
      }
      k = 0
      while (k < h) { grad(l.bH + k) += dcPre(k); k += 1 }
      if (variant == 1) {
        k = 0
        while (k < h) {
          val tx = Fdlibm.tanh(xt(k))
          dxt(k) += dcPre(k) * (1 - tx * tx)
          k += 1
        }
      } else {
        k = 0
        while (k < h) {
          val g = dcPre(k)
          i = 0
          while (i < d) {
            grad(l.wH + i * h + k) += xs(t)(i) * g
            dx(i) += f(l.wH + i * h + k) * g
            i += 1
          }
          k += 1
        }
      }
      // reset path: rh = σ(gr) ⊙ hPrev
      k = 0
      while (k < h) {
        val rGate = hsig(gr(k))
        drPre(k) = drh(k) * hPrev(k) * hsigGrad(gr(k))
        dhNext(k) += drh(k) * rGate
        grad(l.bR + k) += drPre(k)
        k += 1
      }
      // gr composition per variant
      variant match {
        case 1 | 3 =>
          k = 0
          while (k < h) {
            val g = drPre(k)
            i = 0
            while (i < d) {
              grad(l.wR + i * h + k) += xs(t)(i) * g
              dx(i) += f(l.wR + i * h + k) * g
              i += 1
            }
            i = 0
            while (i < h) {
              grad(l.uR + i * h + k) += hPrev(i) * g
              dhNext(i) += f(l.uR + i * h + k) * g
              i += 1
            }
            k += 1
          }
        case 2 =>
          k = 0
          while (k < h) {
            val g = drPre(k)
            dxt(k) += g // gr saw raw x̃
            i = 0
            while (i < h) {
              grad(l.uR + i * h + k) += hPrev(i) * g
              dhNext(i) += f(l.uR + i * h + k) * g
              i += 1
            }
            k += 1
          }
      }
      // gz composition per variant
      k = 0
      while (k < h) { grad(l.bZ + k) += dzPre(k); k += 1 }
      variant match {
        case 1 =>
          k = 0
          while (k < h) {
            val g = dzPre(k)
            i = 0
            while (i < d) {
              grad(l.wZ + i * h + k) += xs(t)(i) * g
              dx(i) += f(l.wZ + i * h + k) * g
              i += 1
            }
            k += 1
          }
        case 2 =>
          k = 0
          while (k < h) {
            val g = dzPre(k)
            i = 0
            while (i < d) {
              grad(l.wZ + i * h + k) += xs(t)(i) * g
              dx(i) += f(l.wZ + i * h + k) * g
              i += 1
            }
            i = 0
            while (i < h) {
              grad(l.uZ + i * h + k) += hPrev(i) * g
              dhNext(i) += f(l.uZ + i * h + k) * g
              i += 1
            }
            k += 1
          }
        case 3 =>
          k = 0
          while (k < h) {
            val g = dzPre(k)
            i = 0
            while (i < d) {
              grad(l.wZ + i * h + k) += xs(t)(i) * g
              dx(i) += f(l.wZ + i * h + k) * g
              i += 1
            }
            i = 0
            while (i < h) {
              val thi = Fdlibm.tanh(hPrev(i))
              grad(l.uZ + i * h + k) += thi * g
              dhNext(i) += f(l.uZ + i * h + k) * g * (1 - thi * thi)
              i += 1
            }
            k += 1
          }
      }
      // x̃ = P·x (or identity): route accumulated dxt into dx (+ P grads).
      // MUT3 never uses x̃ (dxt stays identically zero) — skip the O(d·h)
      // loop instead of burning it per timestep in the hot training kernel
      if (variant != 3) {
        if (identityXt) {
          i = 0
          while (i < h) { dx(i) += dxt(i); i += 1 }
        } else {
          i = 0
          while (i < d) {
            val xi = xs(t)(i)
            var kk = 0
            while (kk < h) {
              grad(l.proj + i * h + kk) += xi * dxt(kk)
              dx(i) += f(l.proj + i * h + kk) * dxt(kk)
              kk += 1
            }
            i += 1
          }
        }
      }
      FlatModel.scatter(grad, emb, d, retain, chans, t, dx) // x = emb[w] * retain
      System.arraycopy(dhNext, 0, dh, 0, h)
      t -= 1
    }
    loss
  }
}
