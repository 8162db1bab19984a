package graft.kg

import FlatModel.{hsig, hsigGrad}

/**
 * The gated recurrent cells of the model zoo in double precision with BPTT
 * — the training side of [[Models.GatedCell]]. The reference's `get_rnn`
 * maps `gru` and `mut1`-`mut3` to the keras 0.x GRU and JZS1-3
 * (models.py:29-30); the JZS wiring is Jozefowicz, Zaremba & Sutskever
 * 2015. All four share the update gate z, the reset gate r and a candidate
 * c over r⊙h, with z = hard_sigmoid(g_z), r = hard_sigmoid(g_r),
 * c = tanh(g_c) and x̃ = x when inDim == hidden, else P·x:
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
 * [[Cell]] is one [[Recurrent]] layer of the [[SentenceModel]] body
 * ([[SentenceModel.gated]] puts one over the word embedding). Each kind
 * keeps the summation order BackpropSpec pins to the raw bits: the
 * GRU adds Wh·x before Uh·(r⊙h) and fuses its input and carry gradient
 * sums, MUT sums them tensor by tensor. Gradients are pinned per kind by
 * the central finite-difference checks in BackpropSpec.
 */
object GatedLayer {

  /** The GRU's kind; kinds 1-3 are MUT1-3. */
  val Gru = 0

  /** Per-timestep forward caches for [[Cell.backward]]: gate
    * PRE-activations, r ⊙ h_{t-1}, and x̃ (MUT1/2 only). */
  final class Trace(n: Int) {
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

  /** The layer at flat offset `off`: the z/r/h gates' (W, U, b), then the
    * x̃ projection P (MUT kinds only, even when inDim == hidden). A tensor
    * a kind does not read keeps a zero gradient. */
  final case class Cell(kind: Int, off: Int, inDim: Int, hidden: Int) extends Recurrent {
    require(kind >= Gru && kind <= 3, s"gated kind $kind")
    type Trace = GatedLayer.Trace
    val gru: Boolean = kind == Gru
    private var cursor = off
    private def alloc(n: Int): Int = { val o = cursor; cursor += n; o }
    val wZ = alloc(inDim * hidden); val uZ = alloc(hidden * hidden); val bZ = alloc(hidden)
    val wR = alloc(inDim * hidden); val uR = alloc(hidden * hidden); val bR = alloc(hidden)
    val wH = alloc(inDim * hidden); val uH = alloc(hidden * hidden); val bH = alloc(hidden)
    val proj: Int = if (gru) -1 else alloc(inDim * hidden)
    val end: Int = cursor

    def initTensors: Seq[(Int, Int, Double)] = Seq(
      (wZ, inDim * hidden, 0.3), (uZ, hidden * hidden, 0.3), (bZ, hidden, 0.1),
      (wR, inDim * hidden, 0.3), (uR, hidden * hidden, 0.3), (bR, hidden, 0.1),
      (wH, inDim * hidden, 0.3), (uH, hidden * hidden, 0.3), (bH, hidden, 0.1)) ++
      (if (gru) Nil else Seq((proj, inDim * hidden, 0.3)))

    def trace(n: Int): Trace = new Trace(n)

    def forward(f: Array[Double], xs: Array[Array[Double]], tr: Trace): Array[Array[Double]] = {
      val h = hidden; val d = inDim
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
          else { java.util.Arrays.fill(xt, 0.0); addMV(f, proj, x, d, xt, h) }
          if (tr != null) tr.xt(t) = xt.clone()
        }
        val gz = java.util.Arrays.copyOfRange(f, bZ, bZ + h)
        addMV(f, wZ, x, d, gz, h)
        if (kind == 3) {
          var j = 0
          while (j < h) { th(j) = Fdlibm.tanh(hPrev(j)); j += 1 }
          addMV(f, uZ, th, h, gz, h)
        } else if (kind != 1) addMV(f, uZ, hPrev, h, gz, h)
        val gr = java.util.Arrays.copyOfRange(f, bR, bR + h)
        if (kind == 2) {
          var j = 0
          while (j < h) { gr(j) += xt(j); j += 1 }
        } else addMV(f, wR, x, d, gr, h)
        addMV(f, uR, hPrev, h, gr, h)
        var j = 0
        while (j < h) { rh(j) = hsig(gr(j)) * hPrev(j); j += 1 }
        val gc = java.util.Arrays.copyOfRange(f, bH, bH + h)
        if (gru) addMV(f, wH, x, d, gc, h)
        addMV(f, uH, rh, h, gc, h)
        if (kind == 1) {
          j = 0
          while (j < h) { gc(j) += Fdlibm.tanh(xt(j)); j += 1 }
        } else if (!gru) addMV(f, wH, x, d, gc, h)
        if (tr != null) { tr.preZ(t) = gz; tr.preR(t) = gr; tr.preC(t) = gc; tr.rh(t) = rh.clone() }
        j = 0
        while (j < h) {
          val z = hsig(gz(j))
          val c = Fdlibm.tanh(gc(j))
          hPrev(j) = if (gru) z * hPrev(j) + (1 - z) * c else z * c + (1 - z) * hPrev(j)
          j += 1
        }
        System.arraycopy(hPrev, 0, out(t), 0, h)
        t += 1
      }
      out
    }

    /**
     * BPTT per [[Recurrent.backward]]:
     *   d pre_z  = dh ⊙ (h_{t-1} − c) ⊙ σ'(pre_z)   (c − h_{t-1} for MUT)
     *   d pre_c  = dh ⊙ (1 − z) ⊙ (1 − c²)          (z for MUT)
     *   d(r⊙h)   = Uh^T · d pre_c
     *   d pre_r  = d(r⊙h) ⊙ h_{t-1} ⊙ σ'(pre_r)
     *   dh_{t-1} = dh ⊙ z + d(r⊙h) ⊙ r + the gates' U^T terms  (1 − z for MUT)
     */
    def backward(f: Array[Double], xs: Array[Array[Double]], states: Array[Array[Double]],
        trace: Trace, dStates: Array[Array[Double]], grad: Array[Double],
        tMin: Int): Array[Array[Double]] = {
      val h = hidden; val d = inDim
      val T = xs.length
      val dXs = Array.ofDim[Double](T, d)
      val dh = new Array[Double](h)
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
        var k = 0
        while (k < h) { dh(k) += dStates(t)(k); k += 1 }
        java.util.Arrays.fill(drh, 0.0)
        java.util.Arrays.fill(dxt, 0.0)
        val dhNext = new Array[Double](h)
        k = 0
        while (k < h) {
          val c = Fdlibm.tanh(gc(k))
          val z = hsig(gz(k))
          dz(k) = dh(k) * (if (gru) hPrev(k) - c else c - hPrev(k)) * hsigGrad(gz(k))
          dc(k) = dh(k) * (if (gru) 1 - z else z) * (1 - c * c)
          dhNext(k) += dh(k) * (if (gru) z else 1 - z) // direct carry past the candidate
          k += 1
        }
        addMg(f, uH, dc, h, drh, h)
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
        addOuter(grad, bZ, One, 1, dz, h)
        addOuter(grad, bR, One, 1, dr, h)
        addOuter(grad, bH, One, 1, dc, h)
        addOuter(grad, wZ, x, d, dz, h)
        if (kind != 2) addOuter(grad, wR, x, d, dr, h)
        if (kind != 1) {
          addOuter(grad, wH, x, d, dc, h)
          addOuter(grad, uZ, if (kind == 3) th else hPrev, h, dz, h)
        }
        addOuter(grad, uR, hPrev, h, dr, h)
        addOuter(grad, uH, trace.rh(t), h, dc, h)
        // input and carry sums, in each kind's pinned order
        if (gru) {
          k = 0
          while (k < h) {
            var i = 0
            while (i < d) {
              dx(i) += f(wZ + i * h + k) * dz(k) + f(wR + i * h + k) * dr(k) +
                       f(wH + i * h + k) * dc(k)
              i += 1
            }
            i = 0
            while (i < h) {
              dhNext(i) += f(uZ + i * h + k) * dz(k) + f(uR + i * h + k) * dr(k)
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
          } else addMg(f, wH, dc, d, dx, h)
          if (kind == 2) {
            k = 0
            while (k < h) { dxt(k) += dr(k); k += 1 } // g_r saw raw x̃
          } else addMg(f, wR, dr, d, dx, h)
          addMg(f, uR, dr, h, dhNext, h)
          addMg(f, wZ, dz, d, dx, h)
          if (kind != 1) addMg(f, uZ, dz, h, dhNext, h, if (kind == 3) thGrad else null)
          // route dx̃ into dx: the identity, or through P (and P's gradient)
          if (kind != 3) {
            if (d == h) {
              var i = 0
              while (i < h) { dx(i) += dxt(i); i += 1 }
            } else {
              addOuter(grad, proj, x, d, dxt, h)
              addMg(f, proj, dxt, d, dx, h)
            }
          }
        }
        System.arraycopy(dhNext, 0, dh, 0, h)
        t -= 1
      }
      dXs
    }
  }
}
