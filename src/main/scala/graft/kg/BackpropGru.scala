package graft.kg

import FlatModel.{hsig, hsigGrad}
import Trainer.SeqRow

/**
 * Full-model gradient kernel for the GRU sentence model — extends FULL
 * training beyond the LSTM ([[Backprop]]): the reference trains whatever
 * `get_model` returns (models.py:19-28), and `get_rnn` maps config "gru"
 * to the keras 0.x GRU (models.py:29-30), so the training surface must
 * cover the GRU cell too.
 *
 * Cell math matches [[Models.GruCell]] (Keras-0.x semantics) in double
 * precision:
 *   z_t = hard_sigmoid(Wz·x_t + Uz·h_{t-1} + bz)
 *   r_t = hard_sigmoid(Wr·x_t + Ur·h_{t-1} + br)
 *   c_t = tanh(Wh·x_t + Uh·(r_t ⊙ h_{t-1}) + bh)
 *   h_t = z_t ⊙ h_{t-1} + (1 − z_t) ⊙ c_t
 * with test-time dropout as a constant `retain` scale on the embedding
 * output and the final hidden state, and the shared masked readout head
 * ([[FlatModel.head]]) — all exactly parallel to the LSTM kernel. Gradient
 * correctness is pinned by the same central finite-difference check
 * (BackpropSpec).
 */
object BackpropGru {

  /** Offsets into the flat parameter/gradient vector: embedding, the 3 GRU
    * gates' (W, U, b) in z/r/h order, then dense + bias. */
  final case class Layout(vocab: Int, embDim: Int, hidden: Int, relSize: Int) {
    val emb = 0
    private var cursor = vocab * embDim
    private def alloc(n: Int): Int = { val o = cursor; cursor += n; o }
    val wZ = alloc(embDim * hidden); val uZ = alloc(hidden * hidden); val bZ = alloc(hidden)
    val wR = alloc(embDim * hidden); val uR = alloc(hidden * hidden); val bR = alloc(hidden)
    val wH = alloc(embDim * hidden); val uH = alloc(hidden * hidden); val bH = alloc(hidden)
    val dense = alloc(hidden * relSize); val denseB = alloc(relSize)
    val total: Int = cursor
  }

  def layoutOf(b: Pipeline.ScoringBundle): Layout =
    Layout(b.word.size, b.weights.embDim, b.weights.hidden, b.rel.size)

  /** The GRU as a [[FlatModel]], starting from the seeded fixture (scales
    * mirror [[Models]]: 0.5 embeddings/dense, 0.3 recurrent, 0.1 biases). */
  def model(l: Layout, seed: Long = 42L, truncate: Int = 50): FlatModel[SeqRow] =
    new FlatModel[SeqRow] {
      def total: Int = l.total
      def denseRange: (Int, Int) = (l.dense, l.denseB)
      def start: Array[Double] = FlatModel.seeded(l.total, seed, 77L)(Seq(
        (l.emb, l.vocab * l.embDim, 0.5),
        (l.wZ, l.embDim * l.hidden, 0.3), (l.uZ, l.hidden * l.hidden, 0.3), (l.bZ, l.hidden, 0.1),
        (l.wR, l.embDim * l.hidden, 0.3), (l.uR, l.hidden * l.hidden, 0.3), (l.bR, l.hidden, 0.1),
        (l.wH, l.embDim * l.hidden, 0.3), (l.uH, l.hidden * l.hidden, 0.3), (l.bH, l.hidden, 0.1),
        (l.dense, l.hidden * l.relSize, 0.5), (l.denseB, l.relSize, 0.1)))
      def logits(f: Array[Double], retain: Double, row: SeqRow): Array[Double] = {
        val xs = FlatModel.embed(f, Array(l.emb), l.embDim, retain, Array(row.sequence))
        FlatModel.readout(f, l.dense, l.denseB, l.relSize,
          forward(f, l, xs, null, null, null, null)._2, retain)
      }
      def accumulate(f: Array[Double], retain: Double, row: SeqRow, mask: Array[Float],
          grad: Array[Double]): Double =
        BackpropGru.accumulate(f, l, retain, row.sequence, row.label, mask, grad, truncate)
    }

  /** Shared forward over the embedded inputs `xs`; when the cache arrays
    * are non-null they are filled per timestep (preZ/preR/preH hold gate
    * PRE-activations; rhs holds r_t ⊙ h_{t-1}) and the returned state
    * table holds h_t shifted by one, hs(0) = h_{-1} = 0. Returns (hs, h_T). */
  private def forward(f: Array[Double], l: Layout, xs: Array[Array[Double]],
      preZ: Array[Array[Double]], preR: Array[Array[Double]],
      preH: Array[Array[Double]], rhs: Array[Array[Double]]):
      (Array[Array[Double]], Array[Double]) = {
    val h = l.hidden; val d = l.embDim
    val hPrev = new Array[Double](h)
    val hs = if (preZ != null) Array.ofDim[Double](xs.length + 1, h) else null
    val rh = new Array[Double](h)
    var t = 0
    while (t < xs.length) {
      val x = xs(t)
      val gz = new Array[Double](h); val gr = new Array[Double](h)
      val gh = new Array[Double](h)
      var j = 0
      while (j < h) { gz(j) = f(l.bZ + j); gr(j) = f(l.bR + j); gh(j) = f(l.bH + j); j += 1 }
      var i = 0
      while (i < d) {
        val xi = x(i)
        if (xi != 0) {
          j = 0
          while (j < h) {
            gz(j) += xi * f(l.wZ + i * h + j); gr(j) += xi * f(l.wR + i * h + j)
            gh(j) += xi * f(l.wH + i * h + j)
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
            gz(j) += hi * f(l.uZ + i * h + j); gr(j) += hi * f(l.uR + i * h + j)
            j += 1
          }
        }
        i += 1
      }
      j = 0
      while (j < h) { rh(j) = hsig(gr(j)) * hPrev(j); j += 1 }
      i = 0
      while (i < h) {
        val ri = rh(i)
        if (ri != 0) {
          j = 0
          while (j < h) { gh(j) += ri * f(l.uH + i * h + j); j += 1 }
        }
        i += 1
      }
      if (preZ != null) {
        preZ(t) = gz; preR(t) = gr; preH(t) = gh; rhs(t) = rh.clone()
      }
      j = 0
      while (j < h) {
        val z = hsig(gz(j))
        hPrev(j) = z * hPrev(j) + (1 - z) * Fdlibm.tanh(gh(j))
        j += 1
      }
      if (hs != null) System.arraycopy(hPrev, 0, hs(t + 1), 0, h)
      t += 1
    }
    (hs, hPrev.clone())
  }

  /**
   * One example's loss, accumulating dL/dθ into `grad` (+=). BPTT through
   * the GRU with the standard masked-softmax-CE output gradient:
   *   d pre_z = dh ⊙ (h_{t-1} − c_t) ⊙ σ'(pre_z)
   *   d pre_c = dh ⊙ (1 − z_t) ⊙ (1 − c_t²)
   *   d(r⊙h)  = Uh^T · d pre_c
   *   d pre_r = d(r⊙h) ⊙ h_{t-1} ⊙ σ'(pre_r)
   *   dh_{t-1} = dh ⊙ z_t + d(r⊙h) ⊙ r_t + Uz^T·d pre_z + Ur^T·d pre_r
   */
  private def accumulate(f: Array[Double], l: Layout, retain: Double,
      seq: Array[Int], label: Int, mask: Array[Float], grad: Array[Double],
      truncate: Int): Double = {
    val h = l.hidden; val d = l.embDim
    val T = seq.length
    val tMin = FlatModel.windowStart(T, truncate)
    val emb = Array(l.emb)
    val chans = Array(seq)
    val xs = FlatModel.embed(f, emb, d, retain, chans)
    val preZ = new Array[Array[Double]](T); val preR = new Array[Array[Double]](T)
    val preH = new Array[Array[Double]](T); val rhs = new Array[Array[Double]](T)
    val (hs, hT) = forward(f, l, xs, preZ, preR, preH, rhs)
    val (loss, dh) = FlatModel.head(f, l.dense, l.denseB, l.relSize, hT, retain, label, mask, grad)

    // BPTT
    val dx = new Array[Double](d)
    val dzPre = new Array[Double](h)
    val dcPre = new Array[Double](h)
    val drh = new Array[Double](h)
    val drPre = new Array[Double](h)
    var t = T - 1
    while (t >= tMin) {
      val hPrev = hs(t) // hs is shifted: hs(t) == h_{t-1}
      val gz = preZ(t); val gr = preR(t); val gh = preH(t); val rh = rhs(t)
      java.util.Arrays.fill(dx, 0.0)
      java.util.Arrays.fill(drh, 0.0)
      val dhNext = new Array[Double](h)
      var k = 0
      while (k < h) {
        val c = Fdlibm.tanh(gh(k))
        val z = hsig(gz(k))
        dzPre(k) = dh(k) * (hPrev(k) - c) * hsigGrad(gz(k))
        dcPre(k) = dh(k) * (1 - z) * (1 - c * c)
        dhNext(k) += dh(k) * z // direct carry through the update gate
        k += 1
      }
      // d(r⊙h) = Uh^T · d pre_c, and Uh's own gradient from rh ⊗ d pre_c
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
      while (k < h) {
        val rGate = hsig(gr(k))
        drPre(k) = drh(k) * hPrev(k) * hsigGrad(gr(k))
        dhNext(k) += drh(k) * rGate // reset gate passes h_{t-1} through
        k += 1
      }
      // W/U/b gradients + dx + dhPrev through Uz/Ur
      k = 0
      while (k < h) {
        grad(l.bZ + k) += dzPre(k); grad(l.bR + k) += drPre(k); grad(l.bH + k) += dcPre(k)
        i = 0
        while (i < d) {
          val xi = xs(t)(i)
          grad(l.wZ + i * h + k) += xi * dzPre(k)
          grad(l.wR + i * h + k) += xi * drPre(k)
          grad(l.wH + i * h + k) += xi * dcPre(k)
          dx(i) += f(l.wZ + i * h + k) * dzPre(k) + f(l.wR + i * h + k) * drPre(k) +
                   f(l.wH + i * h + k) * dcPre(k)
          i += 1
        }
        i = 0
        while (i < h) {
          val hi = hPrev(i)
          grad(l.uZ + i * h + k) += hi * dzPre(k)
          grad(l.uR + i * h + k) += hi * drPre(k)
          dhNext(i) += f(l.uZ + i * h + k) * dzPre(k) + f(l.uR + i * h + k) * drPre(k)
          i += 1
        }
        k += 1
      }
      FlatModel.scatter(grad, emb, d, retain, chans, t, dx) // x = emb[w] * retain
      System.arraycopy(dhNext, 0, dh, 0, h)
      t -= 1
    }
    loss
  }
}
