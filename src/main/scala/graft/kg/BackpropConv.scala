package graft.kg

import Trainer.SeqRow

/**
 * Full-model gradient kernel for the `single_conv` topology —
 * Convolution1D(filterLen 3, valid) → tanh → MaxPooling1D(2) → LSTM →
 * dense, mirroring [[Models.ZooScorer]]'s conv path in double precision
 * (models.py's conv config; the zoo's degenerate-length rules included:
 * odd trailing conv frame dropped by the pool, pooled-empty falls back to
 * the first conv frame, and sequences shorter than the filter feed a
 * single zero frame to the LSTM).
 *
 * Backward: dense → LSTM ([[LstmLayer.backwardFromLast]], gradient only
 * at the last state) → max-pool routing (each pooled element's gradient
 * flows to the argmax frame; first-wins on ties, matching forward's
 * math.max evaluation) → tanh' → conv filter/bias/input gradients →
 * embeddings. Pinned by the central finite-difference check in
 * BackpropSpec, including the degenerate lengths.
 */
object BackpropConv {

  final case class Layout(vocab: Int, embDim: Int, convOut: Int, h2: Int, relSize: Int) {
    val filterLen = 3
    val emb = 0
    private var cursor = vocab * embDim
    private def alloc(n: Int): Int = { val o = cursor; cursor += n; o }
    /** filter k's weight block (embDim × convOut), k in 0..filterLen-1 */
    val w: Array[Int] = Array.fill(filterLen)(alloc(embDim * convOut))
    val cBias = alloc(convOut)
    val cell = LstmLayer.Cell(cursor, convOut, h2)
    val dense = cell.end
    val denseB = dense + h2 * relSize
    val total: Int = denseB + relSize
  }

  def layoutOf(b: Pipeline.ScoringBundle): Layout =
    Layout(b.word.size, b.weights.embDim, b.weights.hidden, b.weights.hidden, b.rel.size)

  /** The conv topology as a [[FlatModel]], starting from the seeded
    * fixture (same scheme as the siblings). */
  def model(l: Layout, seed: Long = 42L): FlatModel[SeqRow] = new FlatModel[SeqRow] {
    def total: Int = l.total
    def denseRange: (Int, Int) = (l.dense, l.denseB)
    def start: Array[Double] = FlatModel.seeded(l.total, seed, 377L)(
      Seq((l.emb, l.vocab * l.embDim, 0.5)) ++
        l.w.toSeq.map((_, l.embDim * l.convOut, 0.3)) ++
        Seq((l.cBias, l.convOut, 0.1)) ++ l.cell.initTensors ++
        Seq((l.dense, l.h2 * l.relSize, 0.5), (l.denseB, l.relSize, 0.1)))
    def logits(f: Array[Double], retain: Double, row: SeqRow): Array[Double] = {
      val xs = FlatModel.embed(f, Array(l.emb), l.embDim, retain, Array(row.sequence))
      val (pooled, _) = poolForward(convForward(f, l, xs), l.convOut)
      val states = LstmLayer.forward(f, l.cell, pooled)
      FlatModel.readout(f, l.dense, l.denseB, l.relSize, FlatModel.last(states, l.h2), retain)
    }
    def accumulate(f: Array[Double], retain: Double, row: SeqRow, mask: Array[Float],
        grad: Array[Double]): Double = BackpropConv.accumulate(f, l, retain, row, mask, grad)
  }

  /** Conv frames POST-tanh (length max(0, T - filterLen + 1)). */
  private def convForward(f: Array[Double], l: Layout,
      xs: Array[Array[Double]]): Array[Array[Double]] = {
    val co = l.convOut; val d = l.embDim
    Array.tabulate(math.max(0, xs.length - l.filterLen + 1)) { t =>
      val y = new Array[Double](co)
      var j = 0
      while (j < co) { y(j) = f(l.cBias + j); j += 1 }
      var k = 0
      while (k < l.filterLen) {
        val x = xs(t + k)
        val off = l.w(k)
        var i = 0
        while (i < d) {
          val xi = x(i)
          if (xi != 0) {
            j = 0
            while (j < co) { y(j) += xi * f(off + i * co + j); j += 1 }
          }
          i += 1
        }
        k += 1
      }
      j = 0
      while (j < co) { y(j) = Fdlibm.tanh(y(j)); j += 1 }
      y
    }
  }

  /** Pool frames + the zoo's degenerate-length fallbacks; also returns,
    * per pooled frame, which conv frame won each element (for backward),
    * or null when the frame is a fallback/zero frame. */
  private def poolForward(conv: Array[Array[Double]], co: Int):
      (Array[Array[Double]], Array[Array[Int]]) = {
    val nPool = conv.length / 2
    if (nPool > 0) {
      val out = Array.ofDim[Double](nPool, co)
      val arg = Array.ofDim[Int](nPool, co)
      var t = 0
      while (t < nPool) {
        val a = conv(2 * t); val b = conv(2 * t + 1)
        var j = 0
        while (j < co) {
          // math.max(a, b): a wins ties — backward routes to a on ties
          if (a(j) >= b(j)) { out(t)(j) = a(j); arg(t)(j) = 2 * t }
          else { out(t)(j) = b(j); arg(t)(j) = 2 * t + 1 }
          j += 1
        }
        t += 1
      }
      (out, arg)
    } else if (conv.nonEmpty) {
      // pooled empty → first conv frame passes straight through
      (Array(conv(0).clone()), Array(Array.fill(co)(0)))
    } else {
      (Array(new Array[Double](co)), null) // T < filterLen → zero frame
    }
  }

  /** One example's loss, accumulating dL/dθ into `grad` (+=). */
  private def accumulate(f: Array[Double], l: Layout, retain: Double, row: SeqRow,
      mask: Array[Float], grad: Array[Double]): Double = {
    val co = l.convOut
    val emb = Array(l.emb)
    val chans = Array(row.sequence)
    val xs = FlatModel.embed(f, emb, l.embDim, retain, chans)
    val conv = convForward(f, l, xs)
    val (pooled, arg) = poolForward(conv, co)
    val T2 = pooled.length
    val trace = new LstmLayer.Trace(T2)
    val states = LstmLayer.forward(f, l.cell, pooled, trace)
    val (loss, dh) = FlatModel.head(f, l.dense, l.denseB, l.relSize, states(T2 - 1), retain,
      row.label, mask, grad)

    // LSTM backward → gradient wrt the pooled frames
    val dPooled = LstmLayer.backwardFromLast(f, l.cell, pooled, states, trace, dh, grad)

    // route pooled gradients back to conv frames
    val dConv = Array.ofDim[Double](conv.length, co)
    if (arg != null) {
      var t = 0
      while (t < T2) {
        var k = 0
        while (k < co) { dConv(arg(t)(k))(k) += dPooled(t)(k); k += 1 }
        t += 1
      }
    } // else: zero frame — nothing flows into the conv
    // conv backward: through tanh, filters, bias, inputs → embeddings
    if (conv.nonEmpty) {
      val d = l.embDim
      val dXs = Array.ofDim[Double](xs.length, d)
      var t = 0
      while (t < conv.length) {
        var j2 = 0
        while (j2 < co) {
          val out = conv(t)(j2)
          val g = dConv(t)(j2) * (1 - out * out) // tanh'
          if (g != 0) {
            grad(l.cBias + j2) += g
            var k = 0
            while (k < l.filterLen) {
              val x = xs(t + k)
              val off = l.w(k)
              var i = 0
              while (i < d) {
                grad(off + i * co + j2) += x(i) * g
                dXs(t + k)(i) += f(off + i * co + j2) * g
                i += 1
              }
              k += 1
            }
          }
          j2 += 1
        }
        t += 1
      }
      t = 0
      while (t < xs.length) { FlatModel.scatter(grad, emb, d, retain, chans, t, dXs(t)); t += 1 }
    }
    loss
  }
}
