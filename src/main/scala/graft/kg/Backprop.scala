package graft.kg

import Trainer.SeqRow

/**
 * Full-model gradient kernel for the `single_small` sentence model — the
 * backprop-through-everything counterpart of the frozen-encoder readout
 * trainer, closing the reference's full training surface (train.py trains
 * embeddings + LSTM + dense end to end via Keras; models.py:99-116).
 *
 * Pure JVM math, double precision throughout (the float inference kernel in
 * [[Scorer]] stays untouched): one [[LstmLayer]] with test-time dropout as
 * a constant `retain` scale on the embedding output and the final hidden
 * state, matching Scorer.logits, under the shared [[FlatModel.head]]
 * (masked filtered cross-entropy, data/typecheck.py:28-39). Training
 * starts from the bundle's frozen fixture weights rather than a seeded
 * init. Gradient correctness is pinned by a central finite-difference
 * check in BackpropSpec (1e-6 step, double precision).
 */
object Backprop {

  /** Offsets into the flat parameter/gradient vector. Order mirrors
    * [[Experiments.writeWeights]]: embedding, then the 4 LSTM gates'
    * (W, U, b) in i/f/c/o order, then dense + bias. */
  final case class Layout(vocab: Int, embDim: Int, hidden: Int, relSize: Int) {
    val emb = 0
    val cell = LstmLayer.Cell(vocab * embDim, embDim, hidden)
    val dense: Int = cell.end
    val denseB: Int = dense + hidden * relSize
    val total: Int = denseB + relSize
  }

  def layoutOf(w: ScorerWeights): Layout =
    Layout(w.embedding.length, w.embDim, w.hidden, w.relSize)

  def flatten(w: ScorerWeights): Array[Double] = {
    val l = layoutOf(w)
    val f = new Array[Double](l.total)
    var k = 0
    def mat(m: Array[Array[Float]]): Unit =
      m.foreach(row => row.foreach { v => f(k) = v.toDouble; k += 1 })
    def vec(v: Array[Float]): Unit = v.foreach { x => f(k) = x.toDouble; k += 1 }
    mat(w.embedding)
    mat(w.wI); mat(w.uI); vec(w.bI)
    mat(w.wF); mat(w.uF); vec(w.bF)
    mat(w.wC); mat(w.uC); vec(w.bC)
    mat(w.wO); mat(w.uO); vec(w.bO)
    mat(w.dense); vec(w.denseB)
    f
  }

  def unflatten(f: Array[Double], l: Layout, dropout: Float): ScorerWeights = {
    var k = 0
    def mat(rows: Int, cols: Int): Array[Array[Float]] =
      Array.fill(rows)(Array.fill(cols) { val v = f(k).toFloat; k += 1; v })
    def vec(n: Int): Array[Float] = Array.fill(n) { val v = f(k).toFloat; k += 1; v }
    ScorerWeights(
      embedding = mat(l.vocab, l.embDim),
      wI = mat(l.embDim, l.hidden), uI = mat(l.hidden, l.hidden), bI = vec(l.hidden),
      wF = mat(l.embDim, l.hidden), uF = mat(l.hidden, l.hidden), bF = vec(l.hidden),
      wC = mat(l.embDim, l.hidden), uC = mat(l.hidden, l.hidden), bC = vec(l.hidden),
      wO = mat(l.embDim, l.hidden), uO = mat(l.hidden, l.hidden), bO = vec(l.hidden),
      dense = mat(l.hidden, l.relSize), denseB = vec(l.relSize),
      dropout = dropout)
  }

  /** The LSTM as a [[FlatModel]], starting from `w`. */
  def model(w: ScorerWeights, truncate: Int = 50): FlatModel[SeqRow] =
    new Model(layoutOf(w), flatten(w), truncate)

  private final class Model(l: Layout, @transient init: Array[Double], truncate: Int)
      extends FlatModel[SeqRow] {
    def total: Int = l.total
    def denseRange: (Int, Int) = (l.dense, l.denseB)
    def start: Array[Double] = init
    def logits(f: Array[Double], retain: Double, row: SeqRow): Array[Double] =
      Backprop.logits(f, l, retain, row.sequence)
    def accumulate(f: Array[Double], retain: Double, row: SeqRow, mask: Array[Float],
        grad: Array[Double]): Double = {
      val seq = row.sequence
      val T = seq.length
      val chans = Array(seq)
      val emb = Array(l.emb)
      val xs = FlatModel.embed(f, emb, l.embDim, retain, chans)
      val trace = new LstmLayer.Trace(T)
      val states = LstmLayer.forward(f, l.cell, xs, trace)
      val (loss, dh) = FlatModel.head(f, l.dense, l.denseB, l.relSize,
        FlatModel.last(states, l.hidden), retain, row.label, mask, grad)
      val tMin = FlatModel.windowStart(T, truncate)
      val dXs = LstmLayer.backwardFromLast(f, l.cell, xs, states, trace, dh, grad, tMin)
      // embedding gradient (x = emb[w] * retain), scattered in descending t
      var t = T - 1
      while (t >= tMin) { FlatModel.scatter(grad, emb, l.embDim, retain, chans, t, dXs(t)); t -= 1 }
      loss
    }
  }

  /** Forward only: readout logits for one sequence. */
  def logits(f: Array[Double], l: Layout, retain: Double, seq: Array[Int]): Array[Double] =
    FlatModel.readout(f, l.dense, l.denseB, l.relSize,
      FlatModel.last(run(f, l, retain, seq), l.hidden), retain)

  private def run(f: Array[Double], l: Layout, retain: Double, seq: Array[Int],
      trace: LstmLayer.Trace = null, h0: Array[Double] = null,
      c0: Array[Double] = null): Array[Array[Double]] =
    LstmLayer.forward(f, l.cell,
      FlatModel.embed(f, Array(l.emb), l.embDim, retain, Array(seq)), trace, h0, c0)

  /** State (h, c) after the first `tCut` steps from the zero state —
    * FD support for the truncation semantics: the truncated gradient is
    * the exact gradient of [[lossFromState]] with this window-entry state
    * detached (held constant), which this pair of helpers lets a test
    * evaluate numerically. */
  private[kg] def stateAt(f: Array[Double], l: Layout, retain: Double,
      seq: Array[Int], tCut: Int): (Array[Double], Array[Double]) = {
    val trace = new LstmLayer.Trace(tCut)
    val states = run(f, l, retain, seq.take(tCut), trace)
    if (tCut == 0) (new Array[Double](l.hidden), new Array[Double](l.hidden))
    else (states(tCut - 1), trace.cs(tCut - 1))
  }

  /** Loss of the readout over the suffix run from a FIXED (detached)
    * initial state — the function whose exact gradient the truncated
    * model's `accumulate` computes. */
  private[kg] def lossFromState(f: Array[Double], l: Layout, retain: Double,
      suffix: Array[Int], label: Int, mask: Array[Float],
      h0: Array[Double], c0: Array[Double]): Double = {
    val states = run(f, l, retain, suffix, null, h0, c0)
    val hT = if (states.isEmpty) h0 else states(states.length - 1)
    FlatModel.lossGrad(FlatModel.readout(f, l.dense, l.denseB, l.relSize, hT, retain),
      label, mask)._1
  }
}
