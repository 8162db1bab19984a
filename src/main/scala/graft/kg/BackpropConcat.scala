package graft.kg

import Trainer.{ChanRow, SeqRow}

/**
 * Full-model gradient kernel for the multi-channel, 2-LAYER LSTM sentence
 * models — exactly [[Models.ZooScorer]]'s wiring in double precision:
 * per-channel embedding tables, inputs concatenated to an nCh×embDim
 * vector, TWO stacked [[LstmLayer]]s with inter-layer dropout (layer-1
 * states scaled by `retain` between layers), dense readout.
 *
 *  - [[model]] is the `concat` config: four channels (word/ner/pos/arc
 *    over the dependency path, [[ConcatenatedDependencyFeaturizer]]).
 *  - [[stacked]] is the `single` config (models.py:99-116 stacks two
 *    recurrent layers before the dense readout): the same kernel with one
 *    word channel.
 *
 * Layer 2 consumes EVERY state of layer 1, so layer 1's BPTT receives a
 * gradient at every t. Pinned by the central finite-difference checks in
 * BackpropSpec (4-channel and stacked).
 */
object BackpropConcat {

  /** Seeded-init salts: the 4-channel and the stacked model start from
    * distinct tensors, like distinct zoo configs. */
  private val ConcatSalt = 477L
  private val StackSalt = 277L

  /** L2 weight decay on the concat readout W (models.py:68, `l2(config.reg)`
    * on dense2 only). */
  val DenseReg = 1e-4

  /** Channel vocab sizes follow Models.get for `concat`:
    * word/ner/pos/arc with pos+arc bounded by the word table. */
  final case class Layout(chSizes: Array[Int], embDim: Int, h1: Int, h2: Int, relSize: Int) {
    val nCh: Int = chSizes.length
    private var cursor = 0
    private def alloc(n: Int): Int = { val o = cursor; cursor += n; o }
    val emb: Array[Int] = chSizes.map(v => alloc(v * embDim))
    val l1 = LstmLayer.Cell(cursor, embDim * nCh, h1)
    val l2 = LstmLayer.Cell(l1.end, h1, h2)
    val dense: Int = l2.end
    val denseB: Int = dense + h2 * relSize
    val total: Int = denseB + relSize
  }

  /** The concat config's 4-channel layout for a bundle. */
  def layoutOf(b: Pipeline.ScoringBundle): Layout =
    Layout(Array(b.word.size, b.ner.size, b.word.size, b.word.size),
      b.weights.embDim, b.weights.hidden, b.weights.hidden, b.rel.size)

  /** The `single` config's one-channel (word) layout for a bundle. */
  def stackLayoutOf(b: Pipeline.ScoringBundle): Layout =
    Layout(Array(b.word.size), b.weights.embDim, b.weights.hidden, b.weights.hidden, b.rel.size)

  /** The 4-channel concat model over [[ChanRow]]s. */
  def model(l: Layout, seed: Long = 42L, truncate: Int = 50): FlatModel[ChanRow] =
    kernel[ChanRow](l, seed, ConcatSalt, truncate)(r => Array(r.words, r.ner, r.pos, r.arc))

  /** The 2-layer stacked LSTM over word sequences: this kernel with one
    * channel. */
  def stacked(l: Layout, seed: Long = 42L, truncate: Int = 50): FlatModel[SeqRow] = {
    require(l.nCh == 1, s"stacked model takes one channel, got ${l.nCh}")
    kernel[SeqRow](l, seed, StackSalt, truncate)(r => Array(r.sequence))
  }

  private def kernel[R <: LabeledRow](l: Layout, seed: Long, salt: Long, truncate: Int)(
      chans: R => Array[Array[Int]]): FlatModel[R] = new FlatModel[R] {
    def total: Int = l.total
    def denseRange: (Int, Int) = (l.dense, l.denseB)
    def start: Array[Double] = FlatModel.seeded(l.total, seed, salt)(
      l.emb.toSeq.zip(l.chSizes).map { case (o, v) => (o, v * l.embDim, 0.5) } ++
        l.l1.initTensors ++ l.l2.initTensors ++
        Seq((l.dense, l.h2 * l.relSize, 0.5), (l.denseB, l.relSize, 0.1)))

    def logits(f: Array[Double], retain: Double, row: R): Array[Double] = {
      val xs = FlatModel.embed(f, l.emb, l.embDim, retain, chans(row))
      val s1 = LstmLayer.forward(f, l.l1, xs)
      val s2 = LstmLayer.forward(f, l.l2, s1.map(_.map(_ * retain)))
      FlatModel.readout(f, l.dense, l.denseB, l.relSize, FlatModel.last(s2, l.h2), retain)
    }

    def accumulate(f: Array[Double], retain: Double, row: R, mask: Array[Float],
        grad: Array[Double]): Double = {
      val ch = chans(row)
      val T = ch(0).length
      val tMin = FlatModel.windowStart(T, truncate)
      val xs = FlatModel.embed(f, l.emb, l.embDim, retain, ch)
      val tr1 = new LstmLayer.Trace(T)
      val s1 = LstmLayer.forward(f, l.l1, xs, tr1)
      val scaled = s1.map(_.map(_ * retain)) // inter-layer dropout scale
      val tr2 = new LstmLayer.Trace(T)
      val s2 = LstmLayer.forward(f, l.l2, scaled, tr2)
      val (loss, dh) = FlatModel.head(f, l.dense, l.denseB, l.relSize,
        FlatModel.last(s2, l.h2), retain, row.label, mask, grad)
      // layer 2 backward → gradient wrt the SCALED layer-1 states
      val dScaled = LstmLayer.backwardFromLast(f, l.l2, scaled, s2, tr2, dh, grad, tMin)
      // undo the inter-layer dropout scale: d s1 = d scaled * retain
      val dStates1 = dScaled.map(_.map(_ * retain))
      // layer 1 backward → gradient wrt the scaled embeddings (both scans
      // truncate at the same window, matching per-RNN truncate_gradient)
      val dXs = LstmLayer.backward(f, l.l1, xs, s1, tr1, dStates1, grad, tMin)
      var t = tMin
      while (t < T) { FlatModel.scatter(grad, l.emb, l.embDim, retain, ch, t, dXs(t)); t += 1 }
      loss
    }
  }
}
