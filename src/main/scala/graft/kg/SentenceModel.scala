package graft.kg

import Trainer.{ChanRow, SeqRow}

/** One recurrent layer of a [[SentenceModel]] over its slice of the flat
  * parameter vector: [[LstmLayer.Cell]] or [[GatedLayer.Cell]]. */
trait Recurrent extends Serializable {
  /** The per-step forward caches [[backward]] reads. */
  type Trace >: Null <: AnyRef
  /** One past the layer's last tensor. */
  def end: Int
  /** (offset, length, scale) of every tensor in seeded-init order. */
  def initTensors: Seq[(Int, Int, Double)]
  def trace(n: Int): Trace
  /** Every state h_t (T × hidden) over `xs` from the zero state; fills
    * `trace` when non-null. */
  def forward(f: Array[Double], xs: Array[Array[Double]], trace: Trace = null): Array[Array[Double]]
  /** BPTT over t >= tMin (theano scan truncation: the state entering the
    * window is a constant) with the incoming gradient `dStates(t)` on every
    * h_t (zero rows where nothing flows in), because a stacked layer
    * consumes every state of the layer below. Accumulates the layer's
    * tensor gradients into `grad` (+=) and returns dXs, the gradient wrt
    * the inputs at every t (zero rows before tMin). `states` and `trace`
    * come from [[forward]]. */
  def backward(f: Array[Double], xs: Array[Array[Double]], states: Array[Array[Double]],
      trace: Trace, dStates: Array[Array[Double]], grad: Array[Double],
      tMin: Int): Array[Array[Double]]
}

/**
 * The zoo's sentence model (models.py:42-143) over ONE flat
 * `Array[Double]` parameter vector, in double precision with backprop
 * through everything — the model [[Trainer.trainFull]] trains (the
 * reference's train.py trains whatever `get_model` returns, models.py:19-30).
 * A flat vector lets the trainer sum per-partition gradients with a single
 * array add; the whole model is ~10^4 parameters (~80 KB) regardless of
 * corpus size. It mirrors [[Models.ZooScorer]]'s wiring:
 *
 *  - per-channel embedding tables, concatenated to an nCh×embDim input and
 *    scaled by `retain` (test-time dropout);
 *  - an optional Convolution1D(filterLen 3, valid) → tanh → MaxPooling1D(2)
 *    front with the zoo's degenerate-length rules (the odd trailing conv
 *    frame is dropped by the pool, an empty pool falls back to the first
 *    conv frame, and a sequence shorter than the filter feeds one zero
 *    frame); its backward routes each pooled element's gradient to the
 *    argmax frame, first-wins on ties like the forward's comparison;
 *  - one or two [[Recurrent]] layers, the states between two scaled by
 *    `retain` (inter-layer dropout); each layer truncates its BPTT
 *    `truncate` steps from its end (0 = full BPTT);
 *  - the shared [[FlatModel.head]] on the last state (× `retain`).
 *
 * Embedding gradients are scattered in descending t. The constructors in
 * the companion build the LSTM, GRU/MUT1-3, stacked, conv and concat
 * models; each is pinned by a central finite-difference check and a
 * raw-bits digest in BackpropSpec.
 */
final class SentenceModel[R <: LabeledRow](l: SentenceModel.Layout[_ <: Recurrent],
    truncate: Int, @transient init: Array[Double])(chans: R => Array[Array[Int]])
    extends Serializable {
  /** Length of the flat parameter (and gradient) vector. */
  def total: Int = l.total
  /** Flat [start, end) slice of the readout weight MATRIX (bias excluded)
    * — the parameters the reference's `l2(config.reg)` regularizes
    * (models.py:68: only dense2's W carries a W_regularizer). */
  def denseRange: (Int, Int) = (l.dense, l.denseB)
  /** Parameters training starts from (read on the driver only). */
  def start: Array[Double] = init.clone()

  /** Forward only: the unmasked readout logits for one row. */
  def logits(f: Array[Double], retain: Double, row: R): Array[Double] = {
    var s = FlatModel.embed(f, l.emb, l.embDim, retain, chans(row))
    if (l.convOut > 0) s = pool(conv(f, s))._1
    l.layers.zipWithIndex.foreach { case (layer, i) =>
      s = layer.forward(f, if (i == 0) s else s.map(_.map(_ * retain)))
    }
    FlatModel.readout(f, l.dense, l.denseB, l.relSize, FlatModel.last(s, l.hidden), retain)
  }

  /** One row's filtered cross-entropy loss, accumulating dL/dθ into
    * `grad` (+=). */
  def accumulate(f: Array[Double], retain: Double, row: R, mask: Array[Float],
      grad: Array[Double]): Double = {
    val ch = chans(row)
    val xs = FlatModel.embed(f, l.emb, l.embDim, retain, ch)
    val (loss, dXs) =
      if (l.convOut == 0) through(0, f, retain, xs, row.label, mask, grad)
      else {
        val frames = conv(f, xs)
        val (pooled, arg) = pool(frames)
        val (loss, dPooled) = through(0, f, retain, pooled, row.label, mask, grad)
        (loss, convBackward(f, xs, frames, arg, dPooled, grad))
      }
    var t = xs.length - 1
    while (t >= 0) { FlatModel.scatter(grad, l.emb, l.embDim, retain, ch, t, dXs(t)); t -= 1 }
    loss
  }

  /** Layers i.. over `xs`, then the head: (loss, dL/dxs). */
  private def through(i: Int, f: Array[Double], retain: Double, xs: Array[Array[Double]],
      label: Int, mask: Array[Float], grad: Array[Double]): (Double, Array[Array[Double]]) = {
    val layer = l.layers(i)
    val trace = layer.trace(xs.length)
    val states = layer.forward(f, xs, trace)
    val (loss, dStates) =
      if (i == l.layers.length - 1) {
        val (loss, dh) = FlatModel.head(f, l.dense, l.denseB, l.relSize,
          FlatModel.last(states, l.hidden), retain, label, mask, grad)
        val d = Array.ofDim[Double](xs.length, l.hidden)
        if (xs.nonEmpty) d(xs.length - 1) = dh
        (loss, d)
      } else {
        val (loss, dScaled) = through(i + 1, f, retain, states.map(_.map(_ * retain)),
          label, mask, grad)
        (loss, dScaled.map(_.map(_ * retain))) // d states = d scaled · retain
      }
    (loss, layer.backward(f, xs, states, trace, dStates, grad,
      FlatModel.windowStart(xs.length, truncate)))
  }

  /** Conv frames POST-tanh (length max(0, T - filterLen + 1)). */
  private def conv(f: Array[Double], xs: Array[Array[Double]]): Array[Array[Double]] = {
    val co = l.convOut; val d = l.width
    Array.tabulate(math.max(0, xs.length - l.filter.length + 1)) { t =>
      val y = new Array[Double](co)
      var j = 0
      while (j < co) { y(j) = f(l.convB + j); j += 1 }
      var k = 0
      while (k < l.filter.length) {
        val x = xs(t + k)
        val off = l.filter(k)
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
    * or null when the frame is the zero frame. */
  private def pool(frames: Array[Array[Double]]): (Array[Array[Double]], Array[Array[Int]]) = {
    val co = l.convOut
    val nPool = frames.length / 2
    if (nPool > 0) {
      val out = Array.ofDim[Double](nPool, co)
      val arg = Array.ofDim[Int](nPool, co)
      var t = 0
      while (t < nPool) {
        val a = frames(2 * t); val b = frames(2 * t + 1)
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
    } else if (frames.nonEmpty) {
      // pooled empty → first conv frame passes straight through
      (Array(frames(0).clone()), Array(Array.fill(co)(0)))
    } else {
      (Array(new Array[Double](co)), null) // T < filterLen → zero frame
    }
  }

  /** Routes the pooled gradients back to the conv frames, then through
    * tanh, filters and bias (+= into `grad`); returns dL/dxs. */
  private def convBackward(f: Array[Double], xs: Array[Array[Double]],
      frames: Array[Array[Double]], arg: Array[Array[Int]], dPooled: Array[Array[Double]],
      grad: Array[Double]): Array[Array[Double]] = {
    val co = l.convOut; val d = l.width
    val dConv = Array.ofDim[Double](frames.length, co)
    if (arg != null) {
      var t = 0
      while (t < dPooled.length) {
        var k = 0
        while (k < co) { dConv(arg(t)(k))(k) += dPooled(t)(k); k += 1 }
        t += 1
      }
    } // else: zero frame — nothing flows into the conv
    val dXs = Array.ofDim[Double](xs.length, d)
    var t = 0
    while (t < frames.length) {
      var j2 = 0
      while (j2 < co) {
        val out = frames(t)(j2)
        val g = dConv(t)(j2) * (1 - out * out) // tanh'
        if (g != 0) {
          grad(l.convB + j2) += g
          var k = 0
          while (k < l.filter.length) {
            val x = xs(t + k)
            val off = l.filter(k)
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
    dXs
  }
}

object SentenceModel {

  /** Offsets into the flat parameter/gradient vector, in this order: one
    * embedding table per channel (`chSizes` rows each), the conv front's
    * three filter blocks (width × convOut) and bias when convOut > 0, one
    * layer `cell(offset, inDim, hidden)` per entry of `hiddens`, then dense
    * + bias. */
  final class Layout[C <: Recurrent](val chSizes: Seq[Int], val embDim: Int, hiddens: Seq[Int],
      val relSize: Int, val convOut: Int = 0)(cell: (Int, Int, Int) => C) extends Serializable {
    require(hiddens.length == 1 || hiddens.length == 2, s"${hiddens.length} layers")
    private var cursor = 0
    private def alloc(n: Int): Int = { val o = cursor; cursor += n; o }
    /** The input width: embDim per channel. */
    val width: Int = embDim * chSizes.length
    val emb: Array[Int] = chSizes.map(v => alloc(v * embDim)).toArray
    val filter: Array[Int] = Array.fill(if (convOut > 0) 3 else 0)(alloc(width * convOut))
    val convB: Int = if (convOut > 0) alloc(convOut) else -1
    val layers: Seq[C] = {
      var in = if (convOut > 0) convOut else width
      hiddens.map { h => val c = cell(cursor, in, h); cursor = c.end; in = h; c }
    }
    val hidden: Int = hiddens.last
    val dense: Int = alloc(hidden * relSize)
    val denseB: Int = alloc(relSize)
    val total: Int = cursor

    /** (offset, length, scale) of every tensor in seeded-init order. */
    def initTensors: Seq[(Int, Int, Double)] =
      emb.toSeq.zip(chSizes).map { case (o, v) => (o, v * embDim, 0.5) } ++
        filter.toSeq.map((_, width * convOut, 0.3)) ++
        (if (convOut > 0) Seq((convB, convOut, 0.1)) else Nil) ++
        layers.flatMap(_.initTensors) ++
        Seq((dense, hidden * relSize, 0.5), (denseB, relSize, 0.1))
  }

  /** An LSTM layout: the LSTM, stacked, conv and concat models. */
  def lstmLayout(chSizes: Seq[Int], embDim: Int, hiddens: Seq[Int], relSize: Int,
      convOut: Int = 0): Layout[LstmLayer.Cell] =
    new Layout(chSizes, embDim, hiddens, relSize, convOut)(LstmLayer.Cell)

  /** One gated layer of `kind` ([[GatedLayer.Gru]] or MUT1-3) over one
    * word channel. */
  def gatedLayout(kind: Int, vocab: Int, embDim: Int, hidden: Int,
      relSize: Int): Layout[GatedLayer.Cell] =
    new Layout(Seq(vocab), embDim, Seq(hidden), relSize)(GatedLayer.Cell(kind, _, _, _))

  /** The zoo layouts at a bundle's vocabularies, embDim and hidden width:
    * `single_small` over one gated layer, `single` (two LSTM layers),
    * `single_conv` (conv front of hidden filters, one LSTM layer) and
    * `concat` (word/ner/pos/arc channels, pos and arc bounded by the word
    * table as in Models.get, two LSTM layers). */
  def gatedLayoutOf(b: Pipeline.ScoringBundle, kind: Int): Layout[GatedLayer.Cell] =
    gatedLayout(kind, b.word.size, b.weights.embDim, b.weights.hidden, b.rel.size)
  def stackedLayoutOf(b: Pipeline.ScoringBundle): Layout[LstmLayer.Cell] =
    lstmLayout(Seq(b.word.size), b.weights.embDim, Seq.fill(2)(b.weights.hidden), b.rel.size)
  def convLayoutOf(b: Pipeline.ScoringBundle): Layout[LstmLayer.Cell] =
    lstmLayout(Seq(b.word.size), b.weights.embDim, Seq(b.weights.hidden), b.rel.size,
      convOut = b.weights.hidden)
  def concatLayoutOf(b: Pipeline.ScoringBundle): Layout[LstmLayer.Cell] =
    lstmLayout(Seq(b.word.size, b.ner.size, b.word.size, b.word.size), b.weights.embDim,
      Seq.fill(2)(b.weights.hidden), b.rel.size)

  /** L2 weight decay on the concat readout W (models.py:68, `l2(config.reg)`
    * on dense2 only): pass it as [[Trainer.trainFull]]'s `reg`. */
  val DenseReg = 1e-4

  private def words(r: SeqRow): Array[Array[Int]] = Array(r.sequence)

  private def seeded[R <: LabeledRow](l: Layout[_ <: Recurrent], seed: Long, salt: Long,
      streamBase: Int, truncate: Int)(chans: R => Array[Array[Int]]): SentenceModel[R] =
    new SentenceModel(l, truncate,
      FlatModel.seeded(l.total, seed, salt, streamBase)(l.initTensors))(chans)

  /** The `single_small` LSTM, starting from the bundle's frozen weights. */
  def lstm(w: ScorerWeights, truncate: Int = 50): SentenceModel[SeqRow] =
    new SentenceModel(lstmLayoutOf(w), truncate, flatten(w))(words)

  /** The `single_small` layout of the bundle's weights ([[ScorerWeights]]):
    * one word channel, one LSTM layer. */
  def lstmLayoutOf(w: ScorerWeights): Layout[LstmLayer.Cell] =
    lstmLayout(Seq(w.embedding.length), w.embDim, Seq(w.hidden), w.relSize)

  /** `w` as a flat vector, each tensor at its [[lstmLayoutOf]] offset. */
  def flatten(w: ScorerWeights): Array[Double] = {
    val l = lstmLayoutOf(w); val c = l.layers.head
    val f = new Array[Double](l.total)
    def put(off: Int, rows: Array[Array[Float]]): Unit = {
      var k = off
      rows.foreach(_.foreach { v => f(k) = v.toDouble; k += 1 })
    }
    put(l.emb(0), w.embedding)
    put(c.wI, w.wI); put(c.uI, w.uI); put(c.bI, Array(w.bI))
    put(c.wF, w.wF); put(c.uF, w.uF); put(c.bF, Array(w.bF))
    put(c.wC, w.wC); put(c.uC, w.uC); put(c.bC, Array(w.bC))
    put(c.wO, w.wO); put(c.uO, w.uO); put(c.bO, Array(w.bO))
    put(l.dense, w.dense); put(l.denseB, Array(w.denseB))
    f
  }

  /** The float weights [[flatten]] laid out, read back from `f`. */
  def unflatten(f: Array[Double], l: Layout[LstmLayer.Cell], dropout: Float): ScorerWeights = {
    val c = l.layers.head; val d = c.inDim; val h = l.hidden
    def vec(off: Int, n: Int): Array[Float] = Array.tabulate(n)(j => f(off + j).toFloat)
    def mat(off: Int, rows: Int, cols: Int): Array[Array[Float]] =
      Array.tabulate(rows)(i => vec(off + i * cols, cols))
    ScorerWeights(
      embedding = mat(l.emb(0), l.chSizes.head, l.embDim),
      wI = mat(c.wI, d, h), uI = mat(c.uI, h, h), bI = vec(c.bI, h),
      wF = mat(c.wF, d, h), uF = mat(c.uF, h, h), bF = vec(c.bF, h),
      wC = mat(c.wC, d, h), uC = mat(c.uC, h, h), bC = vec(c.bC, h),
      wO = mat(c.wO, d, h), uO = mat(c.uO, h, h), bO = vec(c.bO, h),
      dense = mat(l.dense, h, l.relSize), denseB = vec(l.denseB, l.relSize),
      dropout = dropout)
  }

  /** GRU / MUT1-3 from the seeded fixture (scales mirror [[Models]]): the
    * GRU draws with salt 77, MUT`kind` with salt 177 from stream base
    * 1000·kind, so mut1/2/3 start from distinct tensors, like distinct zoo
    * cells. */
  def gated(l: Layout[GatedLayer.Cell], seed: Long = 42L,
      truncate: Int = 50): SentenceModel[SeqRow] = {
    val kind = l.layers.head.kind
    seeded(l, seed, if (kind == GatedLayer.Gru) 77L else 177L, 1000 * kind, truncate)(words)
  }

  /** The `single` config's two stacked LSTM layers over word sequences. */
  def stacked(l: Layout[LstmLayer.Cell], seed: Long = 42L,
      truncate: Int = 50): SentenceModel[SeqRow] = {
    require(l.chSizes.length == 1 && l.layers.length == 2 && l.convOut == 0,
      "stacked: one channel, two layers, no conv")
    seeded(l, seed, 277L, 0, truncate)(words)
  }

  /** `single_conv`: conv front → one LSTM layer, never truncated. */
  def conv(l: Layout[LstmLayer.Cell], seed: Long = 42L): SentenceModel[SeqRow] = {
    require(l.chSizes.length == 1 && l.convOut > 0, "conv: one channel and a conv front")
    seeded(l, seed, 377L, 0, 0)(words)
  }

  /** The 4-channel `concat` config over [[ChanRow]]s (word/ner/pos/arc over
    * the dependency path, [[ConcatenatedDependencyFeaturizer]]). */
  def concat(l: Layout[LstmLayer.Cell], seed: Long = 42L,
      truncate: Int = 50): SentenceModel[ChanRow] = {
    require(l.chSizes.length == 4 && l.convOut == 0, "concat: four channels, no conv")
    seeded[ChanRow](l, seed, 477L, 0, truncate)(r => Array(r.words, r.ner, r.pos, r.arc))
  }
}
