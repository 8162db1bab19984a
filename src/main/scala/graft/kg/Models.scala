package graft.kg

/**
 * The model zoo (reference: models.py:19-143): config-string dispatch over
 * {concat, single, single_conv, single_small} × RNN cell {lstm, gru}, as
 * pure primitive-array forward passes for the per-partition scoring kernel.
 *
 * Cell semantics follow Keras 0.x defaults (the reference's framework):
 * hard_sigmoid inner activation, tanh output activation, test-time dropout
 * scaling by (1 - p). `gru` and `mut1-3` run on one [[GatedCell]], the
 * latter as real MUT1/2/3 (JZS) cells wired per Jozefowicz et al. 2015; the
 * reference maps the same config strings to keras 0.x JZS1-3
 * (models.py:29-30).
 *
 * The cells run on the shared Float inference math in [[FloatKernel]] (the
 * LSTM step, mat-vec, tanh and readout the production [[Scorer]] runs), and
 * weight fixtures come from the same seeded fill, [[FloatKernel.Fill]].
 */
object Models {
  import FloatKernel._

  final case class ModelConfig(
      model: String = "single_small", // concat | single | single_conv | single_small
      rnn: String = "lstm",           // lstm | gru | mut1 | mut2 | mut3
      embDim: Int = 16,
      hidden: (Int, Int) = (24, 24),
      dropout: Float = 0.5f)

  /** One recurrent layer, run from the zero state. */
  sealed trait RnnCell extends Serializable {
    def inDim: Int
    def outDim: Int

    /** A step function that advances the state `h` by one input, in place
      * (holding whatever other state and scratch the cell needs). */
    protected def stepper(h: Array[Float]): Array[Float] => Unit

    /** The final state, or every state if collect. */
    def run(xs: Array[Array[Float]], collect: Boolean): Array[Array[Float]] = {
      val h = new Array[Float](outDim)
      val step = stepper(h)
      if (collect) xs.map { x => step(x); h.clone() }
      else { xs.foreach(step); Array(h.clone()) }
    }

    /** The zoo's gate fill: a fresh b + W·x, accumulated in place. */
    protected def affine(b: Array[Float], w: Array[Array[Float]], x: Array[Float]): Array[Float] = {
      val g = b.clone()
      addMatVec(w, x, inDim, g, g.length)
      g
    }
  }

  /** Gate g of (i, f, c, o) is fixture streams base + 3g (W), + 1 (U) and
    * + 2 (b), fused into 4H-wide rows for [[FloatKernel.lstmStep]]. */
  final class LstmCell(fill: Fill, base: Int, val inDim: Int, val outDim: Int) extends RnnCell {
    private val w = fuseGates(Seq(0, 3, 6, 9).map(g => fill.mat(base + g, inDim, outDim, 0.3f)): _*)
    private val u = fuseGates(Seq(1, 4, 7, 10).map(g => fill.mat(base + g, outDim, outDim, 0.3f)): _*)
    private val b = Array.concat(fill.vec(base + 2, outDim, 0.1f), fill.vec(base + 5, outDim, 0.1f).map(_ + 1f),
      fill.vec(base + 8, outDim, 0.1f), fill.vec(base + 11, outDim, 0.1f))

    protected def stepper(h: Array[Float]): Array[Float] => Unit = {
      val c = new Array[Float](outDim)
      x => lstmStep(u, affine(b, w, x), h, c, outDim)
    }
  }

  /**
   * The gated cells: the Keras-0.x GRU (kind 0) and MUT1-3 (kinds 1-3) —
   * the reference's `mut1/mut2/mut3` configs dispatch to keras 0.x JZS1-3
   * (models.py:29-30), wired per Jozefowicz, Zaremba & Sutskever 2015, "An
   * Empirical Exploration of Recurrent Network Architectures". All share
   * the update (z), reset (r) and candidate (h) gates' (W, U, b), fixture
   * streams base..base+8, hard_sigmoid z and r, and a tanh candidate over
   * r⊙h:
   *
   *   GRU:  z = σ(Wz·x + Uz·h + bz),  r = σ(Wr·x + Ur·h + br)
   *         h' = z ⊙ h + (1−z) ⊙ tanh(Wh·x + Uh·(r⊙h) + bh)
   *   MUT1: z = σ(Wz·x + bz)                 (update gate sees only x)
   *         r = σ(Wr·x + Ur·h + br)
   *         h' = tanh(Uh·(r⊙h) + tanh(x̃) + bh) ⊙ z + h ⊙ (1−z)
   *   MUT2: z = σ(Wz·x + Uz·h + bz)
   *         r = σ(x̃ + Ur·h + br)             (reset gate sees raw x)
   *         h' = tanh(Uh·(r⊙h) + Wh·x + bh) ⊙ z + h ⊙ (1−z)
   *   MUT3: z = σ(Wz·x + Uz·tanh(h) + bz)    (update gate sees tanh(h))
   *         r = σ(Wr·x + Ur·h + br)
   *         h' = tanh(Uh·(r⊙h) + Wh·x + bh) ⊙ z + h ⊙ (1−z)
   *
   * x̃ (MUT1/2) is x when inDim == outDim, otherwise a fixed seeded
   * projection P·x, stream base+9 (the paper's formulas assume matching
   * dims; keras 0.x used the same projection device). The kinds branch only
   * where [[GatedLayer]], the double-precision training twin, does: the
   * gate composition, the z ↔ (1−z) mirror and x̃. The GRU adds Wh·x before
   * Uh·(r⊙h), MUT after. The reference ships no trained weights, so the
   * frozen fixture tensors define semantics here as everywhere (SURVEY.md
   * §7.3).
   */
  final class GatedCell(kind: Int, fill: Fill, base: Int, val inDim: Int, val outDim: Int)
      extends RnnCell {
    require(kind >= 0 && kind <= 3, s"gated kind $kind")
    private val gru = kind == 0
    private val wZ = fill.mat(base, inDim, outDim, 0.3f); private val uZ = fill.mat(base + 1, outDim, outDim, 0.3f); private val bZ = fill.vec(base + 2, outDim, 0.1f)
    private val wR = fill.mat(base + 3, inDim, outDim, 0.3f); private val uR = fill.mat(base + 4, outDim, outDim, 0.3f); private val bR = fill.vec(base + 5, outDim, 0.1f)
    private val wH = fill.mat(base + 6, inDim, outDim, 0.3f); private val uH = fill.mat(base + 7, outDim, outDim, 0.3f); private val bH = fill.vec(base + 8, outDim, 0.1f)
    private val proj = if (gru || inDim == outDim) null else fill.mat(base + 9, inDim, outDim, 0.3f)

    protected def stepper(h: Array[Float]): Array[Float] => Unit = {
      val rh = new Array[Float](outDim)
      val th = new Array[Float](outDim)
      val xt = new Array[Float](outDim)
      x => {
        if (kind == 1 || kind == 2) {
          if (proj == null) System.arraycopy(x, 0, xt, 0, outDim)
          else { java.util.Arrays.fill(xt, 0f); addMatVec(proj, x, inDim, xt, outDim) }
        }
        val gz = affine(bZ, wZ, x)
        if (kind == 3) {
          var j = 0
          while (j < outDim) { th(j) = tanh(h(j)); j += 1 }
          addMatVec(uZ, th, outDim, gz, outDim)
        } else if (kind != 1) addMatVec(uZ, h, outDim, gz, outDim)
        val gr = if (kind == 2) bR.clone() else affine(bR, wR, x)
        if (kind == 2) {
          var j = 0
          while (j < outDim) { gr(j) += xt(j); j += 1 } // r sees raw x̃
        }
        addMatVec(uR, h, outDim, gr, outDim)
        var j = 0
        while (j < outDim) { rh(j) = hardSigmoid(gr(j)) * h(j); j += 1 }
        val gh = if (gru) affine(bH, wH, x) else bH.clone()
        addMatVec(uH, rh, outDim, gh, outDim)
        if (kind == 1) {
          j = 0
          while (j < outDim) { gh(j) += tanh(xt(j)); j += 1 }
        } else if (!gru) addMatVec(wH, x, inDim, gh, outDim)
        j = 0
        while (j < outDim) {
          val z = hardSigmoid(gz(j))
          h(j) = if (gru) z * h(j) + (1f - z) * tanh(gh(j)) else z * tanh(gh(j)) + (1f - z) * h(j)
          j += 1
        }
      }
    }
  }

  private def cell(config: ModelConfig, fill: Fill, base: Int, inDim: Int, outDim: Int): RnnCell =
    config.rnn match {
      case "lstm" => new LstmCell(fill, base, inDim, outDim)
      case "gru" => new GatedCell(0, fill, base, inDim, outDim)
      case "mut1" => new GatedCell(1, fill, base, inDim, outDim)
      case "mut2" => new GatedCell(2, fill, base, inDim, outDim)
      case "mut3" => new GatedCell(3, fill, base, inDim, outDim)
      case other => throw new IllegalArgumentException(s"unknown rnn: $other")
    }

  /** A scoring model over channelized integer sequences. */
  final class ZooScorer(
      config: ModelConfig,
      embeddings: Array[Array[Array[Float]]], // per channel: V x D
      layers: Array[RnnCell],
      dense: Array[Array[Float]], denseB: Array[Float],
      conv: Option[(Array[Array[Array[Float]]], Array[Float])], // filterLen x in x out, bias
      typechecker: TypeChecker) extends Serializable {

    private val retain = 1f - config.dropout

    /** logits for channelized sequences (channels all same length). */
    def logits(channels: Array[Array[Int]]): Array[Float] = {
      val len = channels(0).length
      val embDim = config.embDim
      val width = embDim * channels.length
      var xs = Array.tabulate(len) { t =>
        val x = new Array[Float](width)
        var ch = 0
        while (ch < channels.length) {
          val e = embeddings(ch)(channels(ch)(t))
          var d = 0
          while (d < embDim) { x(ch * embDim + d) = e(d) * retain; d += 1 }
          ch += 1
        }
        x
      }
      conv.foreach { case (filters, bias) =>
        // Convolution1D(valid) + relu-ish activation (tanh per config) + MaxPooling1D(2)
        val fl = filters.length
        val outDim = bias.length
        val convOut = Array.tabulate(math.max(0, xs.length - fl + 1)) { t =>
          val y = bias.clone()
          var k = 0
          while (k < fl) { addMatVec(filters(k), xs(t + k), xs(t + k).length, y, outDim); k += 1 }
          var j = 0
          while (j < outDim) { y(j) = tanh(y(j)); j += 1 }
          y
        }
        val pooled = Array.tabulate(convOut.length / 2) { t =>
          val a = convOut(2 * t); val b = convOut(2 * t + 1)
          Array.tabulate(a.length)(j => math.max(a(j), b(j)))
        }
        xs = if (pooled.nonEmpty) pooled else convOut.take(1)
        if (xs.isEmpty) xs = Array(new Array[Float](outDim))
      }
      var states = xs
      var li = 0
      while (li < layers.length) {
        val collect = li < layers.length - 1
        states = layers(li).run(states, collect)
        if (collect) {
          var t = 0
          while (t < states.length) {
            val s = states(t)
            var j = 0
            while (j < s.length) { s(j) *= retain; j += 1 } // inter-layer dropout
            t += 1
          }
        }
        li += 1
      }
      val h = states(states.length - 1)
      readout(h, h.length, retain, dense, denseB)
    }

    /** Masked argmax + softmax confidence (M2+M3, kbp.py:56-58 semantics). */
    def predict(channels: Array[Array[Int]], subjectNer: Int, objectNer: Int): (Int, Double) =
      typechecker.decide(logits(channels), subjectNer, objectNer)
  }

  /** Config-string dispatch (reference: models.py:19-28 `get_model`). */
  def get(config: ModelConfig, bundle: Pipeline.ScoringBundle, seed: Long = 42L): ZooScorer = {
    val relSize = bundle.rel.size
    val (h1, h2) = config.hidden
    val nChannels = if (config.model == "concat") 4 else 1
    // channel vocab sizes: word, ner, pos, dep — pos/dep sized by the word
    // table bound (their id spaces are small; the bound is safe)
    val chSizes = config.model match {
      case "concat" => Array(bundle.word.size, bundle.ner.size, bundle.word.size, bundle.word.size)
      case _ => Array(bundle.word.size)
    }
    val fill = new Fill(seed, salt = 23)
    val embeddings = Array.tabulate(nChannels)(ch =>
      fill.mat(100 + ch, chSizes(ch), config.embDim, 0.5f))
    val inDim = config.embDim * nChannels
    config.model match {
      case "single_small" =>
        new ZooScorer(config, embeddings,
          Array(cell(config, fill, 200, inDim, h1)),
          fill.mat(300, h1, relSize, 0.5f), fill.vec(301, relSize, 0.1f),
          None, bundle.typechecker)
      case "single" | "concat" =>
        new ZooScorer(config, embeddings,
          Array(cell(config, fill, 200, inDim, h1), cell(config, fill, 220, h1, h2)),
          fill.mat(300, h2, relSize, 0.5f), fill.vec(301, relSize, 0.1f),
          None, bundle.typechecker)
      case "single_conv" =>
        val convOut = h1
        val filters = Array.tabulate(3)(k => fill.mat(400 + k, inDim, convOut, 0.3f))
        new ZooScorer(config, embeddings,
          Array(cell(config, fill, 200, convOut, h2)),
          fill.mat(300, h2, relSize, 0.5f), fill.vec(301, relSize, 0.1f),
          Some((filters, fill.vec(403, convOut, 0.1f))), bundle.typechecker)
      case other => throw new IllegalArgumentException(s"unknown model: $other")
    }
  }
}
