package graft.kg

/**
 * The model zoo (reference: models.py:19-143): config-string dispatch over
 * {concat, single, single_conv, single_small} × RNN cell {lstm, gru}, as
 * pure primitive-array forward passes for the per-partition scoring kernel.
 *
 * Cell semantics follow Keras 0.x defaults (the reference's framework):
 * hard_sigmoid inner activation, tanh output activation, test-time dropout
 * scaling by (1 - p). `mut1-3` dispatch to real MUT1/2/3 (JZS) cells wired
 * per Jozefowicz et al. 2015 (see [[MutCell]]); the reference maps the same
 * config strings to keras 0.x JZS1-3 (models.py:29-30).
 *
 * Weight fixtures are deterministic per (seed, tensor-index) — the same
 * scheme as [[ScorerWeights.fixture]].
 */
object Models {

  final case class ModelConfig(
      model: String = "single_small", // concat | single | single_conv | single_small
      rnn: String = "lstm",           // lstm | gru | mut1 | mut2 | mut3
      embDim: Int = 16,
      hidden: (Int, Int) = (24, 24),
      dropout: Float = 0.5f)

  private def rng(seed: Long, k: Int) =
    new Gen.Rng(seed * 0x9E3779B97F4A7C15L + k * 0xC2B2AE3D27D4EB4FL + 23)

  private def mat(seed: Long, k: Int, rows: Int, cols: Int, scale: Float): Array[Array[Float]] = {
    val r = rng(seed, k)
    Array.fill(rows)(Array.fill(cols)(((r.nextDouble() * 2 - 1) * scale).toFloat))
  }
  private def vec(seed: Long, k: Int, n: Int, scale: Float): Array[Float] = {
    val r = rng(seed, k)
    Array.fill(n)(((r.nextDouble() * 2 - 1) * scale).toFloat)
  }

  @inline private def hardSigmoid(x: Float): Float = {
    val y = 0.2f * x + 0.5f
    if (y < 0f) 0f else if (y > 1f) 1f else y
  }

  /** y += M^T x (M: xLen x out). */
  private def addMV(m: Array[Array[Float]], x: Array[Float], xLen: Int,
      y: Array[Float], out: Int): Unit = {
    var i = 0
    while (i < xLen) {
      val xi = x(i)
      if (xi != 0f) {
        val row = m(i)
        var j = 0
        while (j < out) { y(j) += xi * row(j); j += 1 }
      }
      i += 1
    }
  }

  /** One recurrent layer; returns final state, or all states if collect. */
  sealed trait RnnCell extends Serializable {
    def inDim: Int
    def outDim: Int
    def run(xs: Array[Array[Float]], collect: Boolean): Array[Array[Float]]
  }

  final class LstmCell(seed: Long, base: Int, val inDim: Int, val outDim: Int) extends RnnCell {
    private val wI = mat(seed, base, inDim, outDim, 0.3f); private val uI = mat(seed, base + 1, outDim, outDim, 0.3f); private val bI = vec(seed, base + 2, outDim, 0.1f)
    private val wF = mat(seed, base + 3, inDim, outDim, 0.3f); private val uF = mat(seed, base + 4, outDim, outDim, 0.3f); private val bF = vec(seed, base + 5, outDim, 0.1f).map(_ + 1f)
    private val wC = mat(seed, base + 6, inDim, outDim, 0.3f); private val uC = mat(seed, base + 7, outDim, outDim, 0.3f); private val bC = vec(seed, base + 8, outDim, 0.1f)
    private val wO = mat(seed, base + 9, inDim, outDim, 0.3f); private val uO = mat(seed, base + 10, outDim, outDim, 0.3f); private val bO = vec(seed, base + 11, outDim, 0.1f)

    def run(xs: Array[Array[Float]], collect: Boolean): Array[Array[Float]] = {
      val h = new Array[Float](outDim); val c = new Array[Float](outDim)
      val out = if (collect) Array.ofDim[Array[Float]](xs.length) else null
      var t = 0
      while (t < xs.length) {
        val x = xs(t)
        val gi = bI.clone(); val gf = bF.clone(); val gc = bC.clone(); val go = bO.clone()
        addMV(wI, x, inDim, gi, outDim); addMV(uI, h, outDim, gi, outDim)
        addMV(wF, x, inDim, gf, outDim); addMV(uF, h, outDim, gf, outDim)
        addMV(wC, x, inDim, gc, outDim); addMV(uC, h, outDim, gc, outDim)
        addMV(wO, x, inDim, go, outDim); addMV(uO, h, outDim, go, outDim)
        var j = 0
        while (j < outDim) {
          val i_ = hardSigmoid(gi(j)); val f_ = hardSigmoid(gf(j)); val o_ = hardSigmoid(go(j))
          c(j) = f_ * c(j) + i_ * Fdlibm.tanh(gc(j)).toFloat
          h(j) = o_ * Fdlibm.tanh(c(j)).toFloat
          j += 1
        }
        if (collect) out(t) = h.clone()
        t += 1
      }
      if (collect) out else Array(h.clone())
    }
  }

  /** Keras-0.x GRU: z/r hard_sigmoid gates, candidate tanh over r⊙h. */
  final class GruCell(seed: Long, base: Int, val inDim: Int, val outDim: Int) extends RnnCell {
    private val wZ = mat(seed, base, inDim, outDim, 0.3f); private val uZ = mat(seed, base + 1, outDim, outDim, 0.3f); private val bZ = vec(seed, base + 2, outDim, 0.1f)
    private val wR = mat(seed, base + 3, inDim, outDim, 0.3f); private val uR = mat(seed, base + 4, outDim, outDim, 0.3f); private val bR = vec(seed, base + 5, outDim, 0.1f)
    private val wH = mat(seed, base + 6, inDim, outDim, 0.3f); private val uH = mat(seed, base + 7, outDim, outDim, 0.3f); private val bH = vec(seed, base + 8, outDim, 0.1f)

    def run(xs: Array[Array[Float]], collect: Boolean): Array[Array[Float]] = {
      val h = new Array[Float](outDim)
      val rh = new Array[Float](outDim)
      val out = if (collect) Array.ofDim[Array[Float]](xs.length) else null
      var t = 0
      while (t < xs.length) {
        val x = xs(t)
        val gz = bZ.clone(); val gr = bR.clone(); val gh = bH.clone()
        addMV(wZ, x, inDim, gz, outDim); addMV(uZ, h, outDim, gz, outDim)
        addMV(wR, x, inDim, gr, outDim); addMV(uR, h, outDim, gr, outDim)
        var j = 0
        while (j < outDim) { rh(j) = hardSigmoid(gr(j)) * h(j); j += 1 }
        addMV(wH, x, inDim, gh, outDim); addMV(uH, rh, outDim, gh, outDim)
        j = 0
        while (j < outDim) {
          val z = hardSigmoid(gz(j))
          h(j) = z * h(j) + (1f - z) * Fdlibm.tanh(gh(j)).toFloat
          j += 1
        }
        if (collect) out(t) = h.clone()
        t += 1
      }
      if (collect) out else Array(h.clone())
    }
  }

  /**
   * MUT1-3 recurrent cells — the reference's `mut1/mut2/mut3` configs
   * dispatch to keras 0.x JZS1-3 (models.py:29-30); the cell wiring is
   * published in Jozefowicz, Zaremba & Sutskever 2015, "An Empirical
   * Exploration of Recurrent Network Architectures" (the JZS paper):
   *
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
   * x̃ is x when inDim == outDim, otherwise a fixed seeded projection P·x
   * (the paper's formulas assume matching dims; keras 0.x used the same
   * projection device). Gates use hard_sigmoid for consistency with this
   * zoo's Keras-0.x LSTM/GRU treatment; the reference ships no trained
   * weights, so the frozen fixture tensors define semantics here as
   * everywhere (SURVEY.md §7.3).
   */
  final class MutCell(variant: Int, seed: Long, base: Int,
      val inDim: Int, val outDim: Int) extends RnnCell {
    require(variant >= 1 && variant <= 3, s"mut variant $variant")
    private val wZ = mat(seed, base, inDim, outDim, 0.3f)
    private val uZ = mat(seed, base + 1, outDim, outDim, 0.3f)
    private val bZ = vec(seed, base + 2, outDim, 0.1f)
    private val wR = mat(seed, base + 3, inDim, outDim, 0.3f)
    private val uR = mat(seed, base + 4, outDim, outDim, 0.3f)
    private val bR = vec(seed, base + 5, outDim, 0.1f)
    private val wH = mat(seed, base + 6, inDim, outDim, 0.3f)
    private val uH = mat(seed, base + 7, outDim, outDim, 0.3f)
    private val bH = vec(seed, base + 8, outDim, 0.1f)
    private val proj = if (inDim == outDim) null else mat(seed, base + 9, inDim, outDim, 0.3f)

    def run(xs: Array[Array[Float]], collect: Boolean): Array[Array[Float]] = {
      val h = new Array[Float](outDim)
      val rh = new Array[Float](outDim)
      val th = new Array[Float](outDim)
      val xt = new Array[Float](outDim)
      val out = if (collect) Array.ofDim[Array[Float]](xs.length) else null
      var t = 0
      while (t < xs.length) {
        val x = xs(t)
        // x̃: x itself at matching dims, else the fixed projection
        if (proj == null) System.arraycopy(x, 0, xt, 0, outDim)
        else { java.util.Arrays.fill(xt, 0f); addMV(proj, x, inDim, xt, outDim) }
        val gz = bZ.clone(); val gr = bR.clone()
        variant match {
          case 1 =>
            addMV(wZ, x, inDim, gz, outDim) // z from x only
            addMV(wR, x, inDim, gr, outDim); addMV(uR, h, outDim, gr, outDim)
          case 2 =>
            addMV(wZ, x, inDim, gz, outDim); addMV(uZ, h, outDim, gz, outDim)
            var j = 0
            while (j < outDim) { gr(j) += xt(j); j += 1 } // r sees raw x̃
            addMV(uR, h, outDim, gr, outDim)
          case 3 =>
            var j = 0
            while (j < outDim) { th(j) = Fdlibm.tanh(h(j)).toFloat; j += 1 }
            addMV(wZ, x, inDim, gz, outDim); addMV(uZ, th, outDim, gz, outDim)
            addMV(wR, x, inDim, gr, outDim); addMV(uR, h, outDim, gr, outDim)
        }
        var j = 0
        while (j < outDim) { rh(j) = hardSigmoid(gr(j)) * h(j); j += 1 }
        val gh = bH.clone()
        addMV(uH, rh, outDim, gh, outDim)
        if (variant == 1) {
          j = 0
          while (j < outDim) { gh(j) += Fdlibm.tanh(xt(j)).toFloat; j += 1 }
        } else addMV(wH, x, inDim, gh, outDim)
        j = 0
        while (j < outDim) {
          val z = hardSigmoid(gz(j))
          h(j) = z * Fdlibm.tanh(gh(j)).toFloat + (1f - z) * h(j)
          j += 1
        }
        if (collect) out(t) = h.clone()
        t += 1
      }
      if (collect) out else Array(h.clone())
    }
  }

  private def cell(config: ModelConfig, seed: Long, base: Int, inDim: Int, outDim: Int): RnnCell =
    config.rnn match {
      case "lstm" => new LstmCell(seed, base, inDim, outDim)
      case "gru" => new GruCell(seed, base, inDim, outDim)
      case "mut1" => new MutCell(1, seed, base, inDim, outDim)
      case "mut2" => new MutCell(2, seed, base, inDim, outDim)
      case "mut3" => new MutCell(3, seed, base, inDim, outDim)
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
          while (k < fl) { addMV(filters(k), xs(t + k), xs(t + k).length, y, outDim); k += 1 }
          var j = 0
          while (j < outDim) { y(j) = Fdlibm.tanh(y(j)).toFloat; j += 1 }
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
      val out = denseB.clone()
      var j = 0
      while (j < h.length) {
        val hj = h(j) * retain
        if (hj != 0f) {
          val row = dense(j)
          var r = 0
          while (r < out.length) { out(r) += hj * row(r); r += 1 }
        }
        j += 1
      }
      out
    }

    /** Masked argmax + softmax confidence (M2+M3, kbp.py:56-58 semantics). */
    def predict(channels: Array[Array[Int]], subjectNer: Int, objectNer: Int): (Int, Double) = {
      val p = logits(channels)
      val base = (subjectNer * typechecker.nerSize + objectNer) * typechecker.relSize
      var r = 0
      while (r < p.length) { p(r) *= typechecker.valid(base + r); r += 1 }
      var best = 0
      var mx = p(0)
      r = 1
      while (r < p.length) { if (p(r) > mx) { mx = p(r); best = r }; r += 1 }
      var s = 0.0
      r = 0
      while (r < p.length) { s += math.exp((p(r) - mx).toDouble); r += 1 }
      (best, 1.0 / s)
    }
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
    val embeddings = Array.tabulate(nChannels)(ch =>
      mat(seed, 100 + ch, chSizes(ch), config.embDim, 0.5f))
    val inDim = config.embDim * nChannels
    config.model match {
      case "single_small" =>
        new ZooScorer(config, embeddings,
          Array(cell(config, seed, 200, inDim, h1)),
          mat(seed, 300, h1, relSize, 0.5f), vec(seed, 301, relSize, 0.1f),
          None, bundle.typechecker)
      case "single" | "concat" =>
        new ZooScorer(config, embeddings,
          Array(cell(config, seed, 200, inDim, h1), cell(config, seed, 220, h1, h2)),
          mat(seed, 300, h2, relSize, 0.5f), vec(seed, 301, relSize, 0.1f),
          None, bundle.typechecker)
      case "single_conv" =>
        val convOut = h1
        val filters = Array.tabulate(3)(k => mat(seed, 400 + k, inDim, convOut, 0.3f))
        new ZooScorer(config, embeddings,
          Array(cell(config, seed, 200, convOut, h2)),
          mat(seed, 300, h2, relSize, 0.5f), vec(seed, 301, relSize, 0.1f),
          Some((filters, vec(seed, 403, convOut, 0.1f))), bundle.typechecker)
      case other => throw new IllegalArgumentException(s"unknown model: $other")
    }
  }
}
