package graft.kg

/**
 * Vectorized relation-scoring kernel M1-M3: the reference's `single_small`
 * sentence model (reference: models.py:99-116 — embedding → 1-layer LSTM →
 * dense → R logits) re-expressed as plain primitive-array math for use
 * inside `Dataset.mapPartitions`.
 *
 * Semantics preserved from the reference inference path (kbp.py:52-63):
 *  - batches are grouped by EXACT sequence length — no padding ever enters
 *    the RNN (kbp.py:22-33, data/dataset.py:137-165);
 *  - logits are multiplied (not -inf-masked) by the typecheck validity row
 *    (kbp.py:56);
 *  - prediction = argmax of masked logits, first index wins ties (numpy);
 *  - confidence = row-softmax of the masked logits at the argmax
 *    (kbp.py:57-58, utils.py:4-7 — max-subtracted, over ALL entries
 *    including masked zeros: bug-compatible);
 *  - Keras-0.x test-time dropout scales activations by (1 - p)
 *    (models.py:105,112: Dropout after embedding and after the RNN);
 *  - LSTM gates use Keras-0.x defaults: hard_sigmoid inner activation,
 *    tanh output activation.
 *
 * The reference repo ships no trained weights (`experiments/` is empty), so
 * "reference extractions" are defined by the deterministic fixture weights
 * from [[ScorerWeights.fixture]] — the frozen goldens the P/R≥0.95 gate
 * compares against (SURVEY.md §7.3).
 */
final case class ScorerWeights(
    embedding: Array[Array[Float]], // V x D
    wI: Array[Array[Float]], uI: Array[Array[Float]], bI: Array[Float], // D x H, H x H, H
    wF: Array[Array[Float]], uF: Array[Array[Float]], bF: Array[Float],
    wC: Array[Array[Float]], uC: Array[Array[Float]], bC: Array[Float],
    wO: Array[Array[Float]], uO: Array[Array[Float]], bO: Array[Float],
    dense: Array[Array[Float]], denseB: Array[Float], // H x R, R
    dropout: Float) extends Serializable {
  def embDim: Int = embedding(0).length
  def hidden: Int = bI.length
  def relSize: Int = denseB.length
}

object ScorerWeights {

  /** Deterministic xorshift64* PRNG — no wall-clock, no java.util.Random
    * version sensitivity; uniform in [-scale, scale). */
  private final class Rng(seed0: Long) {
    private var s = if (seed0 == 0) 0x9E3779B97F4A7C15L else seed0
    def next(): Long = {
      s ^= s >>> 12; s ^= s << 25; s ^= s >>> 27
      s * 0x2545F4914F6CDD1DL
    }
    def uniform(scale: Float): Float = {
      val u = (next() >>> 11).toDouble / (1L << 53).toDouble // [0,1)
      ((u * 2.0 - 1.0) * scale).toFloat
    }
  }

  private def mat(rng: Rng, rows: Int, cols: Int, scale: Float): Array[Array[Float]] =
    Array.fill(rows)(Array.fill(cols)(rng.uniform(scale)))

  /** The frozen fixture weights (seed fixed): defines reference semantics
    * for the golden-triple gate. Each tensor gets its own sub-seeded RNG so
    * growing the vocab (more embedding rows) leaves every other tensor —
    * and existing embedding rows — bit-identical. */
  def fixture(vocabSize: Int, embDim: Int = 16, hidden: Int = 24, relSize: Int, seed: Long = 42L): ScorerWeights = {
    def rng(k: Int) = new Rng(seed * 0x9E3779B97F4A7C15L + k * 0xC2B2AE3D27D4EB4FL + 17)
    def vec(k: Int, n: Int, scale: Float, base: Float = 0f) = {
      val r = rng(k); Array.fill(n)(base + r.uniform(scale))
    }
    ScorerWeights(
      embedding = mat(rng(0), vocabSize, embDim, 0.5f),
      wI = mat(rng(1), embDim, hidden, 0.3f), uI = mat(rng(2), hidden, hidden, 0.3f), bI = vec(3, hidden, 0.1f),
      wF = mat(rng(4), embDim, hidden, 0.3f), uF = mat(rng(5), hidden, hidden, 0.3f), bF = vec(6, hidden, 0.1f, 1f),
      wC = mat(rng(7), embDim, hidden, 0.3f), uC = mat(rng(8), hidden, hidden, 0.3f), bC = vec(9, hidden, 0.1f),
      wO = mat(rng(10), embDim, hidden, 0.3f), uO = mat(rng(11), hidden, hidden, 0.3f), bO = vec(12, hidden, 0.1f),
      dense = mat(rng(13), hidden, relSize, 0.5f), denseB = vec(14, relSize, 0.1f),
      dropout = 0.5f)
  }
}

final class Scorer(weights: ScorerWeights, typechecker: TypeChecker) extends Serializable {
  import weights._

  private val retain = 1f - dropout

  /** Precomputed input-gate projections per vocab id: the embedding row is
    * a pure function of the id, so W_g·(emb[v]·retain) is computed once per
    * id instead of once per occurrence — removes the input matmul from
    * every LSTM timestep (the recurrent U·h matmul remains). Built lazily
    * per deserialized Scorer instance (per task), V×4H floats. */
  @transient private lazy val inputGates: Array[Array[Float]] = {
    val v = embedding.length
    val table = new Array[Array[Float]](v)
    val x = new Array[Float](embDim)
    var id = 0
    while (id < v) {
      val emb = embedding(id)
      var d = 0
      while (d < embDim) { x(d) = emb(d) * retain; d += 1 }
      val row = new Array[Float](4 * hidden)
      // same accumulation order as the original addMatVec input pass
      def acc(m: Array[Array[Float]], off: Int): Unit = {
        var i = 0
        while (i < embDim) {
          val xi = x(i)
          if (xi != 0f) {
            val r = m(i)
            var j = 0
            while (j < hidden) { row(off + j) += xi * r(j); j += 1 }
          }
          i += 1
        }
      }
      acc(wI, 0); acc(wF, hidden); acc(wC, 2 * hidden); acc(wO, 3 * hidden)
      table(id) = row
      id += 1
    }
    table
  }

  @inline private def hardSigmoid(x: Float): Float = {
    val y = 0.2f * x + 0.5f
    if (y < 0f) 0f else if (y > 1f) 1f else y
  }

  /** y(0..hidden) += M^T x(0..xLen) over rows of M (M: xLen x hidden). */
  private def addMatVec(m: Array[Array[Float]], x: Array[Float], y: Array[Float], xLen: Int): Unit = {
    var i = 0
    while (i < xLen) {
      val xi = x(i)
      if (xi != 0f) {
        val row = m(i)
        var j = 0
        while (j < hidden) { y(j) += xi * row(j); j += 1 }
      }
      i += 1
    }
  }

  // scratch buffers, reused across calls (Scorer instances are per-partition
  // and single-threaded inside a task — no sharing across threads because
  // mapPartitions constructs per-task state from the broadcast)
  private val scratch = new ThreadLocal[Array[Array[Float]]] {
    override def initialValue(): Array[Array[Float]] =
      Array.fill(7)(new Array[Float](math.max(hidden, embDim)))
  }

  /** Runs the LSTM over `sequence` (single_small forward pass) from the
    * zero state and returns the thread's scratch `h`: the final hidden
    * state, pre-dropout, valid until the thread's next call. */
  private def run(sequence: Array[Int]): Array[Float] = {
    val buf = scratch.get()
    val h = buf(0); val c = buf(1)
    val gi = buf(3); val gf = buf(4); val gc = buf(5); val go = buf(6)
    java.util.Arrays.fill(h, 0f); java.util.Arrays.fill(c, 0f)
    val gates = inputGates
    var t = 0
    while (t < sequence.length) {
      val pre = gates(sequence(t))
      var j = 0
      while (j < hidden) {
        gi(j) = bI(j) + pre(j)
        gf(j) = bF(j) + pre(hidden + j)
        gc(j) = bC(j) + pre(2 * hidden + j)
        go(j) = bO(j) + pre(3 * hidden + j)
        j += 1
      }
      addMatVec(uI, h, gi, hidden)
      addMatVec(uF, h, gf, hidden)
      addMatVec(uC, h, gc, hidden)
      addMatVec(uO, h, go, hidden)
      j = 0
      while (j < hidden) {
        val i_ = hardSigmoid(gi(j)); val f_ = hardSigmoid(gf(j)); val o_ = hardSigmoid(go(j))
        c(j) = f_ * c(j) + i_ * Fdlibm.tanh(gc(j)).toFloat
        h(j) = o_ * Fdlibm.tanh(c(j)).toFloat
        j += 1
      }
      t += 1
    }
    h
  }

  /** Raw logits for one sequence: the dense readout of the final hidden
    * state after test-time dropout. A fresh array the caller owns. */
  def logits(sequence: Array[Int]): Array[Float] = {
    val h = run(sequence)
    val out = denseB.clone()
    var j = 0
    while (j < hidden) {
      val hj = h(j) * retain // dropout after RNN
      if (hj != 0f) {
        val row = dense(j)
        var r = 0
        while (r < out.length) { out(r) += hj * row(r); r += 1 }
      }
      j += 1
    }
    out
  }

  /** Final hidden state (post test-time dropout scaling) — the feature
    * vector the dense readout consumes; used by the distributed readout
    * trainer (Trainer.scala). */
  def hiddenState(sequence: Array[Int]): Array[Float] = {
    val h = run(sequence)
    val out = new Array[Float](hidden)
    var j = 0
    while (j < hidden) { out(j) = h(j) * retain; j += 1 }
    out
  }

  /** Masked argmax + softmax confidence for one example (M2+M3). */
  def predict(sequence: Array[Int], subjectNer: Int, objectNer: Int): (Int, Double) =
    decide(logits(sequence), subjectNer, objectNer)

  /** Masked argmax + softmax confidence over raw logits (M2+M3). `raw` is
    * only read, so a memo of logits can be decided per NER pair. */
  def decide(raw: Array[Float], subjectNer: Int, objectNer: Int): (Int, Double) = {
    val valid = typechecker.valid
    val base = (subjectNer * typechecker.nerSize + objectNer) * typechecker.relSize
    var best = 0
    var max = raw(0) * valid(base)
    var r = 1
    while (r < raw.length) {
      val v = raw(r) * valid(base + r)
      if (v > max) { max = v; best = r }
      r += 1
    }
    // np_softmax over the masked logits (utils.py:4-7)
    var sum = 0.0
    r = 0
    while (r < raw.length) { sum += math.exp((raw(r) * valid(base + r) - max).toDouble); r += 1 }
    (best, 1.0 / sum) // exp(p(best)-max) == exp(0) == 1
  }
}
