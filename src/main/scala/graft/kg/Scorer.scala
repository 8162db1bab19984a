package graft.kg

/**
 * Vectorized relation-scoring kernel M1-M3: the reference's `single_small`
 * sentence model (reference: models.py:99-116 — embedding → 1-layer LSTM →
 * dense → R logits) re-expressed as plain primitive-array math for use
 * inside `Dataset.mapPartitions`.
 *
 * Semantics preserved from the reference inference path (kbp.py:52-63):
 *  - each sequence runs alone at its EXACT length, so no padding ever
 *    enters the RNN: the reference's length buckets (kbp.py:22-33,
 *    data/dataset.py:137-165) only rectangularize its tensors
 *    (see the Pipeline header);
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

  /** The frozen fixture weights (seed fixed): defines reference semantics
    * for the golden-triple gate. Tensor k is [[FloatKernel.Fill]] stream k,
    * so growing the vocab (more embedding rows) leaves every other tensor —
    * and existing embedding rows — bit-identical. */
  def fixture(vocabSize: Int, embDim: Int = 16, hidden: Int = 24, relSize: Int, seed: Long = 42L): ScorerWeights = {
    val fill = new FloatKernel.Fill(seed, salt = 17)
    import fill.{mat, vec}
    ScorerWeights(
      embedding = mat(0, vocabSize, embDim, 0.5f),
      wI = mat(1, embDim, hidden, 0.3f), uI = mat(2, hidden, hidden, 0.3f), bI = vec(3, hidden, 0.1f),
      wF = mat(4, embDim, hidden, 0.3f), uF = mat(5, hidden, hidden, 0.3f), bF = vec(6, hidden, 0.1f).map(_ + 1f),
      wC = mat(7, embDim, hidden, 0.3f), uC = mat(8, hidden, hidden, 0.3f), bC = vec(9, hidden, 0.1f),
      wO = mat(10, embDim, hidden, 0.3f), uO = mat(11, hidden, hidden, 0.3f), bO = vec(12, hidden, 0.1f),
      dense = mat(13, hidden, relSize, 0.5f), denseB = vec(14, relSize, 0.1f),
      dropout = 0.5f)
  }
}

final class Scorer(weights: ScorerWeights, typechecker: TypeChecker) extends Serializable {
  import weights._
  import FloatKernel._

  private val retain = 1f - dropout

  /** Precomputed gate pre-activations per vocab id, i, f, c, o at
    * offsets 0, H, 2H, 3H: the embedding row is a pure function of the id,
    * so b + W·(emb[v]·retain) is computed once per id instead of once per
    * occurrence (fl(b + W·x) once has the same bits as every step), and a
    * step's gate fill is one copy. Built lazily per deserialized Scorer
    * instance (per task), V×4H floats. */
  @transient private lazy val inputGates: Array[Array[Float]] = {
    val w = fuseGates(wI, wF, wC, wO)
    val b = Array.concat(bI, bF, bC, bO)
    val x = new Array[Float](embDim)
    embedding.map { emb =>
      var d = 0
      while (d < embDim) { x(d) = emb(d) * retain; d += 1 }
      val row = new Array[Float](4 * hidden)
      addMatVec(w, x, embDim, row, 4 * hidden)
      var k = 0
      while (k < row.length) { row(k) = b(k) + row(k); k += 1 }
      row
    }
  }

  @transient private lazy val recurrent: Array[Array[Float]] = fuseGates(uI, uF, uC, uO)

  // per-thread scratch (h, c and the 4H gate pre-activations), reused
  // across calls: one Scorer may serve several threads at once (ScorerSpec
  // runs two on one instance), so each thread gets its own buffers
  private val scratch = new ThreadLocal[Array[Array[Float]]] {
    override def initialValue(): Array[Array[Float]] =
      Array(new Array[Float](hidden), new Array[Float](hidden), new Array[Float](4 * hidden))
  }

  /** Runs the LSTM over `sequence` (single_small forward pass) from the
    * zero state and returns the thread's scratch `h`: the final hidden
    * state, pre-dropout, valid until the thread's next call. */
  private def run(sequence: Array[Int]): Array[Float] = {
    val buf = scratch.get()
    val h = buf(0); val c = buf(1); val g = buf(2)
    java.util.Arrays.fill(h, 0f); java.util.Arrays.fill(c, 0f)
    val gates = inputGates
    val u = recurrent
    var t = 0
    while (t < sequence.length) {
      System.arraycopy(gates(sequence(t)), 0, g, 0, g.length)
      lstmStep(u, g, h, c, hidden)
      t += 1
    }
    h
  }

  /** Raw logits for one sequence: the dense readout of the final hidden
    * state after test-time dropout. A fresh array the caller owns. */
  def logits(sequence: Array[Int]): Array[Float] =
    readout(run(sequence), hidden, retain, dense, denseB)

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
    typechecker.decide(logits(sequence), subjectNer, objectNer)
}
