package graft.kg

/** What every training row carries besides its features: the target
  * relation id and the NER pair the typecheck mask is read from. */
trait LabeledRow {
  def label: Int
  def subjectNer: Int
  def objectNer: Int
}

/**
 * A differentiable sentence model over ONE flat `Array[Double]` parameter
 * vector — the contract [[Trainer.trainFull]] drives for every zoo kernel
 * (the reference's train.py trains whatever `get_model` returns,
 * models.py:19-30). A flat vector lets the trainer sum per-partition
 * gradients with a single array add; the whole model is ~10^4 parameters
 * (~80 KB) regardless of corpus size. [[Trainer.trainFull]] lists the
 * per-kernel constructors; each gradient kernel is pinned by a central
 * finite-difference check in BackpropSpec.
 */
trait FlatModel[R <: LabeledRow] extends Serializable {
  /** Length of the flat parameter (and gradient) vector. */
  def total: Int
  /** Flat [start, end) slice of the readout weight MATRIX (bias excluded)
    * — the parameters the reference's `l2(config.reg)` regularizes
    * (models.py:68: only dense2's W carries a W_regularizer). */
  def denseRange: (Int, Int)
  /** Parameters training starts from (read on the driver only). */
  def start: Array[Double]
  /** Forward only: the unmasked readout logits for one row. */
  def logits(f: Array[Double], retain: Double, row: R): Array[Double]
  /** One row's filtered cross-entropy loss, accumulating dL/dθ into
    * `grad` (+=). */
  def accumulate(f: Array[Double], retain: Double, row: R, mask: Array[Float],
      grad: Array[Double]): Double
}

/** The pieces every kernel shares: Keras-0.x hard sigmoid, the seeded
  * fixture fill, the embedding front end, and the masked readout head. */
object FlatModel {

  @inline def hsig(x: Double): Double = {
    val y = 0.2 * x + 0.5
    if (y < 0) 0 else if (y > 1) 1 else y
  }
  /** hard_sigmoid derivative: 0.2 on the open interval, 0 at the rails. */
  @inline def hsigGrad(pre: Double): Double = {
    val y = 0.2 * pre + 0.5
    if (y <= 0 || y >= 1) 0.0 else 0.2
  }

  /** Deterministic fixture initialization — a pure function of (seed,
    * tensor stream, salt): the reference ships no trained weights, so the
    * seeded tensors define the starting point (SURVEY.md §7.3). Tensor n
    * (1-based, in the given order) draws from stream `streamBase + n`,
    * uniform in ±scale; `tensors` are (offset, length, scale). */
  def seeded(total: Int, seed: Long, salt: Long, streamBase: Int = 0)(
      tensors: Seq[(Int, Int, Double)]): Array[Double] = {
    val f = new Array[Double](total)
    tensors.zipWithIndex.foreach { case ((off, n, scale), k) =>
      val r = new Gen.Rng(seed * 0x9E3779B97F4A7C15L +
        (streamBase + k + 1) * 0xC2B2AE3D27D4EB4FL + salt)
      var i = 0
      while (i < n) { f(off + i) = (r.nextDouble() * 2 - 1) * scale; i += 1 }
    }
    f
  }

  /** First timestep the backward scan visits under BPTT truncation
    * (reference configs/config.py:32 truncate_gradient=50, theano scan
    * semantics): the walk stops `truncate` steps from the end and the
    * state entering the window is treated as a constant. 0 (or >= T) =
    * full BPTT. */
  def windowStart(T: Int, truncate: Int): Int =
    if (truncate > 0) math.max(0, T - truncate) else 0

  /** Embedding front end: x_t is the concatenation over channels of
    * `emb_ch[ids_ch(t)] · retain` (test-time dropout on the embedding
    * output). All channels have the same length. */
  def embed(f: Array[Double], emb: Array[Int], d: Int, retain: Double,
      chans: Array[Array[Int]]): Array[Array[Double]] =
    Array.tabulate(chans(0).length) { t =>
      val x = new Array[Double](d * emb.length)
      var ch = 0
      while (ch < emb.length) {
        val off = emb(ch) + chans(ch)(t) * d
        var i = 0
        while (i < d) { x(ch * d + i) = f(off + i) * retain; i += 1 }
        ch += 1
      }
      x
    }

  /** Route timestep t's input gradient `dx` back into each channel's
    * embedding row (+=). */
  def scatter(grad: Array[Double], emb: Array[Int], d: Int, retain: Double,
      chans: Array[Array[Int]], t: Int, dx: Array[Double]): Unit = {
    var ch = 0
    while (ch < emb.length) {
      val off = emb(ch) + chans(ch)(t) * d
      var i = 0
      while (i < d) { grad(off + i) += dx(ch * d + i) * retain; i += 1 }
      ch += 1
    }
  }

  /** Final state of a layer's output, or the zero state for T = 0. */
  def last(states: Array[Array[Double]], hidden: Int): Array[Double] =
    if (states.isEmpty) new Array[Double](hidden) else states(states.length - 1)

  /** Dense readout of the final state: bias + (hT · retain) · W. */
  def readout(f: Array[Double], dense: Int, denseB: Int, relSize: Int,
      hT: Array[Double], retain: Double): Array[Double] = {
    val out = new Array[Double](relSize)
    var r = 0
    while (r < relSize) { out(r) = f(denseB + r); r += 1 }
    var j = 0
    while (j < hT.length) {
      val hj = hT(j) * retain
      r = 0
      while (r < relSize) { out(r) += hj * f(dense + j * relSize + r); r += 1 }
      j += 1
    }
    out
  }

  /** Masked, clipped, renormalized softmax (typecheck.py:28-39). */
  def filteredSoftmax(logits: Array[Double], mask: Array[Float]): Array[Double] = {
    val n = logits.length
    val p = new Array[Double](n)
    var mx = Double.NegativeInfinity
    var i = 0
    while (i < n) { p(i) = logits(i) * mask(i); if (p(i) > mx) mx = p(i); i += 1 }
    var s = 0.0
    i = 0
    while (i < n) { p(i) = math.exp(p(i) - mx); s += p(i); i += 1 }
    var s2 = 0.0
    i = 0
    while (i < n) {
      p(i) = math.max(1e-7, math.min(1.0 - 1e-7, p(i) / s)); s2 += p(i); i += 1
    }
    i = 0
    while (i < n) { p(i) /= s2; i += 1 }
    p
  }

  /** Filtered cross-entropy −log p[label] and its gradient wrt the logits
    * in the standard masked-softmax-CE form (p_r − y_r)·mask_r. */
  def lossGrad(logits: Array[Double], label: Int, mask: Array[Float]): (Double, Array[Double]) = {
    val p = filteredSoftmax(logits, mask)
    val dLogit = new Array[Double](p.length)
    var r = 0
    while (r < p.length) { dLogit(r) = (p(r) - (if (r == label) 1.0 else 0.0)) * mask(r); r += 1 }
    (-math.log(p(label)), dLogit)
  }

  /** The readout head of every kernel: logits from the final state, loss,
    * dense W/b gradients (+=). Returns (loss, dL/dh_T). */
  def head(f: Array[Double], dense: Int, denseB: Int, relSize: Int, hT: Array[Double],
      retain: Double, label: Int, mask: Array[Float], grad: Array[Double]): (Double, Array[Double]) = {
    val (loss, dLogit) = lossGrad(readout(f, dense, denseB, relSize, hT, retain), label, mask)
    val dh = new Array[Double](hT.length)
    var j = 0
    while (j < hT.length) {
      val hj = hT(j) * retain
      var acc = 0.0
      var r = 0
      while (r < relSize) {
        grad(dense + j * relSize + r) += hj * dLogit(r)
        acc += f(dense + j * relSize + r) * dLogit(r)
        r += 1
      }
      dh(j) = acc * retain
      j += 1
    }
    var r = 0
    while (r < relSize) { grad(denseB + r) += dLogit(r); r += 1 }
    (loss, dh)
  }

  /** The typecheck-masked argmax prediction (first index wins ties). */
  def maskedArgmax(logits: Array[Double], mask: Array[Float]): Int = {
    var best = 0
    var mx = logits(0) * mask(0)
    var r = 1
    while (r < logits.length) { val v = logits(r) * mask(r); if (v > mx) { mx = v; best = r }; r += 1 }
    best
  }
}
