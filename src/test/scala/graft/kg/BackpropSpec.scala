package graft.kg

import org.scalatest.funsuite.AnyFunSuite

/** Full-model gradient kernel: finite-difference gradient check, layout
  * round trip, and forward-pass agreement with the float inference kernel. */
class BackpropSpec extends AnyFunSuite {

  private val w = ScorerWeights.fixture(vocabSize = 12, embDim = 4, hidden = 5,
    relSize = 4, seed = 3L)
  private val layout = Backprop.layoutOf(w)
  private val retain = (1f - w.dropout).toDouble
  private val mask = Array(1f, 1f, 0f, 1f)
  private def row(s: Array[Int], y: Int) = Trainer.SeqRow(y, 0, 0, s)
  private def chanRow(ch: Array[Array[Int]], y: Int) =
    Trainer.ChanRow(y, 0, 0, ch(0), ch(1), ch(2), ch(3))
  private val lstm = Backprop.model(w, truncate = 0)
  private val seqs = Seq(
    (Array(1, 5, 9, 3, 2), 1),
    (Array(7, 0, 11, 4), 3),
    (Array(2, 2, 6), 0))

  private def totalLoss(flat: Array[Double]): Double = {
    val scratch = new Array[Double](layout.total)
    seqs.map { case (s, y) =>
      lstm.accumulate(flat, retain, row(s, y), mask, scratch)
    }.sum
  }

  test("flatten/unflatten round-trips every tensor") {
    val r = Backprop.unflatten(Backprop.flatten(w), layout, w.dropout)
    assert(r.embedding.map(_.toSeq).toSeq === w.embedding.map(_.toSeq).toSeq)
    assert(r.wI.map(_.toSeq).toSeq === w.wI.map(_.toSeq).toSeq)
    assert(r.uF.map(_.toSeq).toSeq === w.uF.map(_.toSeq).toSeq)
    assert(r.bC.toSeq === w.bC.toSeq)
    assert(r.uO.map(_.toSeq).toSeq === w.uO.map(_.toSeq).toSeq)
    assert(r.dense.map(_.toSeq).toSeq === w.dense.map(_.toSeq).toSeq)
    assert(r.denseB.toSeq === w.denseB.toSeq)
  }

  test("BPTT gradient matches central finite differences everywhere") {
    val flat = Backprop.flatten(w)
    val analytic = new Array[Double](layout.total)
    seqs.foreach { case (s, y) =>
      lstm.accumulate(flat, retain, row(s, y), mask, analytic)
    }
    val eps = 1e-6
    var checked = 0
    var worst = 0.0
    // sample across ALL tensors: every 3rd parameter
    var i = 0
    while (i < layout.total) {
      val orig = flat(i)
      flat(i) = orig + eps
      val lp = totalLoss(flat)
      flat(i) = orig - eps
      val lm = totalLoss(flat)
      flat(i) = orig
      val numeric = (lp - lm) / (2 * eps)
      // the 1e-5 floor keeps finite-difference truncation noise on
      // near-zero gradients (|g| ~ 1e-7, |Δ| ~ 1e-10) from dominating
      val denom = math.max(1e-5, math.abs(numeric) + math.abs(analytic(i)))
      val rel = math.abs(numeric - analytic(i)) / denom
      if (rel > worst) worst = rel
      assert(rel < 1e-4,
        s"grad mismatch at flat[$i]: analytic=${analytic(i)} numeric=$numeric rel=$rel")
      checked += 1
      i += 3
    }
    assert(checked > 80) // 271 params / stride 3
    assert(worst < 1e-4)
  }

  test("gradient of masked-out logits is exactly zero through the dense column") {
    val flat = Backprop.flatten(w)
    val g = new Array[Double](layout.total)
    lstm.accumulate(flat, retain, row(Array(1, 2, 3), 0), mask, g)
    // dense column r=2 is killed by mask(2)=0
    (0 until layout.hidden).foreach { j =>
      assert(g(layout.dense + j * layout.relSize + 2) === 0.0)
    }
    assert(g(layout.denseB + 2) === 0.0)
  }

  test("BPTT truncation: truncate >= T is bit-identical to full BPTT") {
    val flat = Backprop.flatten(w)
    val gFull = new Array[Double](layout.total)
    val gCap = new Array[Double](layout.total)
    seqs.foreach { case (s, y) =>
      lstm.accumulate(flat, retain, row(s, y), mask, gFull)
      Backprop.model(w, truncate = 50).accumulate(flat, retain, row(s, y), mask, gCap)
    }
    assert(gFull.toSeq === gCap.toSeq)
  }

  test("truncated BPTT gradient is the exact gradient of the detached-state suffix loss (FD)") {
    val flat = Backprop.flatten(w)
    val seq = Array(1, 5, 9, 3, 2, 7, 0, 11, 4, 2, 6, 8) // T = 12
    val label = 1
    val k = 5
    val tMin = seq.length - k
    val analytic = new Array[Double](layout.total)
    val lossT = Backprop.model(w, truncate = k).accumulate(flat, retain, row(seq, label), mask,
      analytic)
    // truncation never changes the FORWARD pass / loss
    val (h0, c0) = Backprop.stateAt(flat, layout, retain, seq, tMin)
    val suffix = seq.drop(tMin)
    assert(math.abs(lossT -
      Backprop.lossFromState(flat, layout, retain, suffix, label, mask, h0, c0)) < 1e-12)
    // the truncated gradient IS the exact gradient of the suffix loss with
    // the window-entry state (h0, c0) detached (theano scan semantics) —
    // FD over that function, with (h0, c0) pinned to the BASE parameters
    val eps = 1e-6
    var checked = 0
    var i = 0
    while (i < layout.total) {
      val orig = flat(i)
      flat(i) = orig + eps
      val lp = Backprop.lossFromState(flat, layout, retain, suffix, label, mask, h0, c0)
      flat(i) = orig - eps
      val lm = Backprop.lossFromState(flat, layout, retain, suffix, label, mask, h0, c0)
      flat(i) = orig
      val numeric = (lp - lm) / (2 * eps)
      val denom = math.max(1e-5, math.abs(numeric) + math.abs(analytic(i)))
      assert(math.abs(numeric - analytic(i)) / denom < 1e-4,
        s"truncated grad mismatch at flat[$i]: analytic=${analytic(i)} numeric=$numeric")
      checked += 1
      i += 3
    }
    assert(checked > 80)
    // truncation binds on this sequence (recurrent/emb grads differ from
    // full BPTT) while dense grads — which don't flow through time — match
    val gFull = new Array[Double](layout.total)
    lstm.accumulate(flat, retain, row(seq, label), mask, gFull)
    assert((0 until layout.dense).exists(j => gFull(j) != analytic(j)),
      "k < T must actually truncate")
    (layout.dense until layout.total).foreach(j => assert(gFull(j) === analytic(j)))
  }

  test("GRU/MUT truncation: >= T bit-identical to full; k < T alters only time-flowing grads") {
    val seq = Array(1, 5, 9, 3, 2, 7, 0, 11, 4, 2, 6, 8)
    val gl = BackpropGru.Layout(vocab = 12, embDim = 4, hidden = 5, relSize = 4)
    def gru(k: Int) = BackpropGru.model(gl, seed = 3L, truncate = k)
    val gf = gru(0).start
    val full = new Array[Double](gl.total)
    val cap = new Array[Double](gl.total)
    val tr = new Array[Double](gl.total)
    gru(0).accumulate(gf, 0.5, row(seq, 1), mask, full)
    gru(50).accumulate(gf, 0.5, row(seq, 1), mask, cap)
    gru(4).accumulate(gf, 0.5, row(seq, 1), mask, tr)
    assert(full.toSeq === cap.toSeq)
    assert((0 until gl.dense).exists(j => tr(j) != full(j)))
    (gl.dense until gl.total).foreach(j => assert(tr(j) === full(j)))
    (1 to 3).foreach { variant =>
      val ml = BackpropMut.Layout(vocab = 12, embDim = 4, hidden = 5, relSize = 4)
      def mut(k: Int) = BackpropMut.model(ml, variant, seed = 3L, truncate = k)
      val mf = mut(0).start
      val mFull = new Array[Double](ml.total)
      val mCap = new Array[Double](ml.total)
      val mTr = new Array[Double](ml.total)
      mut(0).accumulate(mf, 0.5, row(seq, 1), mask, mFull)
      mut(50).accumulate(mf, 0.5, row(seq, 1), mask, mCap)
      mut(4).accumulate(mf, 0.5, row(seq, 1), mask, mTr)
      assert(mFull.toSeq === mCap.toSeq, s"mut$variant")
      assert((0 until ml.dense).exists(j => mTr(j) != mFull(j)), s"mut$variant must truncate")
      (ml.dense until ml.total).foreach(j => assert(mTr(j) === mFull(j)))
    }
  }

  test("stacked/concat truncation: >= T bit-identical to full; k < T alters only time-flowing grads") {
    val seq = Array(1, 5, 9, 3, 2, 7, 0, 11, 4, 2, 6, 8)
    val sl = BackpropConcat.Layout(Array(12), embDim = 4, h1 = 5, h2 = 5, relSize = 4)
    def stack(k: Int) = BackpropConcat.stacked(sl, seed = 3L, truncate = k)
    val sf = stack(0).start
    val full = new Array[Double](sl.total)
    val cap = new Array[Double](sl.total)
    val tr = new Array[Double](sl.total)
    stack(0).accumulate(sf, 0.5, row(seq, 1), mask, full)
    stack(50).accumulate(sf, 0.5, row(seq, 1), mask, cap)
    stack(4).accumulate(sf, 0.5, row(seq, 1), mask, tr)
    assert(full.toSeq === cap.toSeq)
    assert((0 until sl.dense).exists(j => tr(j) != full(j)), "stack k < T must truncate")
    (sl.dense until sl.total).foreach(j => assert(tr(j) === full(j)))
    val cl = BackpropConcat.Layout(Array(12, 6, 7, 8), 4, 5, 5, 4)
    def concat(k: Int) = BackpropConcat.model(cl, seed = 3L, truncate = k)
    val cf = concat(0).start
    val chans = chanRow(Array(seq, seq.map(_ % 6), seq.map(_ % 7), seq.map(_ % 8)), 1)
    val cFull = new Array[Double](cl.total)
    val cCap = new Array[Double](cl.total)
    val cTr = new Array[Double](cl.total)
    concat(0).accumulate(cf, 0.5, chans, mask, cFull)
    concat(50).accumulate(cf, 0.5, chans, mask, cCap)
    concat(4).accumulate(cf, 0.5, chans, mask, cTr)
    assert(cFull.toSeq === cCap.toSeq)
    assert((0 until cl.dense).exists(j => cTr(j) != cFull(j)), "concat k < T must truncate")
    (cl.dense until cl.total).foreach(j => assert(cTr(j) === cFull(j)))
  }

  test("GRU BPTT gradient matches central finite differences everywhere") {
    val layout = BackpropGru.Layout(vocab = 12, embDim = 4, hidden = 5, relSize = 4)
    val gru = BackpropGru.model(layout, seed = 3L, truncate = 0)
    val flat = gru.start
    val retain = 0.5
    def total(f: Array[Double]): Double = {
      val scratch = new Array[Double](layout.total)
      seqs.map { case (s, y) =>
        gru.accumulate(f, retain, row(s, y), mask, scratch)
      }.sum
    }
    val analytic = new Array[Double](layout.total)
    seqs.foreach { case (s, y) =>
      gru.accumulate(flat, retain, row(s, y), mask, analytic)
    }
    val eps = 1e-6
    var checked = 0
    var worst = 0.0
    var i = 0
    while (i < layout.total) {
      val orig = flat(i)
      flat(i) = orig + eps
      val lp = total(flat)
      flat(i) = orig - eps
      val lm = total(flat)
      flat(i) = orig
      val numeric = (lp - lm) / (2 * eps)
      val denom = math.max(1e-5, math.abs(numeric) + math.abs(analytic(i)))
      val rel = math.abs(numeric - analytic(i)) / denom
      if (rel > worst) worst = rel
      assert(rel < 1e-4,
        s"GRU grad mismatch at flat[$i]: analytic=${analytic(i)} numeric=$numeric rel=$rel")
      checked += 1
      i += 3
    }
    assert(checked > 60)
    assert(worst < 1e-4)
  }

  test("MUT1/2/3 BPTT gradients match central finite differences everywhere") {
    (1 to 3).foreach { variant =>
      val layout = BackpropMut.Layout(vocab = 12, embDim = 4, hidden = 5, relSize = 4)
      val mut = BackpropMut.model(layout, variant, seed = 3L, truncate = 0)
      val flat = mut.start
      val retain = 0.5
      def total(f: Array[Double]): Double = {
        val scratch = new Array[Double](layout.total)
        seqs.map { case (s, y) =>
          mut.accumulate(f, retain, row(s, y), mask, scratch)
        }.sum
      }
      val analytic = new Array[Double](layout.total)
      seqs.foreach { case (s, y) =>
        mut.accumulate(flat, retain, row(s, y), mask, analytic)
      }
      val eps = 1e-6
      var checked = 0
      var i = 0
      while (i < layout.total) {
        val orig = flat(i)
        flat(i) = orig + eps
        val lp = total(flat)
        flat(i) = orig - eps
        val lm = total(flat)
        flat(i) = orig
        val numeric = (lp - lm) / (2 * eps)
        val denom = math.max(1e-5, math.abs(numeric) + math.abs(analytic(i)))
        val rel = math.abs(numeric - analytic(i)) / denom
        assert(rel < 1e-4,
          s"MUT$variant grad mismatch at flat[$i]: analytic=${analytic(i)} numeric=$numeric rel=$rel")
        checked += 1
        i += 3
      }
      assert(checked > 60)
    }
  }

  test("2-layer stacked-LSTM BPTT gradient matches central finite differences everywhere") {
    val layout = BackpropConcat.Layout(Array(12), embDim = 4, h1 = 5, h2 = 3, relSize = 4)
    val stack = BackpropConcat.stacked(layout, seed = 3L, truncate = 0)
    val flat = stack.start
    val retain = 0.5
    def total(f: Array[Double]): Double = {
      val scratch = new Array[Double](layout.total)
      seqs.map { case (s, y) =>
        stack.accumulate(f, retain, row(s, y), mask, scratch)
      }.sum
    }
    val analytic = new Array[Double](layout.total)
    seqs.foreach { case (s, y) =>
      stack.accumulate(flat, retain, row(s, y), mask, analytic)
    }
    val eps = 1e-6
    var checked = 0
    var i = 0
    while (i < layout.total) {
      val orig = flat(i)
      flat(i) = orig + eps
      val lp = total(flat)
      flat(i) = orig - eps
      val lm = total(flat)
      flat(i) = orig
      val numeric = (lp - lm) / (2 * eps)
      val denom = math.max(1e-5, math.abs(numeric) + math.abs(analytic(i)))
      val rel = math.abs(numeric - analytic(i)) / denom
      assert(rel < 1e-4,
        s"stack grad mismatch at flat[$i]: analytic=${analytic(i)} numeric=$numeric rel=$rel")
      checked += 1
      i += 3
    }
    assert(checked > 100)
  }

  test("conv BPTT gradient matches central finite differences (incl. degenerate lengths)") {
    val layout = BackpropConv.Layout(vocab = 12, embDim = 4, convOut = 5, h2 = 3, relSize = 4)
    val conv = BackpropConv.model(layout, seed = 3L)
    val flat = conv.start
    val retain = 0.5
    // lengths exercise: pooled>1 (7,5), odd conv frame dropped (6), exactly
    // one pool (4), pooled-empty fallback (3), zero-frame fallback (2)
    val convSeqs = Seq(
      (Array(1, 5, 9, 3, 2, 7, 4), 1),
      (Array(7, 0, 11, 4, 6), 3),
      (Array(2, 2, 6, 9, 1, 8), 0),
      (Array(3, 1, 4, 1), 2),
      (Array(5, 9, 2), 1),
      (Array(10, 4), 0))
    def total(f: Array[Double]): Double = {
      val scratch = new Array[Double](layout.total)
      convSeqs.map { case (s, y) =>
        conv.accumulate(f, retain, row(s, y), mask, scratch)
      }.sum
    }
    val analytic = new Array[Double](layout.total)
    convSeqs.foreach { case (s, y) =>
      conv.accumulate(flat, retain, row(s, y), mask, analytic)
    }
    val eps = 1e-6
    var checked = 0
    var i = 0
    while (i < layout.total) {
      val orig = flat(i)
      flat(i) = orig + eps
      val lp = total(flat)
      flat(i) = orig - eps
      val lm = total(flat)
      flat(i) = orig
      val numeric = (lp - lm) / (2 * eps)
      val denom = math.max(1e-5, math.abs(numeric) + math.abs(analytic(i)))
      val rel = math.abs(numeric - analytic(i)) / denom
      assert(rel < 1e-4,
        s"conv grad mismatch at flat[$i]: analytic=${analytic(i)} numeric=$numeric rel=$rel")
      checked += 1
      i += 3
    }
    assert(checked > 70)
  }

  test("concat 4-channel BPTT gradient matches central finite differences everywhere") {
    val layout = BackpropConcat.Layout(Array(12, 6, 12, 12),
      embDim = 3, h1 = 4, h2 = 3, relSize = 4)
    val concat = BackpropConcat.model(layout, seed = 3L, truncate = 0)
    val flat = concat.start
    val retain = 0.5
    val chanSeqs = Seq(
      (Array(Array(1, 5, 9), Array(2, 0, 4), Array(7, 3, 1), Array(0, 11, 6)), 1),
      (Array(Array(7, 0), Array(1, 5), Array(2, 2), Array(9, 4)), 3),
      (Array(Array(2), Array(3), Array(8), Array(5)), 0))
    def total(f: Array[Double]): Double = {
      val scratch = new Array[Double](layout.total)
      chanSeqs.map { case (ch, y) =>
        concat.accumulate(f, retain, chanRow(ch, y), mask, scratch)
      }.sum
    }
    val analytic = new Array[Double](layout.total)
    chanSeqs.foreach { case (ch, y) =>
      concat.accumulate(flat, retain, chanRow(ch, y), mask, analytic)
    }
    val eps = 1e-6
    var checked = 0
    var i = 0
    while (i < layout.total) {
      val orig = flat(i)
      flat(i) = orig + eps
      val lp = total(flat)
      flat(i) = orig - eps
      val lm = total(flat)
      flat(i) = orig
      val numeric = (lp - lm) / (2 * eps)
      val denom = math.max(1e-5, math.abs(numeric) + math.abs(analytic(i)))
      val rel = math.abs(numeric - analytic(i)) / denom
      assert(rel < 1e-4,
        s"concat grad mismatch at flat[$i]: analytic=${analytic(i)} numeric=$numeric rel=$rel")
      checked += 1
      i += 3
    }
    assert(checked > 80)
  }

  test("MUT1 forward matches the zoo MutCell recurrence on hand-checked algebra") {
    // one step from h=0 (rh=0): h1 = z ⊙ tanh(bH + tanh(x̃)),
    // z = hsig(bZ + Wz x) — the MIRRORED gate rôle vs the GRU
    val l = BackpropMut.Layout(vocab = 3, embDim = 2, hidden = 2, relSize = 2)
    val mut1 = BackpropMut.model(l, variant = 1, seed = 9L)
    val f = mut1.start
    val logits = mut1.logits(f, 1.0, row(Array(1), 0))
    def hsig(x: Double) = math.max(0.0, math.min(1.0, 0.2 * x + 0.5))
    val x = Array(f(l.emb + 1 * 2 + 0), f(l.emb + 1 * 2 + 1))
    // embDim == hidden here → x̃ = x (identity, no projection)
    val h = Array.tabulate(2) { j =>
      val gz = f(l.bZ + j) + x(0) * f(l.wZ + 0 * 2 + j) + x(1) * f(l.wZ + 1 * 2 + j)
      val gc = f(l.bH + j) + math.tanh(x(j))
      hsig(gz) * math.tanh(gc)
    }
    val expect = Array.tabulate(2) { r =>
      f(l.denseB + r) + h(0) * f(l.dense + 0 * 2 + r) + h(1) * f(l.dense + 1 * 2 + r)
    }
    logits.zip(expect).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("GRU forward matches the zoo GruCell recurrence on hand-checked algebra") {
    // pin the recurrence itself: one step from h=0 must equal
    // (1 - hsig(bz + Wz x)) * tanh(bh + Wh x)  (r is irrelevant at h=0)
    val l = BackpropGru.Layout(vocab = 3, embDim = 2, hidden = 2, relSize = 2)
    val gru = BackpropGru.model(l, seed = 9L)
    val f = gru.start
    val retain = 1.0
    val logits = gru.logits(f, retain, row(Array(1), 0))
    // recompute by hand from the flat layout
    def hsig(x: Double) = math.max(0.0, math.min(1.0, 0.2 * x + 0.5))
    val x = Array(f(l.emb + 1 * 2 + 0), f(l.emb + 1 * 2 + 1))
    val h = Array.tabulate(2) { j =>
      val gz = f(l.bZ + j) + x(0) * f(l.wZ + 0 * 2 + j) + x(1) * f(l.wZ + 1 * 2 + j)
      val gh = f(l.bH + j) + x(0) * f(l.wH + 0 * 2 + j) + x(1) * f(l.wH + 1 * 2 + j)
      (1 - hsig(gz)) * math.tanh(gh)
    }
    val expect = Array.tabulate(2) { r =>
      f(l.denseB + r) + h(0) * f(l.dense + 0 * 2 + r) + h(1) * f(l.dense + 1 * 2 + r)
    }
    logits.zip(expect).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("double-precision training forward agrees with the float inference kernel") {
    val bundle = Pipeline.buildBundle()
    val flat = Backprop.flatten(bundle.weights)
    val l = Backprop.layoutOf(bundle.weights)
    val scorer = new Scorer(bundle.weights, bundle.typechecker)
    val r = (1f - bundle.weights.dropout).toDouble
    Seq(Array(1, 5, 9, 3, 2, 7), Array(4, 4, 4), Array(10)).foreach { s =>
      val a = Backprop.logits(flat, l, r, s)
      val b = scorer.logits(s)
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-3, s"double fwd $x vs float fwd $y")
      }
    }
  }
}
