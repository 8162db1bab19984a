package graft.kg

import org.scalatest.funsuite.AnyFunSuite

/** Full-model gradient kernel: finite-difference gradient check, layout
  * round trip, and forward-pass agreement with the float inference kernel. */
class BackpropSpec extends AnyFunSuite {

  private val w = ScorerWeights.fixture(vocabSize = 12, embDim = 4, hidden = 5,
    relSize = 4, seed = 3L)
  private val layout = SentenceModel.lstmLayoutOf(w)
  private val retain = (1f - w.dropout).toDouble
  private val mask = Array(1f, 1f, 0f, 1f)
  private def row(s: Array[Int], y: Int) = Trainer.SeqRow(y, 0, 0, s)
  private def chanRow(ch: Array[Array[Int]], y: Int) =
    Trainer.ChanRow(y, 0, 0, ch(0), ch(1), ch(2), ch(3))
  private val lstm = SentenceModel.lstm(w, truncate = 0)
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
    val r = SentenceModel.unflatten(SentenceModel.flatten(w), layout, w.dropout)
    assert(r.embedding.map(_.toSeq).toSeq === w.embedding.map(_.toSeq).toSeq)
    assert(r.wI.map(_.toSeq).toSeq === w.wI.map(_.toSeq).toSeq)
    assert(r.uF.map(_.toSeq).toSeq === w.uF.map(_.toSeq).toSeq)
    assert(r.bC.toSeq === w.bC.toSeq)
    assert(r.uO.map(_.toSeq).toSeq === w.uO.map(_.toSeq).toSeq)
    assert(r.dense.map(_.toSeq).toSeq === w.dense.map(_.toSeq).toSeq)
    assert(r.denseB.toSeq === w.denseB.toSeq)
  }

  test("BPTT gradient matches central finite differences everywhere") {
    val flat = SentenceModel.flatten(w)
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
    val flat = SentenceModel.flatten(w)
    val g = new Array[Double](layout.total)
    lstm.accumulate(flat, retain, row(Array(1, 2, 3), 0), mask, g)
    // dense column r=2 is killed by mask(2)=0
    (0 until layout.hidden).foreach { j =>
      assert(g(layout.dense + j * layout.relSize + 2) === 0.0)
    }
    assert(g(layout.denseB + 2) === 0.0)
  }

  test("BPTT truncation: truncate >= T is bit-identical to full BPTT") {
    val flat = SentenceModel.flatten(w)
    val gFull = new Array[Double](layout.total)
    val gCap = new Array[Double](layout.total)
    seqs.foreach { case (s, y) =>
      lstm.accumulate(flat, retain, row(s, y), mask, gFull)
      SentenceModel.lstm(w, truncate = 50).accumulate(flat, retain, row(s, y), mask, gCap)
    }
    assert(gFull.toSeq === gCap.toSeq)
  }

  test("truncated BPTT gradient is the exact gradient of the detached-state suffix loss (FD)") {
    val flat = SentenceModel.flatten(w)
    val seq = Array(1, 5, 9, 3, 2, 7, 0, 11, 4, 2, 6, 8) // T = 12
    val label = 1
    val k = 5
    val tMin = seq.length - k
    val analytic = new Array[Double](layout.total)
    val lossT = SentenceModel.lstm(w, truncate = k).accumulate(flat, retain, row(seq, label), mask,
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
    val gl = SentenceModel.gatedLayout(GatedLayer.Gru, vocab = 12, embDim = 4, hidden = 5, relSize = 4)
    def gru(k: Int) = SentenceModel.gated(gl, seed = 3L, truncate = k)
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
      val ml = SentenceModel.gatedLayout(variant, vocab = 12, embDim = 4, hidden = 5, relSize = 4)
      def mut(k: Int) = SentenceModel.gated(ml, seed = 3L, truncate = k)
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
    val sl = SentenceModel.lstmLayout(Seq(12), embDim = 4, hiddens = Seq(5, 5), relSize = 4)
    def stack(k: Int) = SentenceModel.stacked(sl, seed = 3L, truncate = k)
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
    val cl = SentenceModel.lstmLayout(Seq(12, 6, 7, 8), 4, Seq(5, 5), 4)
    def concat(k: Int) = SentenceModel.concat(cl, seed = 3L, truncate = k)
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
    val layout = SentenceModel.gatedLayout(GatedLayer.Gru, vocab = 12, embDim = 4, hidden = 5, relSize = 4)
    val gru = SentenceModel.gated(layout, seed = 3L, truncate = 0)
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
      val layout = SentenceModel.gatedLayout(variant, vocab = 12, embDim = 4, hidden = 5, relSize = 4)
      val mut = SentenceModel.gated(layout, seed = 3L, truncate = 0)
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
    val layout = SentenceModel.lstmLayout(Seq(12), embDim = 4, hiddens = Seq(5, 3), relSize = 4)
    val stack = SentenceModel.stacked(layout, seed = 3L, truncate = 0)
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
    val layout = SentenceModel.lstmLayout(Seq(12), embDim = 4, hiddens = Seq(3), relSize = 4,
      convOut = 5)
    val conv = SentenceModel.conv(layout, seed = 3L)
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
    val layout = SentenceModel.lstmLayout(Seq(12, 6, 12, 12),
      embDim = 3, hiddens = Seq(4, 3), relSize = 4)
    val concat = SentenceModel.concat(layout, seed = 3L, truncate = 0)
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

  test("MUT1 forward matches Models.GatedCell on hand-checked algebra") {
    // one step from h=0 (rh=0): h1 = z ⊙ tanh(bH + tanh(x̃)),
    // z = hsig(bZ + Wz x) — the MIRRORED gate rôle vs the GRU
    val l = SentenceModel.gatedLayout(1, vocab = 3, embDim = 2, hidden = 2, relSize = 2)
    val c = l.layers.head
    val mut1 = SentenceModel.gated(l, seed = 9L)
    val f = mut1.start
    val logits = mut1.logits(f, 1.0, row(Array(1), 0))
    def hsig(x: Double) = math.max(0.0, math.min(1.0, 0.2 * x + 0.5))
    val x = Array(f(l.emb(0) + 1 * 2 + 0), f(l.emb(0) + 1 * 2 + 1))
    // embDim == hidden here → x̃ = x (identity, no projection)
    val h = Array.tabulate(2) { j =>
      val gz = f(c.bZ + j) + x(0) * f(c.wZ + 0 * 2 + j) + x(1) * f(c.wZ + 1 * 2 + j)
      val gc = f(c.bH + j) + math.tanh(x(j))
      hsig(gz) * math.tanh(gc)
    }
    val expect = Array.tabulate(2) { r =>
      f(l.denseB + r) + h(0) * f(l.dense + 0 * 2 + r) + h(1) * f(l.dense + 1 * 2 + r)
    }
    logits.zip(expect).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("MUT2 forward matches Models.GatedCell over two hand-checked steps") {
    // embDim != hidden, so x̃ = P·x; r sees raw x̃ (no Wr). The second step
    // starts from h1 != 0, so Uz, Ur and Uh all enter
    val l = SentenceModel.gatedLayout(2, vocab = 3, embDim = 3, hidden = 2, relSize = 2)
    val c = l.layers.head
    val mut2 = SentenceModel.gated(l, seed = 9L)
    val f = mut2.start
    val logits = mut2.logits(f, 1.0, row(Array(1, 2), 0))
    def hsig(x: Double) = math.max(0.0, math.min(1.0, 0.2 * x + 0.5))
    def mv(off: Int, v: Array[Double]) =
      Array.tabulate(2)(j => v.indices.map(i => v(i) * f(off + i * 2 + j)).sum)
    var h = Array(0.0, 0.0)
    Seq(1, 2).foreach { w =>
      val x = Array.tabulate(3)(i => f(l.emb(0) + w * 3 + i))
      val xt = mv(c.proj, x)
      val wzx = mv(c.wZ, x); val uzh = mv(c.uZ, h); val urh = mv(c.uR, h)
      val rh = Array.tabulate(2)(j => hsig(f(c.bR + j) + xt(j) + urh(j)) * h(j))
      val whx = mv(c.wH, x); val uhrh = mv(c.uH, rh)
      h = Array.tabulate(2) { j =>
        val z = hsig(f(c.bZ + j) + wzx(j) + uzh(j))
        z * math.tanh(f(c.bH + j) + uhrh(j) + whx(j)) + (1 - z) * h(j)
      }
    }
    val expect = Array.tabulate(2) { r =>
      f(l.denseB + r) + h(0) * f(l.dense + 0 * 2 + r) + h(1) * f(l.dense + 1 * 2 + r)
    }
    logits.zip(expect).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("MUT3 forward matches Models.GatedCell over two hand-checked steps") {
    // z sees Uz·tanh(h), which the second step makes non-zero; x̃ is unused
    val l = SentenceModel.gatedLayout(3, vocab = 3, embDim = 2, hidden = 2, relSize = 2)
    val c = l.layers.head
    val mut3 = SentenceModel.gated(l, seed = 9L)
    val f = mut3.start
    val logits = mut3.logits(f, 1.0, row(Array(1, 2), 0))
    def hsig(x: Double) = math.max(0.0, math.min(1.0, 0.2 * x + 0.5))
    def mv(off: Int, v: Array[Double]) =
      Array.tabulate(2)(j => v.indices.map(i => v(i) * f(off + i * 2 + j)).sum)
    var h = Array(0.0, 0.0)
    Seq(1, 2).foreach { w =>
      val x = Array.tabulate(2)(i => f(l.emb(0) + w * 2 + i))
      val wzx = mv(c.wZ, x); val uzth = mv(c.uZ, h.map(math.tanh))
      val wrx = mv(c.wR, x); val urh = mv(c.uR, h)
      val rh = Array.tabulate(2)(j => hsig(f(c.bR + j) + wrx(j) + urh(j)) * h(j))
      val whx = mv(c.wH, x); val uhrh = mv(c.uH, rh)
      h = Array.tabulate(2) { j =>
        val z = hsig(f(c.bZ + j) + wzx(j) + uzth(j))
        z * math.tanh(f(c.bH + j) + uhrh(j) + whx(j)) + (1 - z) * h(j)
      }
    }
    val expect = Array.tabulate(2) { r =>
      f(l.denseB + r) + h(0) * f(l.dense + 0 * 2 + r) + h(1) * f(l.dense + 1 * 2 + r)
    }
    logits.zip(expect).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  test("GRU forward matches Models.GatedCell on hand-checked algebra") {
    // pin the recurrence itself: one step from h=0 must equal
    // (1 - hsig(bz + Wz x)) * tanh(bh + Wh x)  (r is irrelevant at h=0)
    val l = SentenceModel.gatedLayout(GatedLayer.Gru, vocab = 3, embDim = 2, hidden = 2, relSize = 2)
    val c = l.layers.head
    val gru = SentenceModel.gated(l, seed = 9L)
    val f = gru.start
    val retain = 1.0
    val logits = gru.logits(f, retain, row(Array(1), 0))
    // recompute by hand from the flat layout
    def hsig(x: Double) = math.max(0.0, math.min(1.0, 0.2 * x + 0.5))
    val x = Array(f(l.emb(0) + 1 * 2 + 0), f(l.emb(0) + 1 * 2 + 1))
    val h = Array.tabulate(2) { j =>
      val gz = f(c.bZ + j) + x(0) * f(c.wZ + 0 * 2 + j) + x(1) * f(c.wZ + 1 * 2 + j)
      val gh = f(c.bH + j) + x(0) * f(c.wH + 0 * 2 + j) + x(1) * f(c.wH + 1 * 2 + j)
      (1 - hsig(gz)) * math.tanh(gh)
    }
    val expect = Array.tabulate(2) { r =>
      f(l.denseB + r) + h(0) * f(l.dense + 0 * 2 + r) + h(1) * f(l.dense + 1 * 2 + r)
    }
    logits.zip(expect).foreach { case (a, b) => assert(math.abs(a - b) < 1e-12) }
  }

  /** GRU (kind 0) or MUT`kind` over vocab 12, hidden 5 and relSize 4. */
  private def gated(kind: Int, embDim: Int, truncate: Int): (SentenceModel[Trainer.SeqRow], Int) = {
    val l = SentenceModel.gatedLayout(kind, vocab = 12, embDim = embDim, hidden = 5, relSize = 4)
    (SentenceModel.gated(l, seed = 3L, truncate = truncate), l.total)
  }

  /** FNV-1a over the raw bits of every double, array lengths included. */
  private def rawDigest(parts: Seq[Array[Double]]): String = {
    var h = 0xCBF29CE484222325L
    def mix(v: Long): Unit = h = (h ^ v) * 0x100000001B3L
    parts.foreach { a => mix(a.length.toLong); a.foreach(v => mix(java.lang.Double.doubleToRawLongBits(v))) }
    f"$h%016x"
  }

  test("GRU/MUT1-3 start, logits and accumulate are pinned to the raw bits") {
    // embDim 4 != hidden 5 sends MUT1/2's x̃ through proj; embDim 5 makes it
    // the identity. Each case folds start, then per truncate (0, 4) and per
    // sequence (T = 1, T = 12) the logits, one accumulate's grad and loss
    val bitSeqs = Seq(Array(7), Array(1, 5, 9, 3, 2, 7, 0, 11, 4, 2, 6, 8))
    val got = for (kind <- 0 to 3; embDim <- Seq(4, 5)) yield {
      val parts = Seq(gated(kind, embDim, 0)._1.start) ++ (for {
        k <- Seq(0, 4); s <- bitSeqs
      } yield {
        val (m, total) = gated(kind, embDim, k)
        val f = m.start
        val grad = new Array[Double](total)
        val loss = m.accumulate(f, 0.5, row(s, 1), mask, grad)
        Seq(m.logits(f, 0.5, row(s, 1)), grad, Array(loss))
      }).flatten
      s"${if (kind == 0) "gru" else s"mut$kind"}/emb$embDim" -> rawDigest(parts)
    }
    val pinned = Map(
      "gru/emb4" -> "709a805ac0f3dba3", "gru/emb5" -> "52b653e71b906347",
      "mut1/emb4" -> "762101bf1b1686be", "mut1/emb5" -> "4684db43a1d03dbd",
      "mut2/emb4" -> "b82b99a0a32398c7", "mut2/emb5" -> "21979bb121645b8e",
      "mut3/emb4" -> "e2aa11d2d1834510", "mut3/emb5" -> "1ca162fa86058e6b")
    val drifted = got.filter { case (c, d) => d != pinned(c) }
    assert(drifted.isEmpty, drifted.map { case (c, d) => s"$c -> $d" }.mkString("raw bits drifted: ", ", ", ""))
  }

  private val long = Array(1, 5, 9, 3, 2, 7, 0, 11, 4, 2, 6, 8)
  private def chans(s: Array[Int]) = chanRow(Array(s, s.map(_ % 6), s.map(_ % 7), s.map(_ % 8)), 1)

  test("LSTM, stacked, conv and concat start, logits and accumulate are pinned to the raw bits") {
    // Each case folds start, then per truncate and per row the logits, one
    // accumulate's grad from `from` on, and its loss. The LSTM pins the
    // whole grad; the others pin every entry past the embedding tables,
    // where no sum depends on the order a repeated token's rows are
    // scattered in. Conv is never truncated and adds T = 2 (< its filter)
    def pin[R <: LabeledRow](m: Int => SentenceModel[R], truncs: Seq[Int], rows: Seq[R],
        from: Int): String = rawDigest(Seq(m(0).start) ++ (for (k <- truncs; r <- rows) yield {
      val mk = m(k)
      val f = mk.start
      val grad = new Array[Double](mk.total)
      val loss = mk.accumulate(f, 0.5, r, mask, grad)
      Seq(mk.logits(f, 0.5, r), grad.drop(from), Array(loss))
    }).flatten)
    val sl = SentenceModel.lstmLayout(Seq(12), embDim = 4, hiddens = Seq(5, 5), relSize = 4)
    val cl = SentenceModel.lstmLayout(Seq(12, 6, 7, 8), 4, Seq(5, 5), 4)
    val vl = SentenceModel.lstmLayout(Seq(12), embDim = 4, hiddens = Seq(3), relSize = 4,
      convOut = 5)
    val seqRows = Seq(Array(7), long).map(row(_, 1))
    val got = Map(
      "lstm" -> pin(k => SentenceModel.lstm(w, truncate = k), Seq(0, 4), seqRows, 0),
      "stack" -> pin(k => SentenceModel.stacked(sl, seed = 3L, truncate = k), Seq(0, 4),
        seqRows, sl.layers.head.off),
      "conv" -> pin(_ => SentenceModel.conv(vl, seed = 3L), Seq(0),
        Seq(Array(7), Array(7, 3), long).map(row(_, 1)), vl.filter(0)),
      "concat" -> pin(k => SentenceModel.concat(cl, seed = 3L, truncate = k), Seq(0, 4),
        Seq(Array(7), long).map(chans), cl.layers.head.off))
    val pinned = Map(
      "lstm" -> "b0d8648a523f6336", "stack" -> "fc51e317af2b337a",
      "conv" -> "877b99531e5bd2f5", "concat" -> "3176cde0264eccbc")
    val drifted = got.filter { case (c, d) => d != pinned(c) }
    assert(drifted.isEmpty, drifted.map { case (c, d) => s"$c -> $d" }.mkString("raw bits drifted: ", ", ", ""))
  }

  test("every kernel's accumulate loss is the filtered cross-entropy of its logits, to the raw bits") {
    // the dev metrics read `logits`, training reads `accumulate`: both must
    // run the same forward, under truncation and at T = 0 and 1 too
    def check[R <: LabeledRow](name: String, m: SentenceModel[R], rows: Seq[R]): Unit = {
      val f = m.start
      rows.zipWithIndex.foreach { case (r, i) =>
        val loss = m.accumulate(f, 0.5, r, mask, new Array[Double](m.total))
        val expect = FlatModel.lossGrad(m.logits(f, 0.5, r), r.label, mask)._1
        assert(java.lang.Double.doubleToRawLongBits(loss) ===
          java.lang.Double.doubleToRawLongBits(expect), s"$name, row $i")
      }
    }
    val lens = Seq(Array.empty[Int], Array(7), Array(7, 3), long)
    val seqRows = lens.map(s => row(s, 1))
    val sl = SentenceModel.lstmLayout(Seq(12), embDim = 4, hiddens = Seq(5, 5), relSize = 4)
    val cl = SentenceModel.lstmLayout(Seq(12, 6, 7, 8), 4, Seq(5, 5), 4)
    val vl = SentenceModel.lstmLayout(Seq(12), embDim = 4, hiddens = Seq(3), relSize = 4,
      convOut = 5)
    Seq(0, 1, 4).foreach { k =>
      check(s"lstm/k$k", SentenceModel.lstm(w, truncate = k), seqRows)
      (0 to 3).foreach(kind => check(s"gated$kind/k$k", gated(kind, 4, k)._1, seqRows))
      check(s"stack/k$k", SentenceModel.stacked(sl, seed = 3L, truncate = k), seqRows)
      check(s"concat/k$k", SentenceModel.concat(cl, seed = 3L, truncate = k), lens.map(chans))
    }
    check("conv", SentenceModel.conv(vl, seed = 3L), seqRows)
  }

  test("LSTM and GRU/MUT1-3 scatter embedding gradients in descending t, to the raw bits") {
    // token 2 occurs four times, so its embedding row sums four terms whose
    // order shows in the bits (two terms commute exactly)
    val s = Array(2, 5, 2, 9, 2, 3, 2, 7)
    def embBits(m: SentenceModel[Trainer.SeqRow], rows: Int): String = {
      val grad = new Array[Double](m.total)
      m.accumulate(m.start, 0.5, row(s, 1), mask, grad)
      rawDigest(Seq(grad.take(rows)))
    }
    val got = Map("lstm" -> embBits(SentenceModel.lstm(w, truncate = 0), 12 * 4)) ++ (0 to 3).map { kind =>
      s"gated$kind" -> embBits(gated(kind, 4, 0)._1, 12 * 4)
    }
    val pinned = Map("lstm" -> "1da563d386ce669f", "gated0" -> "5b9dea886c0b7f75",
      "gated1" -> "ba752430a7fbc901", "gated2" -> "c615ef022bed38ca",
      "gated3" -> "1874d897b088805f")
    val drifted = got.filter { case (c, d) => d != pinned(c) }
    assert(drifted.isEmpty, drifted.map { case (c, d) => s"$c -> $d" }.mkString("raw bits drifted: ", ", ", ""))
  }

  test("double-precision training forward agrees with the float inference kernel") {
    val bundle = Pipeline.buildBundle()
    val flat = SentenceModel.flatten(bundle.weights)
    val lstm = SentenceModel.lstm(bundle.weights)
    val scorer = new Scorer(bundle.weights, bundle.typechecker)
    val r = (1f - bundle.weights.dropout).toDouble
    Seq(Array(1, 5, 9, 3, 2, 7), Array(4, 4, 4), Array(10)).foreach { s =>
      val a = lstm.logits(flat, r, row(s, 0))
      val b = scorer.logits(s)
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-3, s"double fwd $x vs float fwd $y")
      }
    }
  }
}
