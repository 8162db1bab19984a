package graft.kg

import org.scalatest.funsuite.AnyFunSuite

/** Model-zoo dispatch (M1 family: models.py:19-143 surface). */
class ModelsSpec extends AnyFunSuite {

  private lazy val bundle = Pipeline.buildBundle()
  private val seq1 = Array(1, 5, 9, 3, 2, 7)

  private def cfg(model: String, rnn: String = "lstm") =
    Models.ModelConfig(model = model, rnn = rnn, embDim = 8, hidden = (12, 10))

  test("all four model shapes dispatch and score deterministically") {
    for (model <- Seq("single_small", "single", "single_conv", "concat");
         rnn <- Seq("lstm", "gru")) {
      val scorer = Models.get(cfg(model, rnn), bundle)
      val channels =
        if (model == "concat")
          Array(seq1, Array(1, 2, 1, 2, 1, 2), Array(0, 1, 2, 3, 4, 5), Array(2, 2, 2, 2, 2, 2))
        else Array(seq1)
      val (idx, conf) = scorer.predict(channels, bundle.ner("PERSON"), bundle.ner("CITY"))
      val again = Models.get(cfg(model, rnn), bundle).predict(channels,
        bundle.ner("PERSON"), bundle.ner("CITY"))
      assert((idx, conf) === again, s"$model/$rnn must be deterministic")
      assert(idx >= 0 && idx < bundle.rel.size)
      assert(conf > 0 && conf <= 1, s"$model/$rnn conf=$conf")
    }
  }

  test("concat featurization resolves every channel against the bundle vocabs") {
    // regression: a bundle without pos/dep views starved the concat arc
    // channel (every featurization threw vocab-miss and was silently
    // skipped — the zoo's concat row scored ZERO examples)
    val f = new ConcatenatedDependencyFeaturizer(bundle.toVocabSet)
    var ok = 0
    (0L until 50L).foreach { i =>
      try {
        val (_, ch) = f.featurizeChannels(Gen.labeledExample(42L, i), add = false)
        assert(ch.words.length === ch.arc.length && ch.words.length === ch.pos.length)
        if (ch.words.nonEmpty) ok += 1
      } catch { case _: NoPathException => () }
    }
    assert(ok > 25, s"most examples must channelize, got $ok/50")
  }

  test("mut1-3 are real JZS cells: pairwise distinct, distinct from gru, deterministic") {
    val outs = Seq("gru", "mut1", "mut2", "mut3").map(r =>
      r -> Models.get(cfg("single_small", r), bundle).logits(Array(seq1)).toSeq)
    outs.combinations(2).foreach { case Seq((n1, o1), (n2, o2)) =>
      assert(o1 !== o2, s"$n1 and $n2 must differ in gate wiring")
    }
    for ((m, o) <- outs)
      assert(Models.get(cfg("single_small", m), bundle).logits(Array(seq1)).toSeq === o,
        s"$m must be deterministic")
    assertThrows[IllegalArgumentException](Models.get(cfg("single_small", "nope"), bundle))
    assertThrows[IllegalArgumentException](Models.get(cfg("nope"), bundle))
  }

  test("mut cells handle matching dims (raw-x path) and dim mismatch (projection)") {
    for (m <- Seq("mut1", "mut2", "mut3")) {
      // embDim == hidden1 → x enters ungated without projection
      val matched = Models.ModelConfig("single_small", m, embDim = 12, hidden = (12, 10))
      val (i1, c1) = Models.get(matched, bundle).predict(Array(seq1), 1, 2)
      assert(c1 > 0 && c1 <= 1 && i1 >= 0)
      // embDim != hidden1 → fixed seeded projection
      val (i2, c2) = Models.get(cfg("single_small", m), bundle).predict(Array(seq1), 1, 2)
      assert(c2 > 0 && c2 <= 1 && i2 >= 0)
    }
  }

  test("lstm and gru produce different scores; layers matter") {
    val l = Models.get(cfg("single", "lstm"), bundle).logits(Array(seq1))
    val g = Models.get(cfg("single", "gru"), bundle).logits(Array(seq1))
    assert(l.toSeq !== g.toSeq)
    val small = Models.get(cfg("single_small"), bundle).logits(Array(seq1))
    assert(small.toSeq !== l.toSeq)
  }

  test("conv model handles sequences shorter than the filter") {
    val scorer = Models.get(cfg("single_conv"), bundle)
    val (idx, conf) = scorer.predict(Array(Array(1, 2)), 1, 2)
    assert(conf > 0 && conf <= 1 && idx >= 0)
  }

  test("zoo single_small LSTM gives a confidence in (0, 1] under a typecheck mask") {
    // the masked argmax + softmax is TypeChecker.decide, as for Scorer.predict;
    // ScorerSpec pins both forward passes bit for bit
    val scorer = Models.get(cfg("single_small"), bundle)
    val perPer = scorer.predict(Array(seq1), bundle.ner("PERSON"), bundle.ner("PERSON"))
    assert(perPer._2 > 0 && perPer._2 <= 1)
  }
}
