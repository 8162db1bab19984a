package graft.kg

import org.scalatest.funsuite.AnyFunSuite

/** The Scorer's forward pass over its reused per-thread scratch, and
  * `TypeChecker.decide` over memoized logits: one Scorer fed an adversarial
  * call order returns, bit for bit, what a fresh Scorer returns for each
  * call alone. Two MD5 pins over raw IEEE bits fix the Float inference
  * outputs of `Scorer` and of every `ZooScorer` model and cell. */
class ScorerSpec extends AnyFunSuite {

  private lazy val bundle = Pipeline.buildBundle()
  // a small vocabulary keeps a fresh Scorer (its input-gate table) cheap
  private val vocab = 64
  private lazy val weights = ScorerWeights.fixture(vocabSize = vocab, relSize = bundle.rel.size)
  private def fresh() = new Scorer(weights, bundle.typechecker)

  private def bits(xs: Array[Float]): Seq[Int] = xs.toSeq.map(java.lang.Float.floatToRawIntBits)
  private def bits(p: (Int, Double)): (Int, Long) = (p._1, java.lang.Double.doubleToRawLongBits(p._2))

  private val rng = new java.util.Random(7L)
  private def ids(n: Int): Array[Int] = Array.fill(n)(rng.nextInt(vocab))

  /** Sequences in an order where leftover state from one call would show. */
  private lazy val adversarial: Seq[Array[Int]] = {
    val a = ids(10)
    val walk = Iterator.iterate(a) { prev => // keep a random prefix, append a random tail
      prev.take(rng.nextInt(prev.length + 1)) ++ ids(rng.nextInt(12))
    }.slice(1, 120).toSeq
    Seq(
      a, a.clone(), // identical repeat
      a.take(6), // the new sequence a prefix of the last
      a.take(6) ++ ids(5), // the last a prefix of the new
      (a.head + 1) % vocab +: a.tail, // divergence at t = 0
      Array.emptyIntArray, a, Array.emptyIntArray,
      a ++ ids(40), // longer than any before
      ids(3)) ++ walk
  }

  private def nerPair(i: Int): (Int, Int) = {
    val n = bundle.typechecker.nerSize
    (i % n, (i * 7 + 3) % n)
  }

  test("logits, hiddenState and predict match a fresh Scorer per call") {
    for (method <- Seq("logits", "hiddenState", "predict")) {
      val shared = fresh()
      adversarial.zipWithIndex.foreach { case (seq, i) =>
        val (s, o) = nerPair(i)
        val ctx = s"$method call $i (length ${seq.length})"
        method match {
          case "logits" => assert(bits(shared.logits(seq)) === bits(fresh().logits(seq)), ctx)
          case "hiddenState" =>
            assert(bits(shared.hiddenState(seq)) === bits(fresh().hiddenState(seq)), ctx)
          case _ => assert(bits(shared.predict(seq, s, o)) === bits(fresh().predict(seq, s, o)), ctx)
        }
      }
    }
  }

  test("mutating the caller's array after a call does not corrupt the next call") {
    val shared = fresh()
    val seq = ids(12)
    shared.logits(seq)
    seq(4) = (seq(4) + 1) % vocab // same array, same length: only position 4 differs
    assert(bits(shared.logits(seq)) === bits(fresh().logits(seq)))
    seq(0) = (seq(0) + 1) % vocab
    assert(bits(shared.hiddenState(seq)) === bits(fresh().hiddenState(seq)))
  }

  test("a call that throws mid-sequence leaves no stale state behind") {
    val shared = fresh()
    val a = ids(8)
    shared.logits(a)
    val bad = a.take(3) ++ Array(vocab + 5) ++ ids(4) // out-of-vocabulary id at t = 3
    intercept[ArrayIndexOutOfBoundsException](shared.logits(bad))
    val next = a.take(3) ++ ids(6)
    assert(bits(shared.logits(next)) === bits(fresh().logits(next)))
    assert(bits(shared.logits(a)) === bits(fresh().logits(a)))
  }

  test("two threads sharing one Scorer match a fresh Scorer per call") {
    val streams = Seq.fill(2)(adversarial.map(_ => ids(1 + rng.nextInt(20))) ++ adversarial)
    val expected = streams.map(_.map(seq => bits(fresh().logits(seq))))
    val shared = fresh()
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = streams.map { stream =>
      val out = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Int]]()
      val th = new Thread(() => {
        start.await()
        for (_ <- 0 until 5; seq <- stream) out.add(bits(shared.logits(seq)))
      })
      th.start()
      (th, out)
    }
    start.countDown()
    results.foreach(_._1.join())
    results.map(_._2).zip(expected).foreach { case (got, want) =>
      assert(got.toArray.toSeq === Seq.fill(5)(want).flatten)
    }
  }

  test("a dropped Scorer can be collected after it ran on a long-lived thread") {
    // the per-thread scratch outlives the Scorer in this thread's
    // ThreadLocal map; it must not reach back to the Scorer, or every Scorer
    // a pooled task thread ever built would stay alive with it
    def useAndDrop(): java.lang.ref.WeakReference[Scorer] = {
      val scorer = fresh()
      scorer.logits(ids(30))
      scorer.hiddenState(ids(5))
      new java.lang.ref.WeakReference(scorer)
    }
    val ref = useAndDrop()
    var tries = 0
    while (ref.get != null && tries < 50) { System.gc(); Thread.sleep(10); tries += 1 }
    assert(ref.get == null, "the Scorer stayed reachable after use")
  }

  /** MD5 over the raw IEEE bits `emit` writes: a hash moves when any output
    * bit moves, not just when a rounded figure does. */
  private def bitsMd5(emit: java.io.DataOutputStream => Unit): String = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bytes)
    emit(out)
    out.flush()
    java.security.MessageDigest.getInstance("MD5").digest(bytes.toByteArray)
      .map(b => f"${b & 0xff}%02x").mkString
  }
  private def writeBits(out: java.io.DataOutputStream, xs: Array[Float]): Unit = {
    out.writeInt(xs.length)
    xs.foreach(x => out.writeInt(java.lang.Float.floatToRawIntBits(x)))
  }

  test("raw Float bits of Scorer.logits, hiddenState and predict are pinned") {
    val scorer = new Scorer(bundle.weights, bundle.typechecker)
    val r = new java.util.Random(20261017L)
    val v = bundle.word.size
    val n = bundle.typechecker.nerSize
    val md5 = bitsMd5 { out =>
      for (i <- 0 until 3000) {
        val seq = Array.fill(r.nextInt(41))(r.nextInt(v))
        val (s, o) = (r.nextInt(n), r.nextInt(n))
        writeBits(out, scorer.logits(seq))
        writeBits(out, scorer.hiddenState(seq))
        val (rel, conf) = scorer.predict(seq, s, o)
        out.writeInt(rel)
        out.writeLong(java.lang.Double.doubleToRawLongBits(conf))
      }
    }
    assert(md5 === "50606422a620cd282944713db26929ae")
  }

  test("raw Float bits of ZooScorer.logits are pinned for every model and cell") {
    val r = new java.util.Random(20261018L)
    val dims = Seq((8, (12, 10)), (12, (12, 12))) // ModelsSpec's dims; embDim == hidden
    val md5 = bitsMd5 { out =>
      for ((embDim, hidden) <- dims;
           model <- Seq("single_small", "single", "single_conv", "concat");
           rnn <- Seq("lstm", "gru", "mut1", "mut2", "mut3")) {
        val zoo = Models.get(Models.ModelConfig(model, rnn, embDim, hidden), bundle)
        for (_ <- 0 until 60) {
          val len = r.nextInt(26)
          val channels =
            if (model == "concat")
              Array(bundle.word.size, bundle.ner.size, bundle.word.size, bundle.word.size)
                .map(size => Array.fill(len)(r.nextInt(size)))
            else Array(Array.fill(len)(r.nextInt(bundle.word.size)))
          writeBits(out, zoo.logits(channels))
        }
      }
    }
    assert(md5 === "fcf93654bc68c3c5fa1d1eca5936ac84")
  }

  test("decide leaves its input untouched and equals predict for every NER pair") {
    val scorer = fresh()
    val seq = ids(9)
    val raw = scorer.logits(seq)
    val before = bits(raw)
    val n = bundle.typechecker.nerSize
    for (s <- 0 until n; o <- 0 until n) {
      assert(bits(bundle.typechecker.decide(raw, s, o)) === bits(fresh().predict(seq, s, o)),
        s"ner pair ($s, $o)")
      assert(bits(raw) === before, s"decide($s, $o) mutated its input")
    }
  }
}
