package graft.kg

import org.scalatest.funsuite.AnyFunSuite

/** The Scorer's forward pass over its reused per-thread scratch, and
  * `TypeChecker.decide` over memoized logits: one Scorer fed an adversarial
  * call order returns, bit for bit, what a fresh Scorer returns for each
  * call alone. */
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
