package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen.{listOfN, chooseNum, alphaLowerStr, oneOf}
import org.scalacheck.Gen

/** Property tests pinning parse/featurize laws (SURVEY.md §5.2).
  * Uses raw ScalaCheck generators with a deterministic seed walk (the
  * scalatest-scalacheck bridge isn't in the offline cache; determinism is
  * a feature here anyway). */
class PropertySpec extends AnyFunSuite {

  private def forAll[A](gen: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    var produced = 0
    var attempts = 0
    while (produced < n && attempts < n * 20) {
      gen.apply(Gen.Parameters.default, seed).foreach { a => f(a); produced += 1 }
      seed = seed.next
      attempts += 1
    }
    assert(produced > n / 2, s"generator too restrictive: $produced/$n")
  }

  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(ga.flatMap(a => gb.map(b => (a, b))))(t => f(t._1, t._2))

  private val token: Gen[String] =
    oneOf(alphaLowerStr.suchThat(_.nonEmpty), Gen.numStr.suchThat(_.nonEmpty),
      Gen.const(","), Gen.const("x1y"))
  private val tokens: Gen[List[String]] =
    chooseNum(1, 12).flatMap(n => listOfN(n, token))

  test("brace-array round trip incl. the ,,, comma hack (P2)") {
    // The ',,,' encoding is ambiguous when comma tokens are adjacent
    // (',,,' next to a separator creates runs the reference's replace()
    // cannot invert either — reference data/adaptors.py:87-94 has the same
    // limitation). Property: round trip holds whenever comma tokens are
    // isolated (non-comma neighbors), which is the shape real TSV rows have.
    val nonComma = oneOf(alphaLowerStr.suchThat(_.nonEmpty), Gen.numStr.suchThat(_.nonEmpty))
    val isolated = for {
      pre <- chooseNum(1, 5).flatMap(listOfN(_, nonComma))
      post <- chooseNum(1, 5).flatMap(listOfN(_, nonComma))
      withComma <- oneOf(true, false)
    } yield if (withComma) pre ++ List(",") ++ post else pre ++ post
    forAll(isolated) { toks =>
      // upstream encoding is a plain comma-join: a literal ',' token between
      // separators appears as ',,,' — exactly what the decode hack inverts
      val encoded = "[" + toks.mkString(",") + "]"
      assert(Adaptors.parseArrayBrace(encoded) === toks)
    }
  }

  test("digit zeroing preserves token count and lengths (P3)") {
    forAll(tokens) { toks =>
      val z = Adaptors.zeroDigits(toks)
      assert(z.length === toks.length)
      assert(z.zip(toks).forall { case (a, b) => a.length == b.length })
      assert(z.forall(t => !Adaptors.isAsciiDigits(t) || t.forall(_ == '0')))
    }
  }

  private val exampleGen: Gen[SentenceExample] = for {
    n <- chooseNum(4, 20)
    words <- listOfN(n, alphaLowerStr.suchThat(_.nonEmpty))
    sb <- chooseNum(0, n - 2)
    se <- chooseNum(sb + 1, n - 1)
    // object span strictly after subject span (non-overlapping)
    ob <- chooseNum(se, n - 1)
    oe <- chooseNum(ob + 1, n)
  } yield SentenceExample(words, words, words.map(_ => "NN"),
    words.map(_ => "O"), Seq.empty, sb, se, "", "PERSON", ob, oe, "", "CITY",
    Some("no_relation"), None, None)

  test("entity blanking: |sequence| = |words| - |spans| + 2; positions in bounds (M7 sent)") {
    forAll(exampleGen) { ex =>
      val vocabs = new VocabSet
      val f = new SentenceFeaturizer(vocabs, scope = -1)
      val feat = f.featurize(ex, add = true)
      val spanTokens = (ex.subjectEnd - ex.subjectBegin) + (ex.objectEnd - ex.objectBegin)
      assert(feat.length === ex.words.length - spanTokens + 2)
      assert(feat.subjectPos >= 0 && feat.subjectPos < feat.length)
      assert(feat.objectPos >= 0 && feat.objectPos < feat.length)
      // the blanked positions decode to the NER types
      assert(vocabs.word.index2word(feat.sequence(feat.subjectPos)) === "PERSON")
      assert(vocabs.word.index2word(feat.sequence(feat.objectPos)) === "CITY")
    }
  }

  test("scope slice is a contiguous subsequence of the full sequence (W1)") {
    forAll(exampleGen, chooseNum(1, 4)) { (ex, scope) =>
      val vFull = new VocabSet
      val full = new SentenceFeaturizer(vFull, -1).featurize(ex, add = true)
      val vScoped = new VocabSet
      val scoped = new SentenceFeaturizer(vScoped, scope).featurize(ex, add = true)
      val fullWords = full.sequence.map(vFull.word.index2word(_))
      val scopedWords = scoped.sequence.map(vScoped.word.index2word(_))
      assert(scopedWords.length <= fullWords.length)
      assert(fullWords.containsSlice(scopedWords))
    }
  }

  private lazy val bundle = Pipeline.buildBundle()

  /** Two non-empty spans placed independently (either order, adjacent,
    * touching either sentence edge, or overlapping) over a mix of in-vocab
    * and out-of-vocab words, with NER tags in and out of the NER vocab. */
  private val spanPairGen: Gen[(SentenceExample, Int)] = for {
    n <- chooseNum(2, 14)
    words <- listOfN(n, oneOf(
      oneOf(bundle.word.index2word.toSeq.take(80)), alphaLowerStr.suchThat(_.nonEmpty)))
    sb <- chooseNum(0, n - 1)
    se <- chooseNum(sb + 1, math.min(n, sb + 3))
    ob <- chooseNum(0, n - 1)
    oe <- chooseNum(ob + 1, math.min(n, ob + 3))
    sNer <- oneOf("PERSON", "CITY", "O", "NOT_A_TYPE")
    oNer <- oneOf("ORGANIZATION", "PERSON", "DATE")
    scope <- oneOf(-1, 0, 1, 2, 3, 4)
  } yield (SentenceExample(words, words, words.map(_ => "NN"), words.map(_ => "O"),
    Seq.empty, sb, se, "", sNer, ob, oe, "", oNer, None, None, None), scope)

  test("sent featurizer and the kernel's PageScorer blanking agree on sequence and NER ids (M7 sent)") {
    val vocabs = bundle.toVocabSet
    val seen = scala.collection.mutable.Set.empty[String]
    // one kernel per scope, reused across cases like a task reuses its buffers
    val kernels = Seq(-1, 0, 1, 2, 3, 4)
      .map(sc => sc -> new PageScorer(bundle.copy(scope = sc), () => ())).toMap
    forAll(spanPairGen, n = 3000) { case (ex, scope) =>
      val f = new SentenceFeaturizer(vocabs, scope)
      def kernel() = kernels(scope).featurize(ex.words.toIndexedSeq,
        Mention(ex.subjectBegin, ex.subjectEnd, ex.subject, ex.subjectNer),
        Mention(ex.objectBegin, ex.objectEnd, ex.objectVal, ex.objectNer))
      val overlap = ex.subjectBegin < ex.objectEnd && ex.objectBegin < ex.subjectEnd
      if (overlap) {
        seen += "overlap"
        assertThrows[NoPathException](f.featurize(ex, add = false))
        assertThrows[NoPathException](kernel())
      } else {
        seen += (if (ex.subjectBegin < ex.objectBegin) "subject first" else "object first")
        if (ex.subjectEnd == ex.objectBegin || ex.objectEnd == ex.subjectBegin) seen += "adjacent"
        if (math.min(ex.subjectBegin, ex.objectBegin) == 0) seen += "left edge"
        if (math.max(ex.subjectEnd, ex.objectEnd) == ex.words.length) seen += "right edge"
        seen += s"scope $scope"
        val feat = f.featurize(ex, add = false)
        val (seq, sNer, oNer) = kernel()
        assert(feat.sequence === seq.toSeq, s"scope $scope: $ex")
        assert((feat.subjectNer, feat.objectNer) === ((sNer, oNer)), s"$ex")
      }
    }
    assert(seen === Set("overlap", "subject first", "object first", "adjacent", "left edge",
      "right edge") ++ Seq(-1, 0, 1, 2, 3, 4).map(s => s"scope $s"))
  }

  test("softmax confidence in (0,1]; zero-mask preserves a POSITIVE valid argmax (M2/M3)") {
    val logitsGen = chooseNum(2, 10).flatMap(n =>
      listOfN(n, chooseNum(-10.0, 10.0)))
    forAll(logitsGen) { ls =>
      val arr = ls.toArray
      val mx = arr.max
      val conf = 1.0 / arr.map(v => math.exp(v - mx)).sum
      assert(conf > 0.0 && conf <= 1.0)
      val best = arr.indexOf(mx)
      val masked = arr.zipWithIndex.map { case (v, i) => if (i == best || i % 2 == 0) v else 0.0 }
      if (mx > 0) {
        // zero-masking (kbp.py:56 multiplies, it does not -inf) preserves the
        // argmax only when the kept maximum is positive...
        assert(masked.indexOf(masked.max) === best)
      } else {
        // ...otherwise a masked zero can win — the reference's documented
        // bug-compatible behavior (see Scorer scaladoc).
        assert(masked.max >= mx)
      }
    }
  }

  test("corruption always shortens by exactly one and relabels (M5)") {
    val featGen = chooseNum(2, 15).flatMap(n => listOfN(n, chooseNum(0, 50))).map(seq =>
      Featurized(seq, 1, 2, Some(5), 0, 1, seq.length, "s", "o", "PERSON", "O"))
    forAll(featGen, chooseNum(0L, Long.MaxValue / 2)) { (feat, seed) =>
      val c = FeaturizeStage.corruptOne(feat, 0, seed)
      assert(c.isDefined)
      assert(c.get.sequence.length === feat.sequence.length - 1)
      assert(c.get.relation === Some(0))
      assert(c === FeaturizeStage.corruptOne(feat, 0, seed)) // replay-deterministic
    }
  }

  test("simhash: identical text → identical hash; hamming bounded by 64") {
    forAll(tokens, tokens) { (a, b) =>
      val ta = a.mkString(" "); val tb = b.mkString(" ")
      assert(graft.ops.Dedup.simhash64(ta) === graft.ops.Dedup.simhash64(ta))
      val d = java.lang.Long.bitCount(
        graft.ops.Dedup.simhash64(ta) ^ graft.ops.Dedup.simhash64(tb))
      assert(d >= 0 && d <= 64)
      if (ta == tb) assert(d === 0)
    }
  }

  test("text extraction is idempotent on plain text and deterministic") {
    forAll(tokens) { toks =>
      val plain = toks.mkString(" ")
      val once = TextExtract.extract(plain.getBytes("UTF-8"))
      assert(TextExtract.extract(once.getBytes("UTF-8")) === once)
    }
  }

  test("report parsers never throw on arbitrary/truncated text (fuzz, seeded)") {
    // mirrors the container fuzz contract (MultimodalSpec): random payloads
    // + random-corrupted VALID reports must skip-and-count, never throw
    val rng = new java.util.Random(8484L)
    val printable = (32 to 126).map(_.toChar) ++ Seq('\n', '\t', '\n', '\n')
    def randText(): String =
      Array.fill(rng.nextInt(300))(printable(rng.nextInt(printable.length))).mkString
    (1 to 300).foreach { _ =>
      val t = randText()
      val bad = new java.util.concurrent.atomic.LongAdder
      Reports.parseSklearnReport(t, Some(bad))
      Reports.parseGaborReport(t, Some(bad))
    }
    // corrupted valid reports: truncate at a random offset and flip chars
    val valids = Seq(graft.SampleReports.sklearn, graft.SampleReports.gabor)
    (1 to 300).foreach { _ =>
      val base = valids(rng.nextInt(valids.length))
      val cut = base.substring(0, rng.nextInt(base.length + 1)).toCharArray
      (0 to rng.nextInt(4)).foreach { _ =>
        if (cut.nonEmpty)
          cut(rng.nextInt(cut.length)) = printable(rng.nextInt(printable.length))
      }
      val t = new String(cut)
      Reports.parseSklearnReport(t)
      Reports.parseGaborReport(t)
    }
    // the counting itself: a valid report inside garbage parses its rows
    // and counts exactly the garbage lines
    val bad = new java.util.concurrent.atomic.LongAdder
    val rows = Reports.parseGaborReport(
      "garbage here\n" + graft.SampleReports.gabor + "\ntrailing junk", Some(bad))
    assert(rows.nonEmpty)
    assert(bad.sum() === 2L)
  }
}
