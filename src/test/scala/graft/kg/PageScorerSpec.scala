package graft.kg

import org.scalatest.funsuite.AnyFunSuite

/** Kernel equivalence, Spark-free: one [[PageScorer]] reused across a page
  * set emits exactly the rows and the error count of the public stage
  * functions composed in the kernel's order — `TextExtract.extract` →
  * `Segment.sentences` → `tokenizeLower` → `detectMentionsIndexed` →
  * `candidatePairs` → digit zeroing and sent-model blanking →
  * `Scorer.logits` → `TypeChecker.decide`, with no memo and no reused
  * buffer. The gazetteer scan is greedy, so a page never yields overlapping
  * mentions; the error channel is driven instead by an NER type outside an
  * NER vocabulary without UNK (the lookup throws NoSuchElementException).
  * PropertySpec covers the overlap rejection on the kernel's blanking. */
class PageScorerSpec extends AnyFunSuite {

  private lazy val bundle = Pipeline.buildBundle()

  private def reference(b: Pipeline.ScoringBundle,
      pages: Seq[(String, Array[Byte])]): (List[ScoredPair], Long, Int) = {
    val scorer = new Scorer(b.weights, b.typechecker)
    val gaz = new Segment.GazetteerIndex(b.gazetteer)
    val noRel = b.rel("no_relation")
    var errors = 0L
    var pairs = 0
    val rows = for {
      (url, html) <- pages.toList
      (sent, sentIdx) <- Segment.sentences(TextExtract.extract(html)).zipWithIndex
      lower = Segment.tokenizeLower(sent)
      (s, o) <- Segment.candidatePairs(Segment.detectMentionsIndexed(lower, gaz))
      row <- {
        pairs += 1
        val words = Adaptors.zeroDigits(lower).toIndexedSeq
        try {
          val seq = new SentenceBlanking(words.length, s, o, b.scope) {
            def word(i: Int): Int = b.word(words(i))
            def tag(ner: String): Int = b.word(ner)
          }.sequence
          val (rel, conf) = b.typechecker.decide(scorer.logits(seq), b.ner(s.ner), b.ner(o.ner))
          if (rel == noRel) None
          else Some(ScoredPair(url, sentIdx, s.surface, s.ner, o.surface, o.ner,
            b.rel.index2word(rel), conf))
        } catch {
          case _: NoPathException | _: NoSuchElementException => errors += 1; None
        }
      }
    } yield row
    (rows, errors, pairs)
  }

  private def kernel(b: Pipeline.ScoringBundle,
      pages: Seq[(String, Array[Byte])]): (List[ScoredPair], Long) = {
    var errors = 0L
    val kernel = new PageScorer(b, () => errors += 1)
    val rows = pages.iterator.flatMap { case (url, html) => kernel.score(url, html) }.toList
    (rows, errors)
  }

  private def assertSame(b: Pipeline.ScoringBundle, pages: Seq[(String, Array[Byte])]): (Int, Long, Int) = {
    val (want, wantErrors, pairs) = reference(b, pages)
    val (got, gotErrors) = kernel(b, pages)
    assert(got.size === want.size)
    got.zip(want).foreach { case (g, w) => assert(g === w) }
    assert(gotErrors === wantErrors)
    (want.size, wantErrors, pairs)
  }

  private def html(i: Int, body: String): (String, Array[Byte]) =
    (s"https://example.org/hand/$i", body.getBytes("UTF-8"))

  test("templated pages: the kernel equals the composed stage functions") {
    val pages = (0L until 400L).map { i => val p = Gen.page(42L, i, withText = false); (p.url, p.html) }
    val (rows, _, _) = assertSame(bundle, pages)
    assert(rows > 400)
  }

  test("diverse-style pages: entities among vocabulary words, rare memo hits") {
    val vocab = bundle.word.index2word.filter(w => w.forall(_.isLetter) && w.toUpperCase != w)
    val surfaces = Gen.allEntities.flatMap(_.surfaces)
    val pages = (0 until 150).map { i =>
      val rng = new Gen.Rng(1000L + i)
      def words(k: Int) = Seq.fill(1 + rng.nextInt(k))(vocab(rng.nextInt(vocab.length)))
      val paras = Seq.fill(2 + rng.nextInt(4)) {
        val parts = words(4) ++ Seq.fill(2 + rng.nextInt(3))(
          surfaces(rng.nextInt(surfaces.length)) +: words(5)).flatten
        s"<p>${parts.mkString(" ")} .</p>"
      }
      html(i, s"<html><body>\n${paras.mkString("\n")}\n</body></html>")
    }
    val (rows, _, pairs) = assertSame(bundle, pages)
    assert(rows > 100 && pairs > rows)
  }

  test("hand-made pages: case, digits, punctuation, odd whitespace, empty html, no mention") {
    val pages = Seq(
      "<P>JAMES BROWN works for ACME CORP.</P><p>Mary Hernandez was born in Springfield, 1999.</p>",
      "<p>john lopez founded globex in 1987 . robert jackson married linda gonzalez in 1999 !</p>",
      "<div>david lee\rmoved\fto\u000Bfreedonia\t last year .</div>",
      "",
      "<p>the weather stayed mild through the season .</p>",
      "<p>nothing here matches any entity at all</p>",
      "<p>acme corp, globex; initech: hooli? wakanda.</p>",
      "<p>&amp; &lt;b&gt; 1234 1,234 12.5 007 .</p>")
      .zipWithIndex.map { case (body, i) => html(i, body) }
    val (rows, errors, _) = assertSame(bundle, pages)
    assert(rows > 0 && errors === 0)
  }

  test("adjacent and dense mentions: the 20-pair cap binds and failing pairs count toward it") {
    // ALIEN is a gazetteer type the NER vocabulary does not hold, and the
    // NER vocabulary has no UNK here, so a pair touching it fails in the
    // NER-id lookup: counted as an error, no row
    val b = bundle.copy(ner = bundle.ner.copy(unkId = -1),
      gazetteer = bundle.gazetteer + ("zorblax" -> "ALIEN"))
    val dense = "james brown zorblax mary hernandez acme corp robert jackson zorblax globex " +
      "linda gonzalez wakanda springfield"
    val pages = Seq(
      html(0, s"<p>$dense .</p><p>james brown acme corp .</p>"),
      html(1, "<p>zorblax works for acme corp . john lopez zorblax .</p>"))
    val (_, errors, pairs) = assertSame(b, pages)
    assert(errors > 0)
    val gaz = new Segment.GazetteerIndex(b.gazetteer)
    val mentions = Segment.detectMentionsIndexed(Segment.tokenizeLower(dense), gaz)
    assert(mentions.size === 10)
    assert(Segment.candidatePairs(mentions, maxPairs = Int.MaxValue).size === 6 * 9)
    assert(Segment.candidatePairs(mentions).size === Segment.MaxPairs)
    assert(pairs > Segment.MaxPairs)
  }
}
