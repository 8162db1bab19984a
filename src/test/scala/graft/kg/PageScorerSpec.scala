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
  * PropertySpec covers the overlap rejection on the kernel's blanking.
  * The kernel's int front end is checked on its own too: per sentence, its
  * word ids and mentions equal `tokenizeLower` → `detectMentionsIndexed` →
  * `zeroDigit` → vocabulary ids, over more distinct tokens than its token
  * table holds. */
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

  /** The bundle's gazetteer plus surfaces that share a first token or
    * extend one another, with a digit token, a non-ASCII one, some that
    * can never match a lower-cased token, and an NER type the NER
    * vocabulary does not hold. */
  private val trickyGazetteer = bundle.gazetteer ++ Map(
    "new" -> "MISC", "new york" -> "CITY", "new york city" -> "CITY",
    "york" -> "CITY", "york university" -> "ORGANIZATION",
    "acme" -> "ORGANIZATION", "acme corp international" -> "ORGANIZATION",
    "a b c" -> "PERSON", "a b" -> "ORGANIZATION", "a" -> "DATE",
    "1999 group" -> "ORGANIZATION", "café wakanda" -> "ORGANIZATION",
    "Upper case" -> "PERSON", "st. louis" -> "CITY", "two  spaces" -> "CITY",
    "zorblax" -> "ALIEN", "zorblax prime" -> "PERSON")

  /** Random sentences over gazetteer surfaces in mixed case, vocabulary
    * words, non-ASCII and all-digit tokens, trailing and lone punctuation,
    * odd whitespace, and `fresh` new tokens each. */
  private def randomSentences(seed: Long, count: Int, fresh: Int): IndexedSeq[String] = {
    val rng = new scala.util.Random(seed)
    val surfaces = trickyGazetteer.keys.toIndexedSeq.sorted
    val vocab = bundle.word.index2word.take(300)
    val odd = IndexedSeq("café", "CAFÉ", "Straße", "İstanbul", "ΩMEGA", "naïve", "1999", "007",
      "42", "1,234", "12.5", "2024.", "..", "?!", ".", ";", "a.b", "NEW", "York,", "x:")
    val ws = IndexedSeq(" ", " ", " ", "  ", "\t", "\u000B", "\f", "\r")
    def mixCase(w: String) = w.map(c => if (rng.nextInt(3) == 0) c.toUpper else c)
    var next = 0
    (0 until count).map { _ =>
      val toks = IndexedSeq.fill(fresh) { next += 1; mixCase(s"t${Integer.toString(next, 36)}") } ++
        IndexedSeq.fill(4 + rng.nextInt(8)) {
          rng.nextInt(4) match {
            case 0 => mixCase(surfaces(rng.nextInt(surfaces.size)))
            case 1 => vocab(rng.nextInt(vocab.size))
            case 2 => odd(rng.nextInt(odd.size))
            case _ => mixCase(vocab(rng.nextInt(vocab.size))) + ".,!?;:".charAt(rng.nextInt(6))
          }
        }
      rng.shuffle(toks).map(_ + ws(rng.nextInt(ws.size))).mkString.trim
    }
  }

  test("int front end: word ids and mentions equal tokenizeLower, detectMentionsIndexed, zeroDigit and the vocabulary") {
    val gaz = new Segment.GazetteerIndex(trickyGazetteer)
    val b = bundle.copy(ner = bundle.ner.copy(unkId = -1), gazetteer = trickyGazetteer)
    // one kernel per word vocabulary, each reused over every sentence as a
    // task reuses it, so their token tables fill and clear mid-run
    val withUnk = new PageScorer(b, () => ())
    val noUnk = new PageScorer(b.copy(word = b.word.copy(unkId = -1)), () => ())
    val distinct = scala.collection.mutable.HashSet.empty[String]
    val seen = scala.collection.mutable.Set.empty[String]
    // fixed edge cases first: empty, lone and doubled punctuation, a dot
    // inside a token, non-ASCII upper case, digits before a full stop
    val fixed = Seq("", "A", "A.", "HeLLo, WoRLD!", "x  Y\tZ.", "..", "a.b", "ÜPPER X,",
      "Born 1984.", ". ,", "New York City, new york.")
    (fixed ++ randomSentences(7L, 3000, 25)).foreach { sent =>
      val lower = Segment.tokenizeLower(sent)
      distinct ++= lower
      val zeroed = Adaptors.zeroDigits(lower)
      val mentions = Segment.detectMentionsIndexed(lower, gaz)
      assert(withUnk.frontEnd(sent) === ((zeroed.map(b.word(_)), mentions)), sent)
      assert(noUnk.frontEnd(sent) === ((zeroed.map(w => if (b.word.contains(w)) b.word(w) else -1),
        mentions)), sent)
      if (lower.exists(w => Adaptors.isAsciiDigits(w))) seen += "digits"
      if (sent.exists(c => c > 127 && c.isLetter)) seen += "non-ASCII"
      if (sent.exists(c => c >= 'A' && c <= 'Z')) seen += "upper case"
      if (lower.exists(w => w.length == 1 && ".,!?;:".contains(w))) seen += "punctuation"
      mentions.foreach { m =>
        if (m.end - m.begin > 1) seen += "multi-token"
        if (Set("new york city", "york university", "a b c")(m.surface)) seen += "longest of shared first"
        if (Set("new", "york", "a")(m.surface)) seen += "shortest of shared first"
        if (m.ner == "ALIEN") seen += "NER outside the vocabulary"
      }
    }
    assert(distinct.size > TokenTable.Cap, "the token table must clear mid-run")
    assert(seen === Set("digits", "non-ASCII", "upper case", "punctuation", "multi-token",
      "longest of shared first", "shortest of shared first", "NER outside the vocabulary"))
  }

  test("a page with more distinct tokens than the token table holds: the kernel equals the composed stage functions") {
    val b = bundle.copy(ner = bundle.ner.copy(unkId = -1), gazetteer = trickyGazetteer)
    val sents = randomSentences(11L, 2800, 25)
    val (rows, errors, _) = assertSame(b, Seq(html(0, sents.map(s => s"<p>$s</p>").mkString("\n"))))
    assert(sents.iterator.flatMap(Segment.tokenizeLower).distinct.size > TokenTable.Cap)
    assert(rows > 0 && errors > 0)
  }
}
