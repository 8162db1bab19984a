package graft.kg

import org.scalatest.funsuite.AnyFunSuite

/** Ports of the reference's own unit tests (tests/test_dependency.py,
  * tests/test_featurizers.py, tests/test_adaptors.py) — these pin byte-exact
  * parse/featurize semantics. */
class DependencySpec extends AnyFunSuite {

  // tests/test_dependency.py:11-29 — the Steph Curry fixture
  private val words = Vector("yesterday", ",", "Steph", "Curry", "had", "curry", "for", "dinner")
  private val dep = Seq(
    DepEdge(words.indexOf("yesterday"), words.indexOf("had"), "nmod:tmod"),
    DepEdge(words.indexOf("Steph"), words.indexOf("Curry"), "compound_from"),
    DepEdge(words.indexOf("Curry"), words.indexOf("had"), "nsubj"),
    DepEdge(words.indexOf("had"), 0, "root"),
    DepEdge(words.indexOf("curry"), words.indexOf("had"), "dobj"),
    DepEdge(words.indexOf("for"), words.indexOf("dinner"), "case"),
    DepEdge(words.indexOf("dinner"), words.indexOf("curry"), "nmod"))

  test("shortest path matches reference fixture (test_dependency.py:31-38)") {
    val parse = new DependencyParse(dep, enhanced = true)
    val shortest = parse.getPathFromParse(2, 4, 5, 6)
    assert(shortest === List(
      PathEdge(words.indexOf("curry"), words.indexOf("had"), "dobj_from"),
      PathEdge(words.indexOf("had"), -1, "root"),
      PathEdge(words.indexOf("had"), words.indexOf("Curry"), "nsubj_to")))
  }

  test("head walking stays within span") {
    val parse = new DependencyParse(dep, enhanced = true)
    // subject span [2,4): tail 'Curry'(3); parent 'had' is outside → head = 3
    assert(parse.getHead(3, 2, 4) === 3)
    // within-span walk: 'Steph'(2) has parent 'Curry'(3) in [2,4) → head = 3
    assert(parse.getHead(2, 2, 4) === 3)
  }
}

class FeaturizerSpec extends AnyFunSuite {

  // tests/test_featurizers.py:6-15 — dep here is already the path-shaped parse
  private val words = Vector("yesterday", ",", "Steph", "Curry", "had", "curry", "for", "dinner")
  private val ner = Vector("DATE", "O", "PERSON", "PERSON", "O", "O", "O", "O")
  private val pos = Vector("NN", ",", "NNP", "NNP", "VBD", "NN", "IN", "NN")
  private val dep = Seq(
    DepEdge(words.indexOf("curry"), words.indexOf("had"), "dobj"),
    DepEdge(words.indexOf("had"), -1, "root"),
    DepEdge(words.indexOf("Curry"), words.indexOf("had"), "nsubj"))

  private def fixtureExample = SentenceExample(
    words = words, lemmas = words, pos = pos, ner = ner, dependency = dep,
    subjectBegin = 2, subjectEnd = 4, subject = "steph curry", subjectNer = "PERSON",
    objectBegin = 5, objectEnd = 6, objectVal = "curry", objectNer = "O",
    relation = Some("no_relation"), subjectId = None, objectId = None)

  test("single-path featurizer matches reference (test_featurizers.py:18-33)") {
    val vocabs = new VocabSet
    val f = new SinglePathDependencyFeaturizer(vocabs)
    val got = f.featurize(fixtureExample, add = true)
    assert(vocabs.ner.index2word.toSet === Set("PERSON", "O"))
    assert(vocabs.word.index2word.toSet === Set("UNKNOWN", "O", "dobj_from", "had", "nsubj_to", "PERSON"))
    assert(got.subjectNer === vocabs.ner("PERSON"))
    assert(got.objectNer === vocabs.ner("O"))
    assert(got.sequence.map(vocabs.word.index2word(_)) ===
      Seq("O", "dobj_from", "had", "nsubj_to", "PERSON"))
  }

  test("concatenated featurizer matches reference (test_featurizers.py:36-59)") {
    val vocabs = new VocabSet
    val f = new ConcatenatedDependencyFeaturizer(vocabs)
    val (got, ch) = f.featurizeChannels(fixtureExample, add = true)
    assert(vocabs.ner.index2word.toSet === Set("PERSON", "O"))
    assert(vocabs.word.index2word.toSet === Set("UNKNOWN", "O", "had", "PERSON"))
    assert(vocabs.pos.index2word.toSet === Set(".", "NN", "VBD", "NNP"))
    assert(vocabs.dep.index2word.toSet === Set("dobj_from", "root", "nsubj_to"))
    assert(got.subjectNer === vocabs.ner("PERSON"))
    assert(got.objectNer === vocabs.ner("O"))
    assert(ch.words === Seq("O", "had", "PERSON").map(vocabs.word(_)))
    assert(ch.ner === Seq("O", "O", "PERSON").map(vocabs.ner(_)))
    assert(ch.pos === Seq("NN", "VBD", "NNP").map(vocabs.pos(_)))
    assert(ch.arc === Seq("dobj_from", "root", "nsubj_to").map(vocabs.dep(_)))
  }

  test("sentence featurizer: entity blanking + positions (featurizers.py:168-204)") {
    val vocabs = new VocabSet
    val f = new SentenceFeaturizer(vocabs, scope = -1)
    val got = f.featurize(fixtureExample, add = true)
    // [yesterday , PERSON had O for dinner], subject_pos=2, object_pos=4
    assert(got.sequence.map(vocabs.word.index2word(_)) ===
      Seq("yesterday", ",", "PERSON", "had", "O", "for", "dinner"))
    assert(got.subjectPos === 2)
    assert(got.objectPos === 4)
    assert(got.length === 7)
    // add = true numbers new tokens in sequence order
    assert(vocabs.word.index2word ===
      Seq("UNKNOWN", "yesterday", ",", "PERSON", "had", "O", "for", "dinner"))
  }

  test("sentence featurizer: scope window truncation (featurizers.py:188-191)") {
    val vocabs = new VocabSet
    val f = new SentenceFeaturizer(vocabs, scope = 1)
    val got = f.featurize(fixtureExample, add = true)
    // window = [first_pos-1, second_pos+1] of the blanked sequence
    assert(got.sequence.map(vocabs.word.index2word(_)) ===
      Seq(",", "PERSON", "had", "O", "for"))
    // tokens outside the window never reach the vocab
    assert(vocabs.word.index2word === Seq("UNKNOWN", ",", "PERSON", "had", "O", "for"))
  }

  test("featurizer registry dispatches all five config strings (train.py:135-141)") {
    Featurizers.names.foreach { name =>
      val f = Featurizers(name, new VocabSet)
      val got = f.featurize(fixtureExample, add = true)
      assert(got.length > 0, s"$name must featurize the fixture")
    }
    // bug-compatible scope semantics: the reference slices only when
    // scope > 0 (featurizers.py:188), so sent0 ≡ whole sentence like sent
    val v = new VocabSet
    val sent0 = Featurizers("sent0", v).featurize(fixtureExample, add = true)
    assert(sent0.sequence.map(v.word.index2word(_)) ===
      Seq("yesterday", ",", "PERSON", "had", "O", "for", "dinner"))
    assertThrows[IllegalArgumentException](Featurizers("nope", new VocabSet))
  }

  test("sentence featurizer rejects overlapping spans (featurizers.py:175-177)") {
    val vocabs = new VocabSet
    val f = new SentenceFeaturizer(vocabs)
    val overlapping = fixtureExample.copy(objectBegin = 3, objectEnd = 5)
    assertThrows[NoPathException](f.featurize(overlapping, add = true))
  }
}

class AdaptorSpec extends AnyFunSuite {

  test("quoted-array decode + digit zeroing (adaptors.py:22-27)") {
    assert(Adaptors.parseArrayQuoted("""["a","b","c"]""") === Seq("a", "b", "c"))
    assert(Adaptors.parseArrayQuoted("""["Alexandra","1914","x2"]""", zeroNumbers = true) ===
      Seq("Alexandra", "0000", "x2"))
  }

  test("brace-array decode incl. the ,,, comma hack (adaptors.py:87-94)") {
    assert(Adaptors.parseArrayBrace("[a,b,c]") === Seq("a", "b", "c"))
    assert(Adaptors.parseArrayBrace("[a,,,b]") === Seq("a", ",", "b"))
    assert(Adaptors.parseArrayBrace("""[say "hi",now]""") === Seq("say hi", "now"))
    assert(Adaptors.parseArrayBrace("[x,1999,y]", zeroNumbers = true) === Seq("x", "0000", "y"))
  }

  test("python-2 str semantics: ascii-only lower/isdigit") {
    assert(Adaptors.asciiLower("ABCdef-123") === "abcdef-123")
    assert(Adaptors.isAsciiDigits("1914"))
    assert(!Adaptors.isAsciiDigits("19a4"))
    assert(!Adaptors.isAsciiDigits(""))
    assert(!Adaptors.isAsciiDigits("١٢٣")) // arabic-indic digits: py2 str.isdigit is false
  }

  test("dependency decode is 1-based → 0-based (adaptors.py:14-20)") {
    assert(Adaptors.parseDependency("2\t3\tnsubj\n1\t0\troot") ===
      Seq(DepEdge(1, 2, "nsubj"), DepEdge(0, -1, "root")))
  }

  test("supervised golden row semantics (test_adaptors.py:60-94 shape)") {
    // Synthesized from the reference test's expected values: spans, NER
    // overwrite, lowercasing, surface reconstruction.
    val row = Seq(
      "2\t3\tcompound\n3\t5\tnsubj\n5\t0\troot\n4\t5\tpunct",
      """["Alexandra","of","Denmark","1914","was"]""",
      """["alexandra","of","denmark","1914","be"]""",
      """["NNP","IN","NNP","CD","VBD"]""",
      """["PERSON","O","LOCATION","DATE","O"]""",
      "0", "3", "0", "PERSON", "3", "4", "3", "DATE", "per:spouse")
    val ex = Adaptors.supervisedToExample(row)
    assert(ex.words === Seq("alexandra", "of", "denmark", "0000", "was"))
    assert(ex.subject === "alexandra of denmark")
    assert(ex.objectVal === "0000")
    assert(ex.ner === Seq("PERSON", "PERSON", "PERSON", "DATE", "O")) // spans overwritten
    assert(ex.relation === Some("per:spouse"))
    assert(ex.dependency === Seq(DepEdge(1, 2, "compound"), DepEdge(2, 4, "nsubj"),
      DepEdge(4, -1, "root"), DepEdge(3, 4, "punct")))
  }

  test("evaluation relation normalization + backtick fix (adaptors.py:131-149)") {
    val mk = (rel: String) => Seq(
      "gloss", "1\t0\troot", "d", "d",
      "[Pekar,found,dead]", "[pekar,find,dead]", "[NNP,VBD,``]", "[PERSON,O,O]",
      "SUBJ_ID", "Pekar", "0.9", "PERSON", "OBJ_ID", "Joyce", "0.8", "PERSON",
      "0", "1", "1", "2", s"[$rel]", "[]", "[]")
    val ex = Adaptors.kbpEvaluationToExample(mk("per:employee_or_member_of"))
    assert(ex.relation === Some("per:employee_of"))
    assert(ex.pos === Seq("NNP", "VBD", "''")) // backtick fix
    val ex2 = Adaptors.kbpEvaluationToExample(mk(""))
    assert(ex2.relation === Some("no_relation"))
  }
}

class TypecheckSpec extends AnyFunSuite {

  private def vocabs = {
    val v = new VocabSet
    Seq("no_relation", "per:spouse", "per:employee_of").foreach(v.rel.add(_))
    Seq("O", "PERSON", "ORGANIZATION", "MISC").foreach(v.ner.add(_))
    v
  }

  test("tensor semantics (typecheck.py:41-57)") {
    val v = vocabs
    val tc = TypeChecker.fromRows(Seq(
      ("per:spouse", "PERSON", "PERSON"),
      ("per:employee_of", "PERSON", "ORGANIZATION"),
      ("bogus:rel", "PERSON", "PERSON"), // unknown relation → skipped
    ), v)
    val (o, per, org, misc) = (v.ner("O"), v.ner("PERSON"), v.ner("ORGANIZATION"), v.ner("MISC"))
    val (noRel, spouse, emp) = (v.rel("no_relation"), v.rel("per:spouse"), v.rel("per:employee_of"))
    assert(tc.isValid(per, per, spouse))
    assert(!tc.isValid(per, org, spouse))
    assert(tc.isValid(per, org, emp))
    // no_relation valid everywhere
    assert(tc.isValid(o, o, noRel))
    // MISC wildcard rows/cols
    assert(tc.isValid(misc, o, spouse))
    assert(tc.isValid(o, misc, emp))
    // P12 pair filter: no_relation alone does not admit a pair
    assert(!tc.pairAdmitsPositive(o, o, noRel))
    assert(tc.pairAdmitsPositive(per, per, noRel)) // per:spouse
  }

  test("mask multiplication preserves argmax when argmax is valid") {
    val v = vocabs
    val tc = TypeChecker.fromRows(Seq(("per:spouse", "PERSON", "PERSON")), v)
    val logits = Array(0.1f, 2.0f, -1.0f)
    val mask = tc.maskRow(v.ner("PERSON"), v.ner("PERSON"))
    val masked = logits.zip(mask).map { case (l, m) => l * m }
    assert(masked.indexOf(masked.max) === logits.indexOf(logits.max))
  }
}

class VocabSpec extends AnyFunSuite {
  test("insertion order, counts, unk fallback (dataset.py:19-71)") {
    val v = new Vocab(Some("UNKNOWN"))
    assert(v("never-seen") === 0) // unk id
    v.add("a"); v.add("b"); v.add("a")
    assert(v.index2word === Seq("UNKNOWN", "a", "b"))
    assert(v("a") === 1)
    assert(v.counts("a") === 2)
    val noUnk = new Vocab(None)
    assertThrows[NoSuchElementException](noUnk("missing"))
  }

  test("prune rares keeps unk and re-ranks in insertion order (dataset.py:66-71)") {
    val v = new Vocab(Some("UNKNOWN"))
    Seq("a", "a", "a", "b", "c", "c", "c").foreach(v.add(_))
    val pruned = v.pruneRares(cutoff = 2)
    assert(pruned.index2word === Seq("UNKNOWN", "a", "c"))
  }
}

class TextExtractSpec extends AnyFunSuite {
  private def x(s: String) = TextExtract.extract(s.getBytes("UTF-8"))

  test("byte-identical golden extraction") {
    val html =
      """<html><head><title>T</title><script>var x=1;</script>
        |<style>p{}</style></head><body><h1>Head Line</h1>
        |<p>first sentence .</p><!-- hidden -->
        |<p>a &amp; b &lt;tag&gt; &#65; &nbsp;end</p>
        |<div>last<br/>line</div></body></html>""".stripMargin
    assert(x(html) === "T\nHead Line\nfirst sentence .\na & b <tag> A end\nlast\nline")
  }

  test("extraction is deterministic (north-rule per-row invariant)") {
    val page = Gen.page(42L, 7L)
    val again = Gen.page(42L, 7L)
    assert(page.text === again.text)
    assert(TextExtract.extract(page.html) === page.text)
  }

  test("double-escaped entities decode one level only") {
    assert(x("<p>&amp;lt;</p>") === "&lt;")
  }
}
