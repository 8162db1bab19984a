package graft.kg

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

/** Differential check: the production scanner in [[TextExtract.extract]]
  * must agree byte-for-byte with the regex pipeline it replaced
  * ([[TextExtract.regexReference]] — the executable spec) on the corpus,
  * on adversarial fixtures, and on randomized HTML-ish inputs, both one-shot
  * and through one reused [[TextExtract.Extractor]]. */
class TextExtractDiffSpec extends AnyFunSuite {

  /** Raw ScalaCheck with a deterministic seed walk (same pattern as
    * PropertySpec — the scalatest bridge isn't in the offline cache). */
  private def forAll[A](gen: Gen[A], n: Int = 300)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(1234L)
    var produced = 0
    var attempts = 0
    while (produced < n && attempts < n * 20) {
      gen.apply(Gen.Parameters.default, seed).foreach { a => f(a); produced += 1 }
      seed = seed.next
      attempts += 1
    }
    assert(produced >= n, s"generator starved: $produced/$n")
  }

  private def both(html: String): (String, String) = {
    val b = html.getBytes("UTF-8")
    (TextExtract.extract(b), TextExtract.regexReference(b))
  }

  private def assertSame(html: String): Unit = {
    val (scan, ref) = both(html)
    assert(scan === ref, s"scanner/regex divergence on: ${html.take(200)}")
  }

  test("scanner == regex reference on 500 corpus pages, byte for byte") {
    (0L until 500L).foreach { i =>
      val html = Gen2.pageHtml(i)
      assertSame(html)
    }
  }

  private object Gen2 {
    def pageHtml(i: Long): String =
      new String(graft.kg.Gen.page(42L, i, withText = false).html, "UTF-8")
  }

  test("adversarial fixtures: unclosed constructs, nesting, entity chains") {
    Seq(
      "",                                         // empty
      "plain text no markup",
      "<p>a</p>",
      "<P CLASS='x'>a</P>",                       // uppercase + attrs
      "<script>var x = '<p>not text</p>';</script>after",
      "<SCRIPT>x</SCRIPT>ok",                     // case-insensitive
      "<script>unclosed",                         // unclosed script: tag stripped, body kept
      "<style>p { color: red }</style>text",
      "<script >attr</script  >done",             // \s* before closer '>'
      "<scripted>not a script</scripted>",        // \b guard
      "<!-- comment <p>inside</p> -->after",
      "<!-- unclosed comment",
      "<!--->tricky",                             // "-->" not present in "<!--->"? (it is: <!-- + ->)
      "a <b> c <i> d",                            // inline tags removed
      "<x <p>",                                   // block tag inside malformed tag
      "<p <div>",                                 // block span eats nested '<'
      "a<>b",                                     // empty tag
      "a < b and c > d",                          // bare angle brackets
      "no close <tag attr='x'",                   // unclosed tag → literal
      "&amp;lt; stays &lt; goes",                 // amp-last ordering
      "&amp;nbsp;",                               // does NOT double-decode
      "&#38;lt;",                                 // numeric output feeds named pass
      "&#x41;&#66;&#x0a;c",                       // hex/dec/newline entities
      "&#junk; &# ; &#x;",                        // malformed numerics stay
      "&unknown; &apos;x&quot;",
      "&#1114112;",                               // > max code point → U+FFFD
      "&#99999999999999;",                        // overlong run: no overflow, U+FFFD
      "&#xFFFFFFFFFFFF;",                         // overlong hex run → U+FFFD
      "&#0000000065;x&#x0000000041;",             // leading zeros still decode (A)
      "&#00000000000000000000065;",               // zeros beyond any cap still decode
      "  a\t\tb   \r c  ",                        // whitespace collapse
      "\u000Bx\fy",                               // vertical tab / form feed
      "line1<br>line2<br/>line3",
      "<div>a<div>b</div>c</div>",
      "<table><tr><li>x</li></tr></table>",
      "<header>h</header><footer>f</footer><section>s</section>",
      "<h1>t</h1><h6>u</h6><h7>v</h7>",           // h7 is not a block tag
      "<html><head><title>t</title></head><body>b</body></html>",
      "<p\nmulti\nline\nattr='x'>body",           // newlines inside tags
      "<script>a</script><script>b</script>c",    // repeated scripts
      "<style>s1<script>s2</script></style>rest", // overlapping script/style
      "é中文 &amp; café",       // non-ASCII
      "trailing spaces   \nand &nbsp; entities",
      "<p>&nbsp;</p>",                            // line that trims to empty
      "\u0001control<p>\u0002edges\u0003</p>",    // trim's <= U+0020 semantics
      // regex \b after a name counts every letter or digit, not just ASCII
      "a<pé>b",
      "<scriptя>var</script>after",
      "a<p\u0301>b",                               // combining mark after the name
      "a<p\uD835\uDC00>b",                         // supplementary letter
      "a<p\u0660>b",                               // Arabic-Indic digit zero
      "a<p\u00B2>b",                               // superscript two: not a word char
      // a removed span joins its neighbours into a construct a later stage sees
      "&#6<b>0;",                                 // tag removal completes a numeric entity
      "<<!-- -->p>x",                             // comment removal forms a block tag
      "<x <p> a > b",                             // generic tag ends past a nested block tag
      "<!-- a <script>x--></script> b -->c",      // script stage first: the comment loses its closer
      "<scr<!-- -->ipt>v</script>w",              // comment removal forms a script opener too late
      "<<script>x</script>p>y",                   // script removal forms a block tag
      "&l<i>t;",                                  // tag removal completes a named entity
      "&#38;#65;"                                 // numeric output is not decoded again
    ).foreach(assertSame)
  }

  private val htmlGen: Gen[String] = {
    val token: Gen[String] = Gen.frequency(
      8 -> Gen.alphaNumStr.map(_.take(6)),
      3 -> Gen.oneOf("<p>", "</p>", "<div class='x'>", "<br/>", "<li>", "</table>",
        "<h3>", "</h6>", "<span>", "</span>", "<a href='y'>", "<x", ">", "<", "<>"),
      2 -> Gen.oneOf("&amp;", "&lt;", "&nbsp;", "&#65;", "&#x42;", "&", "&#", "&#;", "&bogus;"),
      2 -> Gen.oneOf(" ", "\t", "\n", "\r", "\f", "\u000B", "  "),
      1 -> Gen.oneOf("<script>", "</script>", "<style>", "</style>", "<!--", "-->",
        "<SCRIPT a=b>", "</SCRIPT >"),
      1 -> Gen.oneOf("é", "中", "\"", "'", ";", "#", "x"))
    Gen.listOf(token).map(_.mkString)
  }

  test("randomized HTML-ish inputs: scanner == regex reference") {
    forAll(htmlGen, 300) { html => assertSame(html) }
  }

  /** Fragments of every construct, so that a removal (script/style block,
    * comment, tag, entity) can join the text around it into a construct
    * the later stages see: the openers and closers split in two, the
    * entities split where a tag can fall, and a few completing pieces. */
  private val joinGen: Gen[String] = Gen.listOf(Gen.frequency(
    6 -> Gen.oneOf("<scr", "ipt>", "<sty", "le", "<!", "--", "&#6", "0;", "&l", "t;", "&a",
      "mp;", "&#38;", "lt;", "&#x1F600;", "</", "<x", "<b>", "é", "\u0301"),
    2 -> Gen.oneOf(">", "-->", "</script>", "</style>", "<p>", "p", " ", "\n", "x"))
  ).map(_.mkString)

  test("randomized joins across removed spans: scanner == regex reference") {
    val x = new TextExtract.Extractor
    forAll(joinGen, 20000) { html =>
      val b = html.getBytes("UTF-8")
      assert(x.extract(b) === TextExtract.regexReference(b), s"divergence on: ${html.take(200)}")
    }
  }

  test("one extractor reused over long and short inputs == regex reference") {
    // a stale buffer or an unreset length shows when a short input follows
    // a long one, so corpus pages, random inputs, a 40-page concatenation
    // and the empty input alternate through a single instance
    val x = new TextExtract.Extractor
    val random = scala.collection.mutable.ArrayBuffer.empty[String]
    forAll(htmlGen, 300) { html => random += html }
    val corpus = (0L until 500L).map(Gen2.pageHtml)
    val inputs = corpus.zipWithIndex.flatMap { case (page, i) =>
      Seq(page, random(i % random.size)) ++
        (if (i % 100 == 0) Seq(corpus.slice(i, i + 40).mkString, "") else Nil)
    }
    inputs.foreach { html =>
      val b = html.getBytes("UTF-8")
      val got = x.extract(b)
      assert(got === TextExtract.regexReference(b), s"reused extractor diverges on: ${html.take(200)}")
    }
  }

  test("the scanner is what the pipeline actually runs (wiring guard)") {
    val html = "<p>alpha &amp; beta</p><script>skip</script>".getBytes("UTF-8")
    assert(TextExtract.extract(html) === "alpha & beta")
  }
}
