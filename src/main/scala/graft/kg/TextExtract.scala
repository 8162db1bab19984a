package graft.kg

/**
 * Deterministic HTML→text extraction (north-rule per-row invariant:
 * byte-identical extracted text per url, /root/repo/BASELINE.json input_hint).
 *
 * A small, fully-specified extractor — NOT a best-effort browser emulation:
 * the contract is determinism and byte-stability across runs/JVMs, pinned by
 * golden tests. Pure function bytes → String; no locale, no wall clock.
 *
 * Rules (applied in order):
 *  1. decode input as UTF-8 (malformed bytes → U+FFFD, the JDK default);
 *  2. drop <script>/<style>/<!-- --> blocks (case-insensitive);
 *  3. block-level tags (p, div, br, h1-h6, li, ul, ol, tr, table, title,
 *     head, body, html, section, article, header, footer) become '\n';
 *     every other tag becomes '';
 *  4. decode entities: &amp; &lt; &gt; &quot; &apos; &nbsp; and numeric
 *     &#NNN; / &#xHH;;
 *  5. collapse [ \t\r\x0B\f]+ → ' ', trim each line, drop empty lines,
 *     join the survivors with '\n'.
 *
 * Implementation: one [[Extractor]] per Spark task runs six character
 * scanners (script/style, comments, block tags, other tags, numeric
 * entities, then named entities fused with the line pass) over two `char[]`
 * buffers it owns and swaps between stages, so a page allocates nothing
 * but its result. This stage dominates the templated kernel's time, and
 * allocation, not instruction count, sets its per-core cost.
 * [[extract]] is the one-shot wrapper over a fresh extractor. The original
 * regex pipeline is kept verbatim as [[regexReference]] (the executable
 * spec): TextExtractDiffSpec asserts byte-equality scanner↔regex over the
 * golden corpus, adversarial fixtures (unclosed constructs, tags-inside-tags,
 * entity chains), and randomized HTML-ish inputs, one extractor reused
 * across all of them, so the two can never drift apart silently.
 */
object TextExtract {

  // ---------------------------------------------------------------------------
  // The executable spec: the original regex pipeline, used ONLY by tests to
  // differential-check the scanner. Do not call from the hot path.
  // ---------------------------------------------------------------------------
  private val scriptStyle =
    "(?is)<(script|style)\\b[^>]*>.*?</\\1\\s*>".r
  private val comments = "(?s)<!--.*?-->".r
  private val blockTag =
    "(?i)</?(p|div|br|h[1-6]|li|ul|ol|tr|table|title|head|body|html|section|article|header|footer)\\b[^>]*/?>".r
  private val anyTag = "(?s)<[^>]*>".r
  private val numericEntity = "&#(x[0-9a-fA-F]+|[0-9]+);".r

  /** Parse the numeric-entity digit run s[from, until) safely (shared by
    * the scanner and this regex spec so differential parity holds): leading
    * zeros stripped, then a length cap — 6 hex / 7 decimal digits, anything
    * longer exceeds U+10FFFF — so adversarial runs like
    * `&#99999999999999;` cannot overflow. Returns -1 for invalid/overlong
    * (callers emit the replacement char). */
  private[kg] def entityCodePoint(s: Array[Char], from: Int, until: Int, hex: Boolean): Int = {
    var i = from
    while (i < until - 1 && s(i) == '0') i += 1
    if (until - i > (if (hex) 6 else 7)) -1
    else {
      var cp = 0
      while (i < until) { cp = cp * (if (hex) 16 else 10) + Character.digit(s(i), 16); i += 1 }
      if (Character.isValidCodePoint(cp)) cp else -1
    }
  }

  private def decodeEntitiesRegex(s: String): String = {
    val numeric = numericEntity.replaceAllIn(s, m => {
      val body = m.group(1)
      val hex = body.startsWith("x")
      val digits = (if (hex) body.substring(1) else body).toCharArray
      val cp = entityCodePoint(digits, 0, digits.length, hex)
      if (cp >= 0)
        java.util.regex.Matcher.quoteReplacement(new String(Character.toChars(cp)))
      else "�"
    })
    numeric
      .replace("&nbsp;", " ")
      .replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&apos;", "'")
      .replace("&amp;", "&") // last, so &amp;lt; decodes to &lt; not <
  }

  private[kg] def regexReference(html: Array[Byte]): String = {
    val raw = new String(html, java.nio.charset.StandardCharsets.UTF_8)
    var s = comments.replaceAllIn(scriptStyle.replaceAllIn(raw, ""), "")
    s = blockTag.replaceAllIn(s, "\n")
    s = anyTag.replaceAllIn(s, "")
    s = decodeEntitiesRegex(s)
    s.split("\n", -1).iterator
      .map(_.replaceAll("[ \\t\\r\\x0B\\f]+", " ").trim)
      .filter(_.nonEmpty)
      .mkString("\n")
  }

  // ---------------------------------------------------------------------------
  // The production scanner.
  // ---------------------------------------------------------------------------

  /** One-shot extraction: a fresh [[Extractor]]. Build one per task and
    * call its `extract` in hot paths. */
  def extract(html: Array[Byte]): String = new Extractor().extract(html)

  private val blockNames: Array[String] = Array(
    "p", "div", "br", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "tr", "table", "title", "head", "body", "html", "section", "article",
    "header", "footer")

  @inline private def isWord(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  @inline private def isHexDigit(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  @inline private def isRegexWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  @inline private def isCollapsible(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\r' || c == '\u000B' || c == '\f'

  /** Case-insensitive match of `lit` (lowercase) at s[i..n). */
  private def matchesCI(s: Array[Char], n: Int, i: Int, lit: String): Boolean = {
    if (i + lit.length > n) return false
    var k = 0
    while (k < lit.length) {
      val c = s(i + k)
      if ((if (c >= 'A' && c <= 'Z') (c + 32).toChar else c) != lit.charAt(k)) return false
      k += 1
    }
    true
  }

  @inline private def matchesExact(s: Array[Char], n: Int, i: Int, lit: String): Boolean = {
    if (i + lit.length > n) return false
    var k = 0
    while (k < lit.length && s(i + k) == lit.charAt(k)) k += 1
    k == lit.length
  }

  /** s[from, until) is one of the block-tag names, ASCII case-insensitive. */
  private def isBlockName(s: Array[Char], from: Int, until: Int): Boolean =
    blockNames.exists(nm => nm.length == until - from && matchesCI(s, until, from, nm))

  /** The per-task extractor. Each stage reads `in[0, n)` and writes `out`,
    * never longer than its input, then the two buffers swap; both grow to
    * the longest page seen. Not thread-safe: one per task. */
  final class Extractor {
    private var in = new Array[Char](0)
    private var out = new Array[Char](0)
    private var n = 0
    // line state of the last stage: committed length, current line start
    // and write position, and a collapsed run of whitespace not yet written
    private var done, lineStart, w = 0
    private var pendingSpace = false

    /** The text of the last [[run]]: `chars[0, length)`, valid until the next run. */
    def chars: Array[Char] = in
    def length: Int = n

    def extract(html: Array[Byte]): String = { run(html); new String(in, 0, n) }

    def run(html: Array[Byte]): Unit = {
      if (in.length < html.length) { // UTF-8 never decodes to more chars than bytes
        val cap = math.max(html.length, 2 * in.length)
        in = new Array[Char](cap); out = new Array[Char](cap)
      }
      decode(html)
      swap(stripScriptStyle())
      swap(stripComments())
      swap(blockTagsToNewlines())
      swap(stripTags())
      swap(decodeNumericEntities())
      swap(decodeNamedAndJoinLines())
    }

    private def swap(len: Int): Unit = { val t = in; in = out; out = t; n = len }

    /** Rule 1: ASCII bytes copy straight across; any other page goes
      * through the JDK's UTF-8 decoder. */
    private def decode(html: Array[Byte]): Unit = {
      var i = 0
      while (i < html.length && html(i) >= 0) { in(i) = html(i).toChar; i += 1 }
      n = i
      if (i < html.length) {
        val s = new String(html, java.nio.charset.StandardCharsets.UTF_8)
        s.getChars(0, s.length, in, 0)
        n = s.length
      }
    }

    /** Stage 1 of rule 2: `<script…>…</script>` / `<style…>…</style>` spans
      * (regex semantics: opener needs a terminating '>', closer is the NEAREST
      * `</name\s*>`; unmatched constructs pass through untouched). */
    private def stripScriptStyle(): Int = {
      val s = in; val o = out; val n = this.n
      var m = 0
      var i = 0
      while (i < n) {
        val c = s(i)
        var consumed = false
        if (c == '<') {
          val name =
            if (matchesCI(s, n, i + 1, "script") && (i + 7 >= n || !isWord(s(i + 7)))) "script"
            else if (matchesCI(s, n, i + 1, "style") && (i + 6 >= n || !isWord(s(i + 6)))) "style"
            else null
          if (name != null) {
            // opener: [^>]* then '>'
            var j = i + 1 + name.length
            while (j < n && s(j) != '>') j += 1
            if (j < n) {
              // closer: nearest </name\s*>
              var k = j + 1
              var end = -1
              while (end < 0 && k < n) {
                if (s(k) == '<' && k + 1 < n && s(k + 1) == '/' && matchesCI(s, n, k + 2, name)) {
                  // \s in Java regex = [ \t\n\x0B\f\r] (ASCII only)
                  var q = k + 2 + name.length
                  while (q < n && isRegexWs(s(q))) q += 1
                  if (q < n && s(q) == '>') end = q
                }
                k += 1
              }
              if (end >= 0) { i = end + 1; consumed = true }
            }
          }
        }
        if (!consumed) { o(m) = c; m += 1; i += 1 }
      }
      m
    }

    /** Stage 2 of rule 2: `<!-- … -->` (nearest closer; unmatched stays). */
    private def stripComments(): Int = {
      val s = in; val o = out; val n = this.n
      var m = 0
      var i = 0
      while (i < n) {
        if (s(i) == '<' && i + 3 < n && s(i + 1) == '!' && s(i + 2) == '-' && s(i + 3) == '-') {
          var e = i + 4
          while (e + 2 < n && !(s(e) == '-' && s(e + 1) == '-' && s(e + 2) == '>')) e += 1
          if (e + 2 < n) i = e + 3
          else { o(m) = '<'; m += 1; i += 1 }
        } else { o(m) = s(i); m += 1; i += 1 }
      }
      m
    }

    /** Rule 3a: block tags → '\n'. Runs BEFORE general tag removal, exactly
      * like the regex pipeline — a block tag nested inside a malformed outer
      * `<…` still becomes a newline (`<x <p>` keeps "<x " and yields '\n'). */
    private def blockTagsToNewlines(): Int = {
      val s = in; val o = out; val n = this.n
      var m = 0
      var i = 0
      while (i < n) {
        var consumed = false
        if (s(i) == '<') {
          var j = i + 1
          if (j < n && s(j) == '/') j += 1
          val nameStart = j
          while (j < n && isWord(s(j))) j += 1
          if (j > nameStart && isBlockName(s, nameStart, j)) {
            var k = j
            while (k < n && s(k) != '>') k += 1
            if (k < n) { o(m) = '\n'; m += 1; i = k + 1; consumed = true }
          }
        }
        if (!consumed) { o(m) = s(i); m += 1; i += 1 }
      }
      m
    }

    /** Rule 3b: every remaining `<…>` → '' (no '>' ⇒ literal text). */
    private def stripTags(): Int = {
      val s = in; val o = out; val n = this.n
      var m = 0
      var i = 0
      while (i < n) {
        if (s(i) == '<') {
          var j = i + 1
          while (j < n && s(j) != '>') j += 1
          if (j < n) i = j + 1
          else { o(m) = s(i); m += 1; i += 1 }
        } else { o(m) = s(i); m += 1; i += 1 }
      }
      m
    }

    /** Rule 4a: numeric entities (own pass: their output can feed the named
      * pass — `&#38;lt;` → `&lt;` → '<', matching the regex pipeline). */
    private def decodeNumericEntities(): Int = {
      val s = in; val o = out; val n = this.n
      var m = 0
      var i = 0
      while (i < n) {
        var consumed = false
        if (s(i) == '&' && i + 2 < n && s(i + 1) == '#') {
          var j = i + 2
          val hex = s(j) == 'x' // regex accepts lowercase x only
          if (hex) j += 1
          val digitStart = j
          while (j < n && (if (hex) isHexDigit(s(j)) else s(j) >= '0' && s(j) <= '9')) j += 1
          if (j > digitStart && j < n && s(j) == ';') {
            val cp = entityCodePoint(s, digitStart, j, hex) // overflow-safe (shared helper)
            if (cp >= 0) m += Character.toChars(cp, o, m)
            else { o(m) = '�'; m += 1 }
            i = j + 1
            consumed = true
          }
        }
        if (!consumed) { o(m) = s(i); m += 1; i += 1 }
      }
      m
    }

    /** Rules 4b + 5 fused: named entities, whitespace collapse, per-line trim
      * (String.trim semantics: both edges shed chars <= U+0020), empty-line
      * drop, '\n' join. Each line is written in place after the committed
      * text, one slot past it for the separator, then trimmed down onto it. */
    private def decodeNamedAndJoinLines(): Int = {
      val s = in; val n = this.n
      done = 0; lineStart = 0; w = 0; pendingSpace = false
      var i = 0
      while (i < n) {
        val c = s(i)
        if (c == '&') {
          if (matchesExact(s, n, i, "&nbsp;")) { put(' '); i += 6 }
          else if (matchesExact(s, n, i, "&lt;")) { put('<'); i += 4 }
          else if (matchesExact(s, n, i, "&gt;")) { put('>'); i += 4 }
          else if (matchesExact(s, n, i, "&quot;")) { put('"'); i += 6 }
          else if (matchesExact(s, n, i, "&apos;")) { put('\''); i += 6 }
          else if (matchesExact(s, n, i, "&amp;")) { put('&'); i += 5 }
          else { put(c); i += 1 }
        } else { put(c); i += 1 }
      }
      endLine()
      done
    }

    private def put(c: Char): Unit =
      if (c == '\n') endLine()
      else if (isCollapsible(c)) pendingSpace = true
      else {
        if (pendingSpace) { out(w) = ' '; w += 1; pendingSpace = false }
        out(w) = c; w += 1
      }

    private def endLine(): Unit = {
      val o = out
      var a = lineStart
      var b = w
      while (a < b && o(a) <= ' ') a += 1
      while (b > a && o(b - 1) <= ' ') b -= 1
      if (b > a) {
        if (done > 0) { o(done) = '\n'; done += 1 }
        System.arraycopy(o, a, o, done, b - a)
        done += b - a
      }
      lineStart = if (done > 0) done + 1 else 0
      w = lineStart
      pendingSpace = false
    }
  }
}
