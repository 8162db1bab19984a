package graft.kg

/**
 * Deterministic HTML→text extraction (north-rule per-row invariant:
 * byte-identical extracted text per url, BASELINE.json input_hint).
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
 * Implementation: one [[Extractor]] per Spark task, allocation-free on ASCII
 * pages; its cost is a decode pass and one scan of rules 3-5 (rule 2 visits
 * only the '<'s the decode marks). The regex pipeline is kept verbatim as
 * [[regexReference]], the executable spec: TextExtractDiffSpec asserts
 * byte-equality scanner↔regex on the corpus, fixtures and random inputs.
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

  /** The production scanner, one-shot: a fresh [[Extractor]]. Build one per
    * task and call its `extract` in hot paths. */
  def extract(html: Array[Byte]): String = new Extractor().extract(html)

  /** Rule 3's block names, each packed into a Long one lower-cased char per
    * byte, in a 64-slot perfect-hash table whose empty slots hold -1. */
  private val blockNames: Array[Long] = {
    val t = Array.fill(64)(-1L)
    for (nm <- "p div br h1 h2 h3 h4 h5 h6 li ul ol tr table title head body html section article header footer".split(' ')) {
      val key = nm.foldLeft(0L)((k, c) => k << 8 | c)
      require(t(slot(key)) == -1L, s"block name $nm collides")
      t(slot(key)) = key
    }
    t
  }
  @inline private def slot(key: Long): Int = (key * 0x6A99B4B1F77DD0FDL >>> 58).toInt

  /** Rule 4's named entities, and the char each one decodes to. */
  private val namedEntities = Array("&nbsp;", "&lt;", "&gt;", "&quot;", "&apos;", "&amp;")
  private val namedChars = " <>\"'&"

  @inline private def isWord(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') || c == '_'

  /** A word char at s(j) defeats the regex `\b` after a tag name (which ends
    * in a letter or digit). JDK 17's `\b` without UNICODE_CHARACTER_CLASS
    * counts `_`, every `Character.isLetterOrDigit` code point, and a
    * non-spacing mark after a word char. */
  private def wordAt(s: Array[Char], n: Int, j: Int): Boolean = j < n && {
    val cp = Character.codePointAt(s, j, n)
    if (cp < 128) isWord(cp.toChar)
    else Character.isLetterOrDigit(cp) || Character.getType(cp) == Character.NON_SPACING_MARK
  }

  /** Text the line writer copies as is: no tag or entity start, no whitespace. */
  @inline private def isPlain(c: Char): Boolean = c > '<' || c > ' ' && c < '<' && c != '&'
  @inline private def isHexDigit(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  @inline private def isCollapsible(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\r' || c == '\u000B' || c == '\f'

  /** Case-insensitive match of the lowercase letters `lit` at s[i..n). */
  private def matchesCI(s: Array[Char], n: Int, i: Int, lit: String): Boolean = {
    var k = 0
    while (k < lit.length && i + k < n && (s(i + k) | 0x20) == lit.charAt(k)) k += 1
    k == lit.length
  }

  /** Rule 2 at s(i) == '<': the index of the '>' closing a script/style
    * block, or -1. Regex semantics: the opener needs a terminating '>', the
    * closer is the nearest `</name\s*>` (`\s` is ASCII: [ \t\n\x0B\f\r]). */
  private def scriptEnd(s: Array[Char], n: Int, i: Int): Int = {
    val name =
      if (matchesCI(s, n, i + 1, "script") && !wordAt(s, n, i + 7)) "script"
      else if (matchesCI(s, n, i + 1, "style") && !wordAt(s, n, i + 6)) "style"
      else return -1
    var k = i + 1 + name.length
    while (k < n && s(k) != '>') k += 1
    while ({ k += 1; k < n }) if (s(k) == '<' && k + 1 < n && s(k + 1) == '/' && matchesCI(s, n, k + 2, name)) {
      var q = k + 2 + name.length
      while (q < n && (isCollapsible(s(q)) || s(q) == '\n')) q += 1
      if (q < n && s(q) == '>') return q
    }
    -1
  }

  /** Rule 2 at s(i) == '<': the index of the '>' closing `<!--…-->`, or -1. */
  private def commentEnd(s: Array[Char], n: Int, i: Int): Int =
    if (i + 3 < n && s(i + 1) == '!' && s(i + 2) == '-' && s(i + 3) == '-') {
      var e = i + 4
      while (e + 2 < n && !(s(e) == '-' && s(e + 1) == '-' && s(e + 2) == '>')) e += 1
      if (e + 2 < n) e + 2 else -1
    } else -1

  /** Rule 3a at s(i) == '<': the index of the '>' ending a block tag, or -1. */
  private def blockEnd(s: Array[Char], n: Int, i: Int): Int = {
    var j = if (i + 1 < n && s(i + 1) == '/') i + 2 else i + 1
    val from = j
    var key = 0L
    while (j < n && isWord(s(j))) { key = key << 8 | (s(j) | 0x20); j += 1 }
    if (j - from > 7 || blockNames(slot(key)) != key || j < n && s(j) >= 128 && wordAt(s, n, j)) return -1
    while (j < n && s(j) != '>') j += 1
    if (j < n) j else -1
  }

  /** The per-task extractor. Rule 1 decodes into `in`, rule 2 cuts its spans
    * out of `in` in place, and one scan of rules 3-5 writes `out`, which
    * then swaps with `in`. The buffers grow to the longest page seen. Not
    * thread-safe: one per task. */
  final class Extractor {
    private var in, out = new Array[Char](0)
    private var n = 0
    private var marks = new Array[Int](0) // '<' positions in `in`: marks[0, nMarks)
    private var ent = new Array[Char](16) // a numeric-entity candidate: ent[0, entLen)
    private var nMarks, entLen = 0
    private var named, cands = 0 // a named-entity candidate: the first `named` chars of those in `cands`
    private var done, lineStart, w = 0 // lines: committed length, line start, write position

    /** The text of the last [[run]]: `chars[0, length)`, valid until the next run. */
    def chars: Array[Char] = in
    def length: Int = n

    def extract(html: Array[Byte]): String = { run(html); new String(in, 0, n) }

    def run(html: Array[Byte]): Unit = {
      if (in.length < html.length) { // UTF-8 never decodes to more chars than bytes
        val cap = math.max(html.length, 2 * in.length)
        in = new Array[Char](cap); out = new Array[Char](cap); marks = new Array[Int](cap)
      }
      decode(html)
      cut(comments = false)
      if (nMarks > 0) cut(comments = true)
      val len = textPass()
      val t = in; in = out; out = t; n = len
    }

    /** Rule 1, marking each '<': ASCII bytes copy straight across, and any
      * other page goes through the JDK's UTF-8 decoder. */
    private def decode(html: Array[Byte]): Unit = {
      val s = in; val ms = marks; val len = html.length; var any, k, i = 0
      while (i < len) { val b = html(i); s(i) = b.toChar; any |= b; if (b == '<') { ms(k) = i; k += 1 }; i += 1 }
      n = len
      if (any < 0) {
        val t = new String(html, java.nio.charset.StandardCharsets.UTF_8)
        t.getChars(0, t.length, s, 0)
        n = t.length; k = 0; i = 0
        while (i < n) { if (s(i) == '<') { ms(k) = i; k += 1 }; i += 1 }
      }
      nMarks = k
    }

    /** Rule 2 in place, trying the marked '<'s only: cuts every script/style
      * block, or every comment, out of `in`. The script pass leaves its marks
      * before a '!', moved with the text, plus any '<' a cut joins to a '!'. */
    private def cut(comments: Boolean): Unit = {
      val s = in; val n = this.n
      var m, from, k, kept = 0 // the text from `from` on moves down to `m`
      while (k < nMarks) {
        val i = marks(k); k += 1
        if (i >= from && i + 1 < n) {
          val e = if (comments) commentEnd(s, n, i) else if ((s(i + 1) | 0x20) == 's') scriptEnd(s, n, i) else -1
          if (e >= 0) {
            System.arraycopy(s, from, s, m, i - from)
            m += i - from; from = e + 1
            if (m > 0 && s(m - 1) == '<' && from < n && s(from) == '!') { marks(kept) = m - 1; kept += 1 }
          } else if (s(i + 1) == '!') { marks(kept) = m + i - from; kept += 1 }
        }
      }
      if (m < from) System.arraycopy(s, from, s, m, n - from)
      this.n = m + n - from
      nMarks = kept
    }

    /** Rules 3-5 in one scan of `in`. A block tag becomes '\n'; any other tag
      * ends at the first '>' of rule 3a's output, past the block tags inside
      * it (`<x <p> a > b` gives `b`, `<x <p>` gives `<x ` and '\n'). No tag
      * ends past the last '>', and once one has no end no later one has, so
      * tag searches take linear time. The text between goes through the
      * numeric, then the named entity transducer into the line writer. */
    private def textPass(): Int = {
      val s = in; val n = this.n
      done = 0; lineStart = 0; w = 0; entLen = 0; named = 0
      var lim = n
      while (lim > 0 && s(lim - 1) != '>') lim -= 1
      var ends = true
      var i = 0
      while (i < n) {
        val c = s(i)
        if ((c == ' ' || c == '\n' || isPlain(c)) && entLen + named == 0) i = plainRun(s, n, i)
        else if (c != '<') { tagOut(c); i += 1 }
        else {
          var g = blockEnd(s, lim, i)
          if (g >= 0) { if (entLen + named == 0) endLine() else tagOut('\n') }
          else {
            g = if (ends) i + 1 else lim
            while (g < lim && s(g) != '>') {
              val e = if (s(g) == '<') blockEnd(s, lim, g) else -1
              g = if (e >= 0) e + 1 else g + 1
            }
            if (g >= lim) { ends = false; tagOut(c); g = i }
          }
          i = g + 1
        }
      }
      flushNumeric(); flushNamed(); endLine()
      done
    }

    /** The line writer's fast path for text without tags or entities: copies
      * each stretch of plain chars and single spaces in one go, and drops a
      * space after a space or at a line start (trimmed). */
    private def plainRun(s: Array[Char], n: Int, from: Int): Int = {
      var i = from
      while (i < n) {
        val c = s(i)
        if (c == ' ' && (w == lineStart || out(w - 1) == ' ')) i += 1
        else if (c == '\n') { endLine(); i += 1 }
        else if (c != ' ' && !isPlain(c)) return i
        else {
          val start = i; i += 1
          while (i < n && (isPlain(s(i)) || s(i) == ' ' && s(i - 1) != ' ')) i += 1
          System.arraycopy(s, start, out, w, i - start)
          w += i - start
        }
      }
      i
    }

    /** Rule 4a over rule 3's output: holds a numeric-entity candidate; on
      * ';' it decodes, and on a char that cannot extend it the candidate
      * goes on as text, then the char. Its output feeds rule 4b. */
    private def tagOut(c: Char): Unit =
      if (entLen == 0) { if (c == '&') { ent(0) = c; entLen = 1 } else namedIn(c) }
      else {
        val hex = entLen > 2 && ent(2) == 'x' // regex accepts lowercase x only
        if (entLen == 1 && c == '#' || entLen == 2 && c == 'x' ||
            entLen > 1 && (if (hex) isHexDigit(c) else c >= '0' && c <= '9')) {
          if (entLen == ent.length) ent = java.util.Arrays.copyOf(ent, 2 * entLen)
          ent(entLen) = c; entLen += 1
        } else if (c == ';' && entLen > (if (hex) 3 else 2)) {
          val cp = entityCodePoint(ent, if (hex) 3 else 2, entLen, hex) // overflow-safe (shared helper)
          entLen = 0
          if (cp < 0) namedIn('�')
          else if (cp < 0x10000) namedIn(cp.toChar)
          else { namedIn(Character.highSurrogate(cp)); namedIn(Character.lowSurrogate(cp)) }
        } else { flushNumeric(); tagOut(c) }
      }

    private def flushNumeric(): Unit = { val k = entLen; entLen = 0; var j = 0; while (j < k) { namedIn(ent(j)); j += 1 } }

    /** Rule 4b: holds a prefix of the named entities; a whole one decodes,
      * and a prefix that cannot grow goes on as text, then the char. One
      * pass equals the spec's chain of replaces: no entity contains another,
      * and only `&amp;`, the last, decodes to a char that starts one. */
    private def namedIn(c: Char): Unit =
      if (named == 0) { if (c == '&') { named = 1; cands = 63 } else put(c) }
      else {
        var left, k = 0
        while (k < 6) { if ((cands >> k & 1) != 0 && namedEntities(k).charAt(named) == c) left |= 1 << k; k += 1 }
        if (left == 0) { flushNamed(); namedIn(c) }
        else {
          named += 1; cands = left
          val hit = Integer.numberOfTrailingZeros(left) // the only one, if it ends here
          if (namedEntities(hit).length == named) { named = 0; put(namedChars.charAt(hit)) }
        }
      }

    private def flushNamed(): Unit = {
      val k = named; named = 0; var j = 0
      while (j < k) { put(namedEntities(Integer.numberOfTrailingZeros(cands)).charAt(j)); j += 1 }
    }

    /** Rule 5's line writer: whitespace collapse, per-line trim (String.trim
      * semantics: both edges shed chars <= U+0020), empty-line drop, '\n'
      * join. A collapsed run is one ' ', written unless a ' ' precedes it.
      * Each line is written one slot past the committed text, room for the
      * separator, then trimmed down onto it. */
    private def put(c: Char): Unit =
      if (c == '\n') endLine()
      else if (!isCollapsible(c)) { out(w) = c; w += 1 }
      else if (w == lineStart || out(w - 1) != ' ') { out(w) = ' '; w += 1 }

    private def endLine(): Unit = {
      val o = out; var a = lineStart; var b = w
      while (a < b && o(a) <= ' ') a += 1
      while (b > a && o(b - 1) <= ' ') b -= 1
      if (b > a) {
        if (done > 0) { o(done) = '\n'; done += 1 }
        if (a != done) System.arraycopy(o, a, o, done, b - a)
        done += b - a
      }
      lineStart = if (done > 0) done + 1 else 0
      w = lineStart
    }
  }
}
