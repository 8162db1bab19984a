package graft.kg

import scala.collection.mutable.ArrayBuffer

/**
 * Sentence segmentation + gazetteer mention detection (north-rule stages;
 * the reference receives pre-parsed, pre-linked sentences from the Stanford
 * KBP java pipeline upstream of kbp.py — these stages replace that process
 * boundary inside our engine).
 *
 * The fused kernel ([[PageScorer]]) runs the int front end: [[scanSentences]]
 * as (from, until) ranges, then per sentence [[scanTokenIds]], which looks
 * each token's lower-cased chars up in the task's [[TokenTable]] and writes
 * its word id and gazetteer-token id, [[scanMentionIds]] over those ids and
 * [[scanPairs]] over the mention spans, all into caller-owned, reusable
 * `Ints`. A sentence builds no token string and no mention: a token's
 * string is built once, when the table first sees it. The String entries
 * — [[sentences]], [[tokenizeLower]], [[detectMentionsIndexed]],
 * [[candidatePairs]] and [[toExample]] — are the executable spec that the
 * kernel's front end must equal. The gazetteer reaches a task as a
 * broadcast Map (small dimension table — broadcast, never a shuffle join at
 * this stage).
 */
object Segment {

  /** A reusable, growable run of ints: caller-owned scanner output. */
  final class Ints {
    private var data = new Array[Int](32)
    var size = 0
    def apply(i: Int): Int = data(i)
    def clear(): Unit = size = 0
    def +=(x: Int): Unit = {
      if (size == data.length) data = java.util.Arrays.copyOf(data, 2 * size)
      data(size) = x; size += 1
    }
  }

  /** ' ', '\t', '\n', '\u000B', '\f' or '\r' (the last five are 9–13). */
  private def isWs(c: Char): Boolean = c <= ' ' && (c == ' ' || c >= '\t' && c <= '\r')

  /** Deterministic sentence segmentation of text[0, n) into `out` as
    * (from, until) pairs: break on newline, and after [.!?] when followed by
    * whitespace; semantics identical to split("\n") +
    * split("(?<=[.!?])\\s+") + trim. */
  def scanSentences(text: Array[Char], n: Int, out: Ints): Unit = {
    out.clear()
    var start = 0
    var i = 0
    while (i < n) {
      val c = text(i)
      if (c == '\n') { emitTrimmed(text, start, i, out); start = i + 1; i += 1 }
      else if ((c == '.' || c == '!' || c == '?') && i + 1 < n && isWs(text(i + 1))
               && text(i + 1) != '\n') {
        emitTrimmed(text, start, i + 1, out)
        i += 2
        while (i < n && isWs(text(i)) && text(i) != '\n') i += 1
        start = i
      } else i += 1
    }
    emitTrimmed(text, start, n, out)
  }

  private def emitTrimmed(text: Array[Char], from: Int, until: Int, out: Ints): Unit = {
    var a = from
    var b = until
    while (a < b && isWs(text(a))) a += 1
    while (b > a && isWs(text(b - 1))) b -= 1
    if (b > a) { out += a; out += b }
  }

  /** [[scanSentences]] over a whole string, as substrings. */
  def sentences(text: String): Seq[String] = {
    val r = new Ints
    scanSentences(text.toCharArray, text.length, r)
    (0 until r.size by 2).map(k => text.substring(r(k), r(k + 1)))
  }

  /** Whitespace tokenization with terminal-punctuation splitting:
    * "dinner." → ["dinner", "."]. Scanner-based; no regex. */
  def tokenize(sentence: String): IndexedSeq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val n = sentence.length
    var i = 0
    while (i < n) {
      while (i < n && isWs(sentence.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(sentence.charAt(i))) i += 1
      if (i > start) {
        val last = sentence.charAt(i - 1)
        if (i - start > 1 && ".,!?;:".indexOf(last) >= 0) {
          out += sentence.substring(start, i - 1)
          out += sentence.substring(i - 1, i)
        } else out += sentence.substring(start, i)
      }
    }
    out.toIndexedSeq
  }

  /** One of `.,!?;:`, which a token's scan splits off its end. */
  private def isPunct(c: Char): Boolean = c match {
    case '.' | ',' | '!' | '?' | ';' | ':' => true
    case _ => false
  }

  /** [[tokenize]] with Python-2 ASCII lowercasing. */
  def tokenizeLower(sentence: String): IndexedSeq[String] = tokenize(sentence).map(Adaptors.asciiLower)

  /** The kernel's token scan of text[from, until): the tokens of
    * [[tokenizeLower]], each hashed while it is read and looked up in
    * `table` by its lower-cased chars; their word ids and gazetteer-token
    * ids go into `words` and `gaz`. */
  def scanTokenIds(text: Array[Char], from: Int, until: Int, table: TokenTable,
      words: Ints, gaz: Ints): Unit = {
    words.clear(); gaz.clear()
    def add(a: Int, b: Int, h: Int): Unit = {
      val e = table.entry(text, a, b, h)
      words += table.word(e); gaz += table.gaz(e)
    }
    var i = from
    while (i < until) {
      while (i < until && isWs(text(i))) i += 1
      val start = i
      var h, before = 0 // hash of the token so far, and before its last char
      while (i < until && !isWs(text(i))) { before = h; h = TokenTable.hash(h, text(i)); i += 1 }
      if (i > start) {
        val last = text(i - 1)
        if (isPunct(last)) {
          if (i - 1 > start) add(start, i - 1, before)
          add(i - 1, i, TokenTable.hash(0, last))
        } else add(start, i, h)
      }
    }
  }

  /** A gazetteer surface as the kernel's scan matches it: its tokens as
    * gazetteer-token ids, its joined surface and NER, and what a pair of it
    * needs: the NER's id and its tag's word id, each -1 where that
    * vocabulary lacks the NER and has no UNK (a pair of it then fails at
    * featurization, as the string lookup did). */
  final class Candidate(val tokens: Array[Int], val surface: String, val ner: String,
      val nerId: Int, val tagId: Int)

  /** Gazetteer pre-indexed by first token — the per-position scan compares
    * token arrays instead of building joined strings (the naive joined-key
    * lookup was the pipeline's top allocation site). */
  final class GazetteerIndex(gazetteer: Map[String, String]) extends Serializable {
    /** first token → candidate (surface tokens, ner, joined surface),
      * longest first (greedy longest-match order). */
    val byFirst: Map[String, Array[(Array[String], String, String)]] =
      gazetteer.toSeq
        .map { case (surface, ner) => (surface.split(" "), ner, surface) }
        .groupBy(_._1(0))
        .map { case (first, cands) =>
          first -> cands.sortBy { case (toks, _, surface) => (-toks.length, surface) }.toArray
        }

    /** Every candidate, numbered: grouped by first token, each group in
      * [[byFirst]]'s order. */
    private val all = byFirst.toArray

    /** Gazetteer-token ids: every distinct token of a surface, numbered. */
    val tokenIds: Map[String, Int] =
      all.iterator.flatMap(_._2).flatMap(_._1).distinct.zipWithIndex.toMap

    /** [[byFirst]] over ids: a first token's id → the numbers of its
      * candidates, longest first; null for a token that starts none. */
    val byFirstId: Array[Array[Int]] = {
      val out = new Array[Array[Int]](tokenIds.size)
      var next = 0
      all.foreach { case (first, cands) =>
        out(tokenIds(first)) = Array.range(next, next + cands.length); next += cands.length
      }
      out
    }

    /** The candidates in their numbering, with the NER and tag ids of
      * `nerId` and `tagId`. */
    def candidates(nerId: String => Int, tagId: String => Int): Array[Candidate] =
      all.flatMap(_._2).map { case (toks, ner, surface) =>
        new Candidate(toks.map(tokenIds), surface, ner, nerId(ner), tagId(ner))
      }
  }

  /** Greedy longest-match gazetteer scan over ALREADY-lowercased tokens. */
  def detectMentionsIndexed(lower: IndexedSeq[String], index: GazetteerIndex): Seq[Mention] = {
    val out = ArrayBuffer.empty[Mention]
    val n = lower.length
    var i = 0
    while (i < n) {
      var advanced = false
      val cands = index.byFirst.getOrElse(lower(i), null)
      if (cands != null) {
        var c = 0
        while (c < cands.length && !advanced) {
          val (toks, ner, surface) = cands(c)
          if (i + toks.length <= n) {
            var j = 1 // token 0 matched via the index key
            while (j < toks.length && toks(j) == lower(i + j)) j += 1
            if (j == toks.length) {
              out += Mention(i, i + toks.length, surface, ner)
              i += toks.length
              advanced = true
            }
          }
          c += 1
        }
      }
      if (!advanced) i += 1
    }
    out.toSeq
  }

  /** [[detectMentionsIndexed]] over a sentence's gazetteer-token ids, into
    * `out` as (begin, end, candidate number) triples; `byFirstId` and
    * `cands` are the index's and its candidates. */
  def scanMentionIds(gaz: Ints, byFirstId: Array[Array[Int]], cands: Array[Candidate],
      out: Ints): Unit = {
    out.clear()
    val n = gaz.size
    var i = 0
    while (i < n) {
      var advanced = false
      val first = if (gaz(i) >= 0) byFirstId(gaz(i)) else null
      if (first != null) {
        var c = 0
        while (c < first.length && !advanced) {
          val toks = cands(first(c)).tokens
          if (i + toks.length <= n) {
            var j = 1 // token 0 matched via the index
            while (j < toks.length && toks(j) == gaz(i + j)) j += 1
            if (j == toks.length) {
              out += i; out += i + toks.length; out += first(c)
              i += toks.length
              advanced = true
            }
          }
          c += 1
        }
      }
      if (!advanced) i += 1
    }
  }

  /** Surface-keyed convenience scan: lowercases then uses the indexed
    * matcher — same greedy longest-match semantics. Build the
    * [[GazetteerIndex]] once per task in hot paths. */
  def detectMentions(tokens: Seq[String], gazetteer: Map[String, String]): Seq[Mention] =
    detectMentionsIndexed(tokens.map(Adaptors.asciiLower).toIndexedSeq, new GazetteerIndex(gazetteer))

  /** NER types allowed as KBP slot-filling subjects. */
  val subjectNers: Set[String] = Set("PERSON", "ORGANIZATION")

  /** Candidate pairs kept per sentence. */
  val MaxPairs = 20

  /** Candidate (subject, object) ordered pairs into `out`, as mention
    * indices: mention k is the triple (begin, end, c) at `mentions(3k)`,
    * and `subject(c)` says whether its NER may be a subject's. Spans
    * distinct (overlap rejection P13 happens again in the featurizer), the
    * first `maxPairs` kept to bound worst-case blowup on mention-dense
    * sentences. */
  def scanPairs(mentions: Ints, subject: Array[Boolean], maxPairs: Int, out: Ints): Unit = {
    out.clear()
    val m = mentions.size / 3
    var s = 0
    while (s < m && out.size / 2 < maxPairs) {
      if (subject(mentions(3 * s + 2))) {
        var o = 0
        while (o < m && out.size / 2 < maxPairs) {
          if (!(mentions(3 * o) == mentions(3 * s) && mentions(3 * o + 1) == mentions(3 * s + 1))) {
            out += s; out += o
          }
          o += 1
        }
      }
      s += 1
    }
  }

  /** [[scanPairs]] as (subject, object) mention pairs. */
  def candidatePairs(mentions: Seq[Mention], maxPairs: Int = MaxPairs): Seq[(Mention, Mention)] = {
    val ms = mentions.toIndexedSeq
    val spans = new Ints
    ms.indices.foreach { k => spans += ms(k).begin; spans += ms(k).end; spans += k }
    val r = new Ints
    scanPairs(spans, ms.map(m => subjectNers.contains(m.ner)).toArray, maxPairs, r)
    (0 until r.size by 2).map(k => (ms(r(k)), ms(r(k + 1))))
  }

  /** Assemble the canonical [[SentenceExample]] for one candidate pair:
    * applies the adaptor row semantics (P3 digit zeroing, P4 lowercase,
    * P6 surface reconstruction, P7 NER span overwrite). The sent-model path
    * needs no dependency parse and no POS — filled with neutral values. */
  def toExample(tokens: Seq[String], subject: Mention, objectM: Mention): SentenceExample = {
    val words = Adaptors.zeroDigits(tokens.map(Adaptors.asciiLower))
    val ner = words.indices.map { i =>
      if (i >= subject.begin && i < subject.end) subject.ner
      else if (i >= objectM.begin && i < objectM.end) objectM.ner
      else "O"
    }
    SentenceExample(
      words = words, lemmas = words, pos = words.map(_ => "NN"), ner = ner,
      dependency = Seq.empty,
      subjectBegin = subject.begin, subjectEnd = subject.end,
      subject = words.slice(subject.begin, subject.end).mkString(" "),
      subjectNer = subject.ner,
      objectBegin = objectM.begin, objectEnd = objectM.end,
      objectVal = words.slice(objectM.begin, objectM.end).mkString(" "),
      objectNer = objectM.ner,
      relation = None,
      subjectId = None, objectId = None)
  }
}
