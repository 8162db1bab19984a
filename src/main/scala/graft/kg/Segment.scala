package graft.kg

import scala.collection.mutable.ArrayBuffer

/**
 * Sentence segmentation + gazetteer mention detection (north-rule stages;
 * the reference receives pre-parsed, pre-linked sentences from the Stanford
 * KBP java pipeline upstream of kbp.py — these stages replace that process
 * boundary inside our engine).
 *
 * The fused kernel ([[PageScorer]]) runs the range scanners (`scan*`): they
 * read a `char[]` span and write into caller-owned, reusable buffers —
 * sentences as (from, until) ranges, lower-cased tokens, mentions, and
 * candidate pairs as mention indices — so a sentence allocates only its
 * token strings and mentions. [[sentences]], [[tokenizeLower]],
 * [[detectMentionsIndexed]] and [[candidatePairs]] are thin adapters over
 * the same scanners. The gazetteer reaches a task as a broadcast Map (small
 * dimension table — broadcast, never a shuffle join at this stage).
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

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

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

  private val punct = ".,!?;:"
  private val punctTokens: Array[String] = punct.map(_.toString).toArray

  /** [[tokenize]] of text[from, until) fused with Python-2 ASCII
    * lowercasing, into `out`: byte-identical to
    * `tokenize(s).map(Adaptors.asciiLower)`, one string per token and none
    * for a punctuation token. */
  def scanTokensLower(text: Array[Char], from: Int, until: Int, out: ArrayBuffer[String]): Unit = {
    out.clear()
    var i = from
    while (i < until) {
      while (i < until && isWs(text(i))) i += 1
      val start = i
      while (i < until && !isWs(text(i))) i += 1
      if (i > start) {
        val p = punct.indexOf(text(i - 1))
        val end = if (p >= 0) i - 1 else i
        if (end > start) out += Adaptors.asciiLower(new String(text, start, end - start))
        if (p >= 0) out += punctTokens(p)
      }
    }
  }

  /** [[scanTokensLower]] over a whole sentence. */
  def tokenizeLower(sentence: String): IndexedSeq[String] = {
    val out = ArrayBuffer.empty[String]
    scanTokensLower(sentence.toCharArray, 0, sentence.length, out)
    out.toIndexedSeq
  }

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
  }

  /** Greedy longest-match gazetteer scan over ALREADY-lowercased tokens,
    * into `out`. */
  def scanMentions(lower: collection.IndexedSeq[String], index: GazetteerIndex,
      out: ArrayBuffer[Mention]): Unit = {
    out.clear()
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
  }

  /** [[scanMentions]] into a fresh sequence. */
  def detectMentionsIndexed(lower: IndexedSeq[String], index: GazetteerIndex): Seq[Mention] = {
    val out = ArrayBuffer.empty[Mention]
    scanMentions(lower, index, out)
    out.toSeq
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

  /** Candidate (subject, object) ordered pairs into `out`, as index pairs
    * into `mentions`: subject NER restricted, spans distinct (overlap
    * rejection P13 happens again in the featurizer), the first `maxPairs`
    * kept to bound worst-case blowup on mention-dense sentences. */
  def scanPairs(mentions: collection.IndexedSeq[Mention], maxPairs: Int, out: Ints): Unit = {
    out.clear()
    var s = 0
    while (s < mentions.length && out.size / 2 < maxPairs) {
      val sm = mentions(s)
      if (subjectNers.contains(sm.ner)) {
        var o = 0
        while (o < mentions.length && out.size / 2 < maxPairs) {
          val om = mentions(o)
          if (!(om.begin == sm.begin && om.end == sm.end)) { out += s; out += o }
          o += 1
        }
      }
      s += 1
    }
  }

  /** [[scanPairs]] as (subject, object) mention pairs. */
  def candidatePairs(mentions: Seq[Mention], maxPairs: Int = MaxPairs): Seq[(Mention, Mention)] = {
    val ms = mentions.toIndexedSeq
    val r = new Ints
    scanPairs(ms, maxPairs, r)
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
