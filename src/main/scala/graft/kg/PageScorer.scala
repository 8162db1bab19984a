package graft.kg

import scala.collection.mutable.ArrayBuffer

/**
 * The fused kernel of one Spark task, Spark-free: (url, html) → scored
 * relation candidates. Built once per task from the broadcast bundle, it
 * reuses its working buffers across pages, so a page allocates its token
 * strings, mentions and output rows and little else. Per page:
 * [[TextExtract]] → [[Segment]] sentences, lower-cased tokens, mentions and
 * the first 20 candidate pairs → P3 digit zeroing and word ids (once per
 * sentence) → [[SentenceBlanking]] → memo or [[Scorer.logits]] →
 * [[TypeChecker.decide]], then P15 (`no_relation` suppression,
 * kbp.py:61-62). A pair whose featurization throws follows the 'ignore'
 * policy (P14, kbp.py:69-70): it counts toward the cap and calls
 * `countError`. Not thread-safe: one per task.
 */
final class PageScorer(b: Pipeline.ScoringBundle, countError: () => Unit) {
  import PageScorer._

  private val scorer = new Scorer(b.weights, b.typechecker)
  private val gazIndex = new Segment.GazetteerIndex(b.gazetteer)
  private val noRelId = b.rel("no_relation")
  private val extractor = new TextExtract.Extractor
  private val sentences = new Segment.Ints
  private val tokens = ArrayBuffer.empty[String]
  private val mentions = ArrayBuffer.empty[Mention]
  private val pairs = new Segment.Ints
  private val rows = ArrayBuffer.empty[ScoredPair]
  private var wordIds = new Array[Int](64)
  private var seq = new Array[Int](64)
  // Boilerplate collapse: web sentences repeat heavily after blanking and
  // digit zeroing, and raw logits are a PURE function of the blanked
  // sequence, so an exact-match memo skips the LSTM for repeats, mirror
  // pairs included; the NER-pair mask and softmax run per pair on the cached
  // logits. Probed with one reused key over `seq`; cleared when full.
  private val memo = new java.util.HashMap[SeqKey, Array[Float]](4096)
  private val probe = new SeqKey

  /** One page's scored pairs, in sentence then pair order, over a buffer
    * the next call reuses: consume them before scoring the next page. */
  def score(url: String, html: Array[Byte]): Iterator[ScoredPair] = {
    rows.clear()
    extractor.run(html) // north-rule extraction stage
    val text = extractor.chars
    Segment.scanSentences(text, extractor.length, sentences)
    var k = 0
    while (k < sentences.size) {
      Segment.scanTokensLower(text, sentences(k), sentences(k + 1), tokens)
      Segment.scanMentions(tokens, gazIndex, mentions)
      if (mentions.nonEmpty) {
        lookUpWords()
        Segment.scanPairs(mentions, Segment.MaxPairs, pairs)
        var p = 0
        while (p < pairs.size) {
          scorePair(url, k / 2, mentions(pairs(p)), mentions(pairs(p + 1)))
          p += 2
        }
      }
      k += 2
    }
    rows.iterator
  }

  /** P3 digit zeroing and word-id lookup of the current tokens. */
  private def lookUpWords(): Unit = {
    if (wordIds.length < tokens.length) wordIds = new Array[Int](2 * tokens.length)
    var i = 0
    while (i < tokens.length) { wordIds(i) = b.word(Adaptors.zeroDigit(tokens(i))); i += 1 }
  }

  /** The sent-model blanking of (s, o) over the current word ids, written
    * into `seq`; returns its length. */
  private def blank(s: Mention, o: Mention): Int = {
    val blanking = new SentenceBlanking(tokens.length, s, o, b.scope) {
      def word(i: Int): Int = wordIds(i)
      def tag(ner: String): Int = b.word(ner)
    }
    if (seq.length < blanking.size) seq = new Array[Int](2 * blanking.size)
    blanking.fill(seq)
    blanking.size
  }

  private def scorePair(url: String, sentIdx: Int, s: Mention, o: Mention): Unit =
    try {
      val n = blank(s, o)
      val sNer = b.ner(s.ner)
      val oNer = b.ner(o.ner)
      var raw = memo.get(probe.set(seq, n))
      if (raw == null) {
        val key = new SeqKey().set(java.util.Arrays.copyOf(seq, n), n)
        raw = scorer.logits(key.seq)
        if (memo.size >= MemoCap) memo.clear()
        memo.put(key, raw)
      }
      val (relId, conf) = b.typechecker.decide(raw, sNer, oNer)
      if (relId != noRelId)
        rows += ScoredPair(url, sentIdx, s.surface, s.ner, o.surface, o.ner,
          b.rel.index2word(relId), conf)
    } catch {
      case _: NoPathException | _: NoSuchElementException => countError()
    }

  /** The kernel's featurization of one pair over a sentence's lower-cased
    * tokens: the blanked sequence and the subject and object NER ids. */
  private[kg] def featurize(lower: collection.IndexedSeq[String], s: Mention,
      o: Mention): (Array[Int], Int, Int) = {
    tokens.clear(); tokens ++= lower
    lookUpWords()
    val n = blank(s, o)
    (java.util.Arrays.copyOf(seq, n), b.ner(s.ner), b.ner(o.ner))
  }
}

object PageScorer {
  private val MemoCap = 1 << 16

  /** Memo key for the scoring cache: the blanked sequence seq[0, len). */
  private final class SeqKey {
    var seq: Array[Int] = null
    private var len, hash = 0
    def set(s: Array[Int], n: Int): SeqKey = {
      seq = s; len = n; hash = 1
      var i = 0
      while (i < n) { hash = 31 * hash + s(i); i += 1 }
      this
    }
    override def hashCode: Int = hash
    override def equals(that: Any): Boolean = that match {
      case k: SeqKey => java.util.Arrays.equals(k.seq, 0, k.len, seq, 0, len)
      case _ => false
    }
  }
}
