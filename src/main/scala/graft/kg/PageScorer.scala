package graft.kg

import scala.collection.mutable.ArrayBuffer

/**
 * The fused kernel of one Spark task, Spark-free: (url, html) → scored
 * relation candidates. Built once per task from the broadcast bundle, it
 * reuses its working buffers across pages, so a page allocates its output
 * rows and little else. Per page: [[TextExtract]] → [[Segment]] sentences;
 * per sentence, one scan of the extractor's chars through the task's
 * [[TokenTable]] to each token's word id (after P3 digit zeroing) and
 * gazetteer-token id, with no string per token; mentions matched on those
 * ids against the gazetteer's candidates, each of which carries its
 * surface, its NER and the NER's two ids; the first 20 candidate pairs →
 * [[Blanking]] → memo or [[Scorer.logits]] → [[TypeChecker.decide]], then
 * P15 (`no_relation` suppression, kbp.py:61-62). A pair whose
 * featurization throws follows the 'ignore' policy (P14, kbp.py:69-70): it
 * counts toward the cap and calls `countError`. Not thread-safe: one per
 * task.
 */
final class PageScorer(b: Pipeline.ScoringBundle, countError: () => Unit) {
  import PageScorer._

  private val scorer = new Scorer(b.weights, b.typechecker)
  private val gazIndex = new Segment.GazetteerIndex(b.gazetteer)
  private val cands = gazIndex.candidates(idOf(b.ner, _), idOf(b.word, _))
  private val subjects = cands.map(c => Segment.subjectNers.contains(c.ner))
  private val noRelId = b.rel("no_relation")
  private val extractor = new TextExtract.Extractor
  private val table = new TokenTable(wordOf, gazIndex.tokenIds.getOrElse(_, -1))
  private val sentences, wordIds, gazIds, mentions, pairs = new Segment.Ints
  private val rows = ArrayBuffer.empty[ScoredPair]
  private var seq = new Array[Int](64)
  private var sCand, oCand: Segment.Candidate = _
  private val blanking = new Blanking {
    def word(i: Int): Int = known(wordIds(i))
    def tag(subject: Boolean): Int = known(if (subject) sCand.tagId else oCand.tagId)
  }
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
      scanSentence(text, sentences(k), sentences(k + 1))
      if (mentions.size > 0) {
        Segment.scanPairs(mentions, subjects, Segment.MaxPairs, pairs)
        var p = 0
        while (p < pairs.size) {
          scorePair(url, k / 2, pairs(p), pairs(p + 1))
          p += 2
        }
      }
      k += 2
    }
    rows.iterator
  }

  /** The int front end over text[from, until): word ids, gazetteer-token
    * ids and mentions as (begin, end, candidate) triples. */
  private def scanSentence(text: Array[Char], from: Int, until: Int): Unit = {
    Segment.scanTokenIds(text, from, until, table, wordIds, gazIds)
    Segment.scanMentionIds(gazIds, gazIndex.byFirstId, cands, mentions)
  }

  /** The word id of a lower-cased token after P3 digit zeroing, or -1. */
  private def wordOf(lower: String): Int = idOf(b.word, Adaptors.zeroDigit(lower))

  /** The sent-model blanking of the current sCand and oCand at spans
    * [sBegin, sEnd) and [oBegin, oEnd) over the current word ids, written
    * into `seq`; returns its length. */
  private def blank(sBegin: Int, sEnd: Int, oBegin: Int, oEnd: Int): Int = {
    blanking.set(wordIds.size, sBegin, sEnd, oBegin, oEnd, b.scope)
    if (seq.length < blanking.size) seq = new Array[Int](2 * blanking.size)
    blanking.fill(seq)
    blanking.size
  }

  /** Scores the pair of mentions s and o of the current sentence. */
  private def scorePair(url: String, sentIdx: Int, s: Int, o: Int): Unit =
    try {
      sCand = cands(mentions(3 * s + 2))
      oCand = cands(mentions(3 * o + 2))
      val n = blank(mentions(3 * s), mentions(3 * s + 1), mentions(3 * o), mentions(3 * o + 1))
      val sNer = known(sCand.nerId)
      val oNer = known(oCand.nerId)
      var raw = memo.get(probe.set(seq, n))
      if (raw == null) {
        val key = new SeqKey().set(java.util.Arrays.copyOf(seq, n), n)
        raw = scorer.logits(key.seq)
        if (memo.size >= MemoCap) memo.clear()
        memo.put(key, raw)
      }
      val (relId, conf) = b.typechecker.decide(raw, sNer, oNer)
      if (relId != noRelId)
        rows += ScoredPair(url, sentIdx, sCand.surface, sCand.ner, oCand.surface, oCand.ner,
          b.rel.index2word(relId), conf)
    } catch {
      case _: NoPathException | _: NoSuchElementException => countError()
    }

  /** The kernel's front end over one sentence: its word ids, and its
    * mentions as the String scan names them. */
  private[kg] def frontEnd(sentence: String): (IndexedSeq[Int], IndexedSeq[Mention]) = {
    scanSentence(sentence.toCharArray, 0, sentence.length)
    ((0 until wordIds.size).map(wordIds(_)), (0 until mentions.size by 3).map { m =>
      val c = cands(mentions(m + 2))
      Mention(mentions(m), mentions(m + 1), c.surface, c.ner)
    })
  }

  /** The kernel's featurization of one pair over a sentence's lower-cased
    * tokens: the blanked sequence and the subject and object NER ids. Its
    * mentions are any spans with any NER, overlapping or outside the
    * gazetteer (the blanking properties need both), which no candidate
    * carries; so it looks each word and NER up by string, as the table
    * does on a miss, and wraps the mentions in candidates of its own. */
  private[kg] def featurize(lower: collection.IndexedSeq[String], s: Mention,
      o: Mention): (Array[Int], Int, Int) = {
    def candidate(m: Mention) =
      new Segment.Candidate(Array.empty, m.surface, m.ner, idOf(b.ner, m.ner), idOf(b.word, m.ner))
    wordIds.clear()
    lower.foreach(w => wordIds += wordOf(w))
    sCand = candidate(s)
    oCand = candidate(o)
    val n = blank(s.begin, s.end, o.begin, o.end)
    (java.util.Arrays.copyOf(seq, n), known(sCand.nerId), known(oCand.nerId))
  }
}

object PageScorer {
  private val MemoCap = 1 << 16

  /** `w`'s id in `v`: its own, else the UNK id, else -1. */
  private def idOf(v: VocabView, w: String): Int = v.word2index.getOrElse(w, v.unkId)

  /** An id the kernel resolved: throws, as a vocabulary without UNK does,
    * when it is -1. */
  private def known(id: Int): Int =
    if (id >= 0) id else throw new NoSuchElementException("vocab miss")

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
