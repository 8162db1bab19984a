package graft.kg

/**
 * The three featurizer families (reference: data/featurizers.py), as pure
 * functions over [[SentenceExample]] → [[Featurized]]. Used inside typed
 * `Dataset.map` kernels; property-testable without a SparkSession.
 */
sealed trait Featurizer extends Serializable {
  def vocabs: VocabSet

  /** Entity tokens are replaced by their NER type
    * (reference: data/featurizers.py:19-25). */
  protected def getToken(ex: SentenceExample, index: Int): String =
    if (index >= ex.subjectBegin && index < ex.subjectEnd) ex.subjectNer
    else if (index >= ex.objectBegin && index < ex.objectEnd) ex.objectNer
    else ex.words(index)

  def featurize(ex: SentenceExample, add: Boolean = false): Featurized

  protected def baseFeat(ex: SentenceExample, add: Boolean, sequence: Seq[Int],
      subjectPos: Int = -1, objectPos: Int = -1): Featurized =
    Featurized(
      sequence = sequence,
      subjectNer = vocabs.ner.get(ex.subjectNer, add),
      objectNer = vocabs.ner.get(ex.objectNer, add),
      relation = ex.relation.filter(_.nonEmpty).map(vocabs.rel.get(_, add)),
      subjectPos = subjectPos, objectPos = objectPos,
      length = sequence.length,
      subjectId = ex.subjectId.getOrElse(ex.subject),
      objectId = ex.objectId.getOrElse(ex.objectVal),
      subjectNerName = ex.subjectNer, objectNerName = ex.objectNer)
}

/**
 * The sent model's entity blanking of one (subject, object) pair over an
 * `n`-word sentence (reference: data/featurizers.py:168-204), shared by
 * [[SentenceFeaturizer]] and the fused kernel's [[PageScorer]].
 * Each span collapses to one NER-type token; `scope > 0` keeps a ±scope
 * window around the pair (reference :188). Overlapping spans throw
 * (reference :175-177). Bug-compatible: `subjectPos`/`objectPos` index the
 * UN-sliced sequence (reference :188-200 never adjusts them; the sent model
 * ignores positions).
 *
 * Callers supply the ids: `word(i)` of sentence word i, `tag(subject)` of
 * the subject's NER-type token (or the object's). [[sequence]] and [[fill]]
 * call them once per emitted token, in output order, so an `add = true`
 * vocab numbers new tokens in sequence order and tokens outside the window
 * never reach it. [[set]] places a new pair, so one instance serves a
 * task's every pair.
 */
private[kg] abstract class Blanking {
  def word(i: Int): Int
  def tag(subject: Boolean): Int

  private var subjFirst = false
  private var firstPos, firstEnd, secondPos, secondEnd, from, until = 0

  /** Places the subject span [sBegin, sEnd) and the object span over an
    * `n`-word sentence; throws NoPathException if they overlap. */
  def set(n: Int, sBegin: Int, sEnd: Int, oBegin: Int, oEnd: Int, scope: Int): this.type = {
    if (sBegin >= oBegin && sBegin < oEnd || oBegin >= sBegin && oBegin < sEnd)
      throw new NoPathException("overlapping spans")
    subjFirst = sBegin < oBegin
    firstPos = if (subjFirst) sBegin else oBegin
    firstEnd = if (subjFirst) sEnd else oEnd
    secondEnd = if (subjFirst) oEnd else sEnd
    secondPos = firstPos + 1 + ((if (subjFirst) oBegin else sBegin) - firstEnd)
    val length = secondPos + 1 + (n - secondEnd)
    from = if (scope > 0) math.max(0, firstPos - scope) else 0
    until = if (scope > 0) math.min(length, secondPos + scope + 1) else length
    this
  }

  def subjectPos: Int = if (subjFirst) firstPos else secondPos
  def objectPos: Int = if (subjFirst) secondPos else firstPos

  /** The length of [[sequence]]. */
  def size: Int = until - from

  /** Writes the blanked, windowed token ids into out[0, size). */
  def fill(out: Array[Int]): Unit = {
    var p = from
    while (p < until) {
      out(p - from) =
        if (p < firstPos) word(p)
        else if (p == firstPos) tag(subjFirst)
        else if (p < secondPos) word(firstEnd + p - firstPos - 1)
        else if (p == secondPos) tag(!subjFirst)
        else word(secondEnd + p - secondPos - 1)
      p += 1
    }
  }

  /** The blanked, windowed token ids: a fresh array. */
  def sequence: Array[Int] = { val out = new Array[Int](size); fill(out); out }
}

/** The [[Blanking]] of two mentions, with NER-type ids looked up by name
  * through `tag(ner)`. */
private[kg] abstract class SentenceBlanking(n: Int, s: Mention, o: Mention, scope: Int)
    extends Blanking {
  def tag(ner: String): Int
  final def tag(subject: Boolean): Int = tag(if (subject) s.ner else o.ner)
  set(n, s.begin, s.end, o.begin, o.end, scope)
}

/** Sentence featurizer (the submission model, README.md:13): the
  * [[SentenceBlanking]] of the example's two spans, looked up in `vocabs`. */
final class SentenceFeaturizer(val vocabs: VocabSet, val scope: Int = -1) extends Featurizer {

  def featurize(ex: SentenceExample, add: Boolean = false): Featurized = {
    val words = ex.words.toIndexedSeq
    val blanking = new SentenceBlanking(words.length,
        Mention(ex.subjectBegin, ex.subjectEnd, ex.subject, ex.subjectNer),
        Mention(ex.objectBegin, ex.objectEnd, ex.objectVal, ex.objectNer), scope) {
      def word(i: Int): Int = vocabs.word.get(words(i), add)
      def tag(ner: String): Int = vocabs.word.get(ner, add)
    }
    baseFeat(ex, add, scala.collection.immutable.ArraySeq.unsafeWrapArray(blanking.sequence),
      blanking.subjectPos, blanking.objectPos)
  }
}

/** Shared path extraction for the dependency featurizers
  * (reference: data/featurizers.py:39-56). */
sealed trait DependencyFeaturizerBase extends Featurizer {
  protected def pathOf(ex: SentenceExample): List[PathEdge] = {
    if (ex.dependency.isEmpty) throw new NoPathException("no dependency parse")
    val path = new DependencyParse(ex.dependency, enhanced = true)
      .getPathFromParse(ex.subjectBegin, ex.subjectEnd, ex.objectBegin, ex.objectEnd)
    if (path.isEmpty) throw new NoPathException("no shortest path between entities")
    path
  }
}

/**
 * Single-path featurizer: interleaved `token, arc, token, …` along the
 * shortest dependency path (reference: data/featurizers.py:59-72).
 * Root edges contribute no tokens; the final token comes from the LAST
 * edge's `to` endpoint — loop-variable leak preserved (reference :64-68).
 */
final class SinglePathDependencyFeaturizer(val vocabs: VocabSet) extends DependencyFeaturizerBase {

  def decodedSequence(ex: SentenceExample): Seq[String] = {
    val path = pathOf(ex)
    val seq = scala.collection.mutable.ArrayBuffer.empty[String]
    path.foreach { e => if (e.arc != "root") { seq += getToken(ex, e.from); seq += e.arc } }
    seq += getToken(ex, path.last.to)
    seq.toSeq
  }

  def featurize(ex: SentenceExample, add: Boolean = false): Featurized =
    baseFeat(ex, add, decodedSequence(ex).map(vocabs.word.get(_, add)))
}

/**
 * Concatenated multi-channel featurizer: word/ner/pos/arc channels per path
 * edge (reference: data/featurizers.py:107-137). Unknown arcs at frozen-vocab
 * time fall back to `dep_from`/`dep_to` (:130-131); `root` maps to `dep_to`
 * when absent — and a missing fallback id is an error row (dep vocab has no
 * UNK), surfaced as the P14 error channel.
 */
final class ConcatenatedDependencyFeaturizer(val vocabs: VocabSet) extends DependencyFeaturizerBase {

  final case class Channels(words: Seq[Int], ner: Seq[Int], pos: Seq[Int], arc: Seq[Int])

  /** The per-path-edge STRING rows (word, ner, pos, arc) — the fields the
    * reference's error-analysis dump prints one line per path token
    * (analyze_errors.py:28-37 zips ex.words/ex.parse/ex.ner). */
  def pathRows(ex: SentenceExample): Seq[(String, String, String, String)] =
    pathOf(ex).map { case PathEdge(child, parent, arc) =>
      if (arc.endsWith("_from") || arc == "root")
        (getToken(ex, child), ex.ner(child), ex.pos(child), arc)
      else if (arc.endsWith("_to"))
        (getToken(ex, parent), ex.ner(parent), ex.pos(parent), arc)
      else throw new IllegalArgumentException("Unknown arc type " + arc)
    }

  def featurizeChannels(ex: SentenceExample, add: Boolean = false): (Featurized, Channels) = {
    val rows = pathRows(ex)
    val words = rows.map { case (w, _, _, _) => vocabs.word.get(w, add) }
    val ners = rows.map { case (_, n, _, _) => vocabs.ner.get(n, add) }
    val poss = rows.map { case (_, _, p, _) => vocabs.pos.get(p, add) }
    val arcs = rows.map { case (_, _, _, a0) =>
      val a = if (!add && !vocabs.dep.contains(a0))
        (if (a0.endsWith("_from")) "dep_from" else "dep_to")
      else a0
      vocabs.dep.get(a, add)
    }
    val feat = baseFeat(ex, add, words)
    (feat, Channels(words, ners, poss, arcs))
  }

  def featurize(ex: SentenceExample, add: Boolean = false): Featurized =
    featurizeChannels(ex, add)._1
}

/** Featurizer registry — the reference's config-string dispatch
  * (reference: train.py:135-141): sent = whole sentence (scope −1),
  * sent0/sent3 = scoped windows, single = dependency path, concat =
  * multi-channel path. */
object Featurizers {
  val names: Seq[String] = Seq("sent", "sent0", "sent3", "single", "concat")

  def apply(name: String, vocabs: VocabSet): Featurizer = name match {
    case "sent" => new SentenceFeaturizer(vocabs, scope = -1)
    case "sent0" => new SentenceFeaturizer(vocabs, scope = 0)
    case "sent3" => new SentenceFeaturizer(vocabs, scope = 3)
    case "single" => new SinglePathDependencyFeaturizer(vocabs)
    case "concat" => new ConcatenatedDependencyFeaturizer(vocabs)
    case other => throw new IllegalArgumentException(s"unknown featurizer: $other")
  }
}
