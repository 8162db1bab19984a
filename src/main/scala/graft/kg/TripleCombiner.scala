package graft.kg

/** One task's share of a deduplicated triple: the max confidence and the
  * number of linked rows among the pairs that task combined. */
final case class TriplePartial(subject_id: String, relation: String, object_id: String,
    confidence: Double, support: Long)

/** A scored pair linked to one (subject id, object id), its fields in the
  * column order of the two joins it replaces: the key columns first. */
final case class LinkedPair(objectSurface: String, objectNer: String,
    subjectSurface: String, subjectNer: String, url: String, sentIdx: Int,
    relation: String, confidence: Double, subject_id: String, object_id: String)

/**
 * J5 linking, and the map-side half of the A9 dedup, for one task,
 * Spark-free. Both surfaces link through `ids`, the entity dictionary
 * keyed on (surface, ner), with an inner join's meaning: a pair with a
 * surface outside the dictionary drops, and an ambiguous surface expands
 * to every pair of its ids. [[link]] emits the linked rows; [[combine]]
 * folds them into one [[TriplePartial]] per (subject_id, relation,
 * object_id), which keeps its max confidence and its count of linked rows.
 * The table emits its partials and clears once it holds `Cap` keys, so it
 * never holds more than `Cap` plus one pair's expansion. The caller merges
 * the partials of every task with the same [[TripleCombiner.merge]], which
 * is commutative and associative down to the confidence's raw bits, so the
 * merged triples do not depend on how pairs were split over tasks or in
 * which order partials arrive. Not thread-safe: one per task.
 */
final class TripleCombiner(ids: collection.Map[(String, String), Array[String]]) {
  import TripleCombiner._

  /** `ids` as surface → ner → ids: a lookup hashes two strings and builds
    * no key. */
  private val bySurface = new java.util.HashMap[String, java.util.HashMap[String, Array[String]]]
  ids.foreach { case ((surface, ner), v) =>
    bySurface.computeIfAbsent(surface, _ => new java.util.HashMap[String, Array[String]]).put(ner, v)
  }
  private val table = new java.util.HashMap[Key, Acc](4096)
  private val probe = new Key

  /** Links and folds `pairs`, emitting the partials whenever the table
    * fills and once more when `pairs` ends. */
  def combine(pairs: Iterator[ScoredPair]): Iterator[TriplePartial] =
    Iterator.unfold(true) { more =>
      if (!more) None
      else {
        while (table.size < Cap && pairs.hasNext) add(pairs.next())
        Some((drain(), pairs.hasNext))
      }
    }.flatten

  /** Links each pair to one row per (subject id, object id). */
  def link(pairs: Iterator[ScoredPair]): Iterator[LinkedPair] =
    pairs.flatMap { p =>
      val objects = idsOf(p.objectSurface, p.objectNer)
      for (s <- idsOf(p.subjectSurface, p.subjectNer).iterator; o <- objects) yield LinkedPair(
        p.objectSurface, p.objectNer, p.subjectSurface, p.subjectNer, p.url, p.sentIdx,
        p.relation, p.confidence, s, o)
    }

  private def add(p: ScoredPair): Unit = {
    val subjects = idsOf(p.subjectSurface, p.subjectNer)
    val objects = idsOf(p.objectSurface, p.objectNer)
    var i = 0
    while (i < subjects.length) {
      var j = 0
      while (j < objects.length) {
        val acc = table.get(probe.set(subjects(i), p.relation, objects(j)))
        if (acc == null) table.put(new Key().set(subjects(i), p.relation, objects(j)), new Acc(p.confidence))
        else acc.add(p.confidence)
        j += 1
      }
      i += 1
    }
  }

  /** A surface's ids: none for an unknown surface. */
  private def idsOf(surface: String, ner: String): Array[String] = {
    val byNer = bySurface.get(surface)
    val v = if (byNer == null) null else byNer.get(ner)
    if (v == null) NoIds else v
  }

  private def drain(): Array[TriplePartial] = {
    val out = new Array[TriplePartial](table.size)
    var k = 0
    table.forEach { (key, acc) =>
      out(k) = TriplePartial(key.s, key.r, key.o, acc.confidence, acc.support); k += 1
    }
    table.clear()
    out
  }
}

object TripleCombiner {
  private val Cap = 1 << 16

  /** The table's key, a triple hashed and compared as its three strings.
    * A table's stored keys never change; one more instance is its probe. */
  private final class Key {
    var s, r, o: String = _
    private var h = 0
    def set(s: String, r: String, o: String): Key = {
      this.s = s; this.r = r; this.o = o
      h = (s.hashCode * 31 + r.hashCode) * 31 + o.hashCode
      this
    }
    override def hashCode: Int = h
    override def equals(that: Any): Boolean = that match {
      case k: Key => s.equals(k.s) && r.equals(k.r) && o.equals(k.o)
      case _ => false
    }
  }

  /** A key's max confidence and count so far, folded in place. */
  private final class Acc(var confidence: Double) {
    var support = 1L
    def add(c: Double): Unit = {
      if (above(c, confidence)) confidence = c
      support += 1
    }
  }
  private val NoIds = Array.empty[String]

  /** Two partials of one key: the max confidence, the summed support.
    * Confidences order as in Spark (NaN above every number), with the ties
    * Spark's max leaves to arrival order broken by value: 0.0 is above
    * -0.0, and of two NaNs the one with the larger raw bits wins. */
  def merge(a: TriplePartial, b: TriplePartial): TriplePartial =
    a.copy(confidence = if (above(b.confidence, a.confidence)) b.confidence else a.confidence,
      support = a.support + b.support)

  /** Whether confidence b orders above a, in [[merge]]'s order. */
  private def above(b: Double, a: Double): Boolean = {
    val c = java.lang.Double.compare(b, a)
    c > 0 || (c == 0 && java.lang.Double.doubleToRawLongBits(b) > java.lang.Double.doubleToRawLongBits(a))
  }

  /** The linking map: (surface, ner) → every entity id of that key. */
  def dictionary(rows: Seq[EntityRecord]): Map[(String, String), Array[String]] =
    rows.groupBy(r => (r.surface, r.ner)).map { case (k, rs) => k -> rs.map(_.entityId).toArray }
}
