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

  private val table = new java.util.HashMap[(String, String, String), TriplePartial](4096)

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
      val (subjects, objects) = lookup(p)
      for (s <- subjects.iterator; o <- objects) yield LinkedPair(p.objectSurface, p.objectNer,
        p.subjectSurface, p.subjectNer, p.url, p.sentIdx, p.relation, p.confidence, s, o)
    }

  private def add(p: ScoredPair): Unit = {
    val (subjects, objects) = lookup(p)
    for (s <- subjects; o <- objects)
      table.merge((s, p.relation, o), TriplePartial(s, p.relation, o, p.confidence, 1L), Merge)
  }

  /** The subject's ids and the object's: none for an unknown surface. */
  private def lookup(p: ScoredPair): (Array[String], Array[String]) =
    (ids.getOrElse((p.subjectSurface, p.subjectNer), NoIds),
      ids.getOrElse((p.objectSurface, p.objectNer), NoIds))

  private def drain(): Array[TriplePartial] = {
    val out = table.values.toArray(new Array[TriplePartial](0))
    table.clear()
    out
  }
}

object TripleCombiner {
  private val Cap = 1 << 16
  private val NoIds = Array.empty[String]

  /** Two partials of one key: the max confidence, the summed support.
    * Confidences order as in Spark (NaN above every number), with the ties
    * Spark's max leaves to arrival order broken by value: 0.0 is above
    * -0.0, and of two NaNs the one with the larger raw bits wins. */
  def merge(a: TriplePartial, b: TriplePartial): TriplePartial = {
    val c = java.lang.Double.compare(b.confidence, a.confidence)
    val bAbove = c > 0 || (c == 0 &&
      java.lang.Double.doubleToRawLongBits(b.confidence) > java.lang.Double.doubleToRawLongBits(a.confidence))
    a.copy(confidence = if (bAbove) b.confidence else a.confidence, support = a.support + b.support)
  }

  private val Merge: java.util.function.BiFunction[TriplePartial, TriplePartial, TriplePartial] =
    (a, b) => merge(a, b)

  /** The linking map: (surface, ner) → every entity id of that key. */
  def dictionary(rows: Seq[EntityRecord]): Map[(String, String), Array[String]] =
    rows.groupBy(r => (r.surface, r.ner)).map { case (k, rs) => k -> rs.map(_.entityId).toArray }
}
