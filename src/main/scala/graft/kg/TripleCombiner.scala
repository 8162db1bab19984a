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
 * object_id), which keeps its max confidence in Spark's double ordering
 * (NaN above everything, -0.0 equal to 0.0) and its count of linked rows.
 * The table emits its partials and clears once it holds `Cap` keys, so it
 * never holds more than `Cap` plus one pair's expansion; the caller's
 * aggregate merges the partials. Not thread-safe: one per task.
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

  /** Two partials of one key: the max confidence in Spark's double
    * ordering (the first on a tie), the summed support. */
  private val Merge: java.util.function.BiFunction[TriplePartial, TriplePartial, TriplePartial] =
    (a, b) => a.copy(
      confidence = if (b.confidence != a.confidence &&
        java.lang.Double.compare(b.confidence, a.confidence) > 0) b.confidence else a.confidence,
      support = a.support + b.support)

  /** The linking map: (surface, ner) → every entity id of that key. */
  def dictionary(rows: Seq[EntityRecord]): Map[(String, String), Array[String]] =
    rows.groupBy(r => (r.surface, r.ner)).map { case (k, rs) => k -> rs.map(_.entityId).toArray }
}
