package graft.kg

/**
 * Canonical data model for the Spark-native KG-construction engine.
 *
 * Shapes derive from the reference's dynamic `Example` records
 * (reference: data/dataset.py:12-16) and its adaptor `keep` whitelist
 * (reference: data/adaptors.py:10-12), re-expressed as typed case classes
 * so Spark `Encoder`s give us columnar storage + Tungsten row layout.
 */

/** One dependency arc, 0-indexed; `parent == -1` encodes the root row
  * (reference: data/adaptors.py:14-20 does `int(parent)-1` on 1-based input). */
final case class DepEdge(child: Int, parent: Int, arc: String)

/** One edge of a shortest dependency path. `to == -1` with arc "root" is the
  * root marker (reference: data/dependency.py:71-72 emits `[curr, None, 'root']`). */
final case class PathEdge(from: Int, to: Int, arc: String)

/** Canonical parsed sentence + candidate entity pair
  * (reference: data/adaptors.py:10-12 `keep` list, 16 fields). */
final case class SentenceExample(
    words: Seq[String],
    lemmas: Seq[String],
    pos: Seq[String],
    ner: Seq[String],
    dependency: Seq[DepEdge],
    subjectBegin: Int,
    subjectEnd: Int,
    subject: String,
    subjectNer: String,
    objectBegin: Int,
    objectEnd: Int,
    objectVal: String,
    objectNer: String,
    relation: Option[String],
    subjectId: Option[String],
    objectId: Option[String])

/** A featurized example ready for the scoring kernel: integer token sequence
  * (sent model) or multi-channel sequences (concat model).
  * (reference: data/featurizers.py:193-204 for sent; :127-136 for concat) */
final case class Featurized(
    sequence: Seq[Int],
    subjectNer: Int,
    objectNer: Int,
    relation: Option[Int],
    subjectPos: Int,
    objectPos: Int,
    length: Int,
    subjectId: String,
    objectId: String,
    subjectNerName: String,
    objectNerName: String)

/** Emitted KB triple (reference: kbp.py:63 prints subject_id, rel, object_id,
  * confidence as TSV; we carry it as a typed row into the edges table). */
final case class Triple(subjectId: String, relation: String, objectId: String, confidence: Double)

/** North-rule input row: Common-Crawl-style page
  * (/root/repo/BASELINE.json input_hint). */
final case class Page(
    url: String,
    warc_ts: java.sql.Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** A detected entity mention within one sentence of one page. */
final case class Mention(begin: Int, end: Int, surface: String, ner: String)

/** A scored candidate (pre entity-linking): surfaces instead of canonical ids. */
final case class ScoredPair(
    url: String,
    sentIdx: Int,
    subjectSurface: String,
    subjectNer: String,
    objectSurface: String,
    objectNer: String,
    relation: String,
    confidence: Double)

/** Entity-dictionary row for the linking join (north-rule J5). */
final case class EntityRecord(surface: String, ner: String, entityId: String)
