package graft.kg

/**
 * Dense (subject_ner × object_ner × relation) validity tensor
 * (reference: data/typecheck.py:41-57) — the J4 "theta join against a
 * 3-ary relation realized as array indexing".
 *
 * Built once on the driver and shipped as a Spark broadcast; executors do
 * O(1) lookups inside the scoring kernel. Layout matches the reference's
 * row-major float32[N, N, R]: index = (ner1*N + ner2)*R + rel.
 */
final class TypeChecker(val valid: Array[Float], val nerSize: Int, val relSize: Int)
    extends Serializable {

  def isValid(ner1: Int, ner2: Int, rel: Int): Boolean =
    valid((ner1 * nerSize + ner2) * relSize + rel) != 0f

  /** The length-R 0/1 mask row for one NER pair (reference: typecheck.py:24-26). */
  def maskRow(ner1: Int, ner2: Int): Array[Float] = {
    val out = new Array[Float](relSize)
    System.arraycopy(valid, (ner1 * nerSize + ner2) * relSize, out, 0, relSize)
    out
  }

  /** P12: does this NER pair admit a positive (non-`no_relation`) relation?
    * The reference checks `get_valid(...)` truthiness of the whole row
    * (train.py:162-165 + data/dataset.py:132-135), but `no_relation` is valid
    * for every pair, so that row is always truthy; the effective
    * training-time filter is "any positive relation possible", reproduced
    * here. */
  def pairAdmitsPositive(ner1: Int, ner2: Int, noRelationId: Int): Boolean = {
    val base = (ner1 * nerSize + ner2) * relSize
    var r = 0
    while (r < relSize) {
      if (r != noRelationId && valid(base + r) != 0f) return true
      r += 1
    }
    false
  }

  /** Masked argmax + softmax confidence over raw logits (M2+M3, kbp.py:56-58
    * semantics). `raw` is only read, so a memo of logits can be decided per
    * NER pair. Golden triples pin its bits: keep the Float product
    * `raw(r) * valid(..)`, the first-max scan and the Double sum order. */
  def decide(raw: Array[Float], subjectNer: Int, objectNer: Int): (Int, Double) = {
    val base = (subjectNer * nerSize + objectNer) * relSize
    var best = 0
    var max = raw(0) * valid(base)
    var r = 1
    while (r < raw.length) {
      val v = raw(r) * valid(base + r)
      if (v > max) { max = v; best = r }
      r += 1
    }
    // np_softmax over the masked logits (utils.py:4-7)
    var sum = 0.0
    r = 0
    while (r < raw.length) { sum += math.exp((raw(r) * valid(base + r) - max).toDouble); r += 1 }
    (best, 1.0 / sum) // exp(p(best)-max) == exp(0) == 1
  }
}

object TypeChecker {

  /** Build from `(relation, subject_ner, object_ner)` rows
    * (reference: data/typecheck.py:41-57). Unknown relations/NER types are
    * skipped; `no_relation` is valid for every pair; MISC rows/cols wildcard
    * everything. NOTE the reference indexes `vocab['ner']['MISC']` through
    * the UNK fallback — if MISC is absent the wildcard lands on the UNK
    * type. We replicate that faithfully. */
  def fromRows(rows: Seq[(String, String, String)], vocabs: VocabSet): TypeChecker = {
    val ner = vocabs.ner.view
    val rel = vocabs.rel.view
    val n = ner.size
    val r = rel.size
    val valid = new Array[Float](n * n * r)
    rows.foreach { case (relation0, subjectNer0, objectNer0) =>
      val (relation, subjectNer, objectNer) = (relation0.trim, subjectNer0.trim, objectNer0.trim)
      if (rel.contains(relation) && ner.contains(subjectNer) && ner.contains(objectNer))
        valid((ner(subjectNer) * n + ner(objectNer)) * r + rel(relation)) = 1f
    }
    val noRel = rel("no_relation")
    for (n1 <- 0 until n; n2 <- 0 until n) valid((n1 * n + n2) * r + noRel) = 1f
    val misc = ner("MISC") // UNK fallback when absent — reference semantics
    for (n2 <- 0 until n; rr <- 0 until r) valid((misc * n + n2) * r + rr) = 1f
    for (n1 <- 0 until n; rr <- 0 until r) valid((n1 * n + misc) * r + rr) = 1f
    new TypeChecker(valid, n, r)
  }
}
