package graft.kg

/**
 * Source-format decoders P1-P17 (reference: data/adaptors.py).
 *
 * These are pure functions used both from typed `Dataset.map` kernels and
 * from the ScalaTest golden tests that pin byte-exact parse semantics
 * against the reference's own unit-test fixtures (tests/test_adaptors.py).
 *
 * Python-2 fidelity notes:
 *  - `str.lower()` / `str.isdigit()` on Py2 byte-strings are ASCII-only —
 *    [[Adaptors.asciiLower]] / [[Adaptors.isAsciiDigits]] replicate that
 *    exactly (a JVM `toLowerCase` would differ on non-ASCII).
 */
object Adaptors {

  /** The canonical 16-field projection (reference: data/adaptors.py:10-12). */
  val keep: Seq[String] = Seq(
    "dependency", "words", "lemmas", "pos", "ner", "subject_begin", "subject_end", "subject",
    "subject_ner", "object_begin", "object_end", "object", "object_ner", "relation",
    "subject_id", "object_id")

  def isAsciiDigits(s: String): Boolean =
    s.nonEmpty && s.forall(c => c >= '0' && c <= '9')

  def asciiLower(s: String): String = {
    var i = 0
    val n = s.length
    while (i < n && !(s.charAt(i) >= 'A' && s.charAt(i) <= 'Z')) i += 1
    if (i == n) return s // fast path: nothing to lower, no allocation
    val a = s.toCharArray
    while (i < a.length) { val c = a(i); if (c >= 'A' && c <= 'Z') a(i) = (c + 32).toChar; i += 1 }
    new String(a)
  }

  /** P3: every all-digit token → '0'*len (reference: data/adaptors.py:23-26). */
  def zeroDigits(tokens: Seq[String]): Seq[String] = tokens.map(zeroDigit)

  /** P3 for one token: allocates only for an all-digit token. */
  def zeroDigit(w: String): String = if (isAsciiDigits(w)) "0" * w.length else w

  /** P1: CSV-dialect quoted array `'["a","b"]'` (reference: data/adaptors.py:22-27). */
  def parseArrayQuoted(s: String, zeroNumbers: Boolean = false): Seq[String] = {
    val parsed = s.slice(2, s.length - 2).split("\",\"", -1).toSeq
    if (zeroNumbers) zeroDigits(parsed) else parsed
  }

  /** P2: TSV-dialect brace array with the `,,,`→`,COMMA,` literal-comma hack
    * (reference: data/adaptors.py:87-94). */
  def parseArrayBrace(s: String, zeroNumbers: Boolean = false): Seq[String] = {
    val cleaned = s.replace("\"", "").replace(",,,", ",COMMA,")
    val parsed = cleaned.slice(1, cleaned.length - 1).split(",", -1).toSeq
      .map(p => if (p == "COMMA") "," else p)
    if (zeroNumbers) zeroDigits(parsed) else parsed
  }

  /** P8: newline-separated `child\tparent\tarc` 1-based → 0-based
    * (reference: data/adaptors.py:14-20). */
  def parseDependency(s: String): Seq[DepEdge] =
    s.split("\n", -1).toSeq.map { line =>
      val Array(child, parent, arc) = line.split("\t", 3)
      DepEdge(child.trim.toInt - 1, parent.trim.toInt - 1, arc)
    }

  /** P16: unescape `\\n` and `\\t` (reference: data/adaptors.py:100-101). */
  def unescape(s: String): String = s.replace("\\n", "\n").replace("\\t", "\t")

  /** S3 relation normalization map (reference: data/adaptors.py:131-138). */
  val evaluationRelationMap: Map[String, String] = Map(
    "per:employee_or_member_of" -> "per:employee_of",
    "org:top_members_employees" -> "org:top_members/employees",
    "per:statesorprovinces_of_residence" -> "per:stateorprovinces_of_residence",
    "org:number_of_employees_members" -> "org:number_of_employees/members",
    "org:political_religious_affiliation" -> "org:political/religious_affiliation",
    "" -> "no_relation")

  /** S4 relation normalization map (reference: data/adaptors.py:163-168). */
  val selfTrainingRelationMap: Map[String, String] = Map(
    "per:member_of" -> "per:employee_of",
    "" -> "no_relation",
    "false" -> "no_relation",
    "???" -> "no_relation")

  /** Relations excluded from training (reference: data/dataset.py:76). */
  val ignoreRelations: Set[String] = Set("org:website", "org:date_founded")

  /** Shared convert_types tail (reference: data/adaptors.py:29-51):
    * lowercase words/lemmas (already array-decoded + digit-zeroed by caller),
    * reconstruct entity surfaces, decode dependency, overwrite NER spans.
    */
  def convertTypes(
      words0: Seq[String], lemmas0: Seq[String], pos: Seq[String], ner0: Seq[String],
      dependencyRaw: String,
      subjectBegin: Int, subjectEnd: Int, subjectNer: String,
      objectBegin: Int, objectEnd: Int, objectNer: String,
      relation: Option[String], subjectId: Option[String], objectId: Option[String]): SentenceExample = {
    val words = words0.map(asciiLower)
    val lemmas = lemmas0.map(asciiLower)
    val subject = words.slice(subjectBegin, subjectEnd).mkString(" ")
    val objectVal = words.slice(objectBegin, objectEnd).mkString(" ")
    val dependency = parseDependency(dependencyRaw)
    val ner = ner0.zipWithIndex.map { case (n, i) =>
      if (i >= subjectBegin && i < subjectEnd) subjectNer
      else if (i >= objectBegin && i < objectEnd) objectNer
      else n
    }
    SentenceExample(words, lemmas, pos, ner, dependency,
      subjectBegin, subjectEnd, subject, subjectNer,
      objectBegin, objectEnd, objectVal, objectNer,
      relation, subjectId, objectId)
  }

  /** S1: supervision.csv row, 14 columns (reference: data/adaptors.py:60-71). */
  def supervisedToExample(row: Seq[String]): SentenceExample = {
    require(row.length == 14, s"could not convert row to example: arity ${row.length}")
    val Seq(dependency, words, lemmas, pos, ner, sb, se, _ /*subject_head*/, sNer,
      ob, oe, _ /*object_head*/, oNer, relation) = row
    convertTypes(
      parseArrayQuoted(words, zeroNumbers = true), parseArrayQuoted(lemmas, zeroNumbers = true),
      parseArrayQuoted(pos), parseArrayQuoted(ner),
      dependency, sb.toInt, se.toInt, sNer, ob.toInt, oe.toInt, oNer,
      Some(relation), None, None)
  }

  /** S2: KBP test-corpus TSV row, 20 columns (reference: data/adaptors.py:82-102). */
  def kbpToExample(row: Seq[String]): SentenceExample = {
    require(row.length == 20, s"could not convert row to example: arity ${row.length}")
    val Seq(_ /*gloss*/, dependency, _, _, words, lemmas, pos, ner, subjectId, _, _,
      sNer, objectId, _, _, oNer, sb, se, ob, oe) = row
    convertTypes(
      parseArrayBrace(words, zeroNumbers = true), parseArrayBrace(lemmas, zeroNumbers = true),
      parseArrayBrace(pos), parseArrayBrace(ner),
      unescape(dependency), sb.toInt, se.toInt, sNer, ob.toInt, oe.toInt, oNer,
      None, Some(subjectId), Some(objectId))
  }

  /** S3: labeled evaluation TSV row, 23 columns (reference: data/adaptors.py:123-152). */
  def kbpEvaluationToExample(row: Seq[String]): SentenceExample = {
    require(row.length == 23, s"could not convert row to example: arity ${row.length}")
    val r = row.toIndexedSeq
    val (dependency, words, lemmas, pos, ner) = (r(1), r(4), r(5), r(6), r(7))
    val (subjectId, sNer, objectId, oNer) = (r(8), r(11), r(12), r(15))
    val (sb, se, ob, oe, knownRelations) = (r(16), r(17), r(18), r(19), r(20))
    val rel0 = parseArrayBrace(knownRelations).head
    val rel = evaluationRelationMap.getOrElse(rel0, rel0)
    convertTypes(
      parseArrayBrace(words, zeroNumbers = true), parseArrayBrace(lemmas, zeroNumbers = true),
      parseArrayBrace(pos.replace("`", "'")), parseArrayBrace(ner),
      unescape(dependency), sb.toInt, se.toInt, sNer, ob.toInt, oe.toInt, oNer,
      Some(rel), Some(subjectId), Some(objectId))
  }

  /** S4: self-training TSV row, 24 columns (reference: data/adaptors.py:161-188). */
  def selfTrainingToExample(row: Seq[String]): SentenceExample = {
    require(row.length == 24, s"could not convert row to example: arity ${row.length}")
    val r = row.toIndexedSeq
    val (dependency, words, lemmas, pos, ner) = (r(1), r(4), r(5), r(6), r(7))
    val (subjectId, sNer, objectId, oNer) = (r(8), r(11), r(12), r(15))
    val (sb, se, ob, oe, annotatedRelations) = (r(16), r(17), r(18), r(19), r(23))
    val rel0 = annotatedRelations.trim
    val rel = selfTrainingRelationMap.getOrElse(rel0, rel0)
    convertTypes(
      parseArrayBrace(words, zeroNumbers = true), parseArrayBrace(lemmas, zeroNumbers = true),
      parseArrayBrace(pos.replace("`", "'")), parseArrayBrace(ner),
      unescape(dependency), sb.toInt, se.toInt, sNer, ob.toInt, oe.toInt, oNer,
      Some(rel), Some(subjectId), Some(objectId))
  }
}
