package graft.kg

import org.scalatest.funsuite.AnyFunSuite

/** The per-task link-and-combine of `Pipeline.extractTriples`, Spark-free:
  * inner-join linking, Spark's max over doubles, and the bounded table
  * whose flushed partials merge back to exact per-triple figures. */
class TripleCombinerSpec extends AnyFunSuite {

  private def pair(s: String, o: String, conf: Double, rel: String = "per:employee_of") =
    ScoredPair("http://example.org/", 0, s, "PERSON", o, "CITY", rel, conf)

  /** The caller's merge: the shared one over each key's partials, in the
    * order given. */
  private def merge(parts: Iterator[TriplePartial]): Map[(String, String, String), (Double, Long)] =
    parts.toSeq.groupMapReduce(p => (p.subject_id, p.relation, p.object_id))(identity)(
      TripleCombiner.merge).view.mapValues(p => (p.confidence, p.support)).toMap

  /** Each key's confidence as its raw bits, and its support. */
  private def rawBits(m: Map[(String, String, String), (Double, Long)]) =
    m.view.mapValues { case (c, n) => (java.lang.Double.doubleToRawLongBits(c), n) }.toMap

  test("linking keeps inner-join meaning: unknown surfaces drop, ambiguous ones expand") {
    val ids = TripleCombiner.dictionary(Seq(
      EntityRecord("ann lee", "PERSON", "PER_A"), EntityRecord("ann lee", "PERSON", "PER_B"),
      EntityRecord("rome", "CITY", "CITY_R"), EntityRecord("rome", "PERSON", "PER_R")))
    val pairs = Seq(
      pair("ann lee", "rome", 0.25), pair("ann lee", "rome", 0.75),
      pair("bob", "rome", 0.9), // subject not in the dictionary
      pair("rome", "rome", 0.5), // (rome, PERSON) is a key of its own
      pair("ann lee", "paris", 0.9)) // object not in the dictionary
    val got = merge(new TripleCombiner(ids).combine(pairs.iterator))
    val rel = "per:employee_of"
    assert(got === Map(
      ("PER_A", rel, "CITY_R") -> (0.75, 2L), ("PER_B", rel, "CITY_R") -> (0.75, 2L),
      ("PER_R", rel, "CITY_R") -> (0.5, 1L)))
    // the per-row form: one row per (subject id, object id), the pair's
    // other fields carried over
    val rows = new TripleCombiner(ids).link(pairs.iterator).toSeq
    assert(rows.map(r => (r.subject_id, r.object_id, r.subjectSurface, r.confidence)).sorted === Seq(
      ("PER_A", "CITY_R", "ann lee", 0.25), ("PER_A", "CITY_R", "ann lee", 0.75),
      ("PER_B", "CITY_R", "ann lee", 0.25), ("PER_B", "CITY_R", "ann lee", 0.75),
      ("PER_R", "CITY_R", "rome", 0.5)))
    assert(rows.forall(r => r.url == "http://example.org/" && r.sentIdx == 0 &&
      r.relation == rel && r.subjectNer == "PERSON" && (r.objectSurface, r.objectNer) == ("rome", "CITY")))
  }

  test("max follows Spark's double ordering: NaN is above every number") {
    val ids = TripleCombiner.dictionary(Seq(
      EntityRecord("ann lee", "PERSON", "PER_A"), EntityRecord("rome", "CITY", "CITY_R")))
    val got = merge(new TripleCombiner(ids).combine(Iterator(
      pair("ann lee", "rome", 0.5), pair("ann lee", "rome", Double.NaN),
      pair("ann lee", "rome", Double.PositiveInfinity))))
    val (conf, support) = got(("PER_A", "per:employee_of", "CITY_R"))
    assert(conf.isNaN && support === 3L)
  }

  test("the table flushes at 2^16 keys; merged partials give every key's exact max and count") {
    val n = 300 // 300 x 300 = 90,000 distinct keys, above the 65,536 cap
    val ids = TripleCombiner.dictionary(
      (0 until n).flatMap(i => Seq(EntityRecord(s"s$i", "PERSON", s"S$i"), EntityRecord(s"o$i", "CITY", s"O$i"))))
    val rng = new java.util.Random(7L)
    val pairs = for {
      round <- 0 until 3; i <- 0 until n; j <- 0 until n
      if (i + j + round) % 5 != 0 // supports of 2 and 3
    } yield pair(s"s$i", s"o$j", rng.nextDouble())
    val expected = pairs.groupMapReduce(p => (s"S${p.subjectSurface.drop(1)}", p.relation,
      s"O${p.objectSurface.drop(1)}"))(p => (p.confidence, 1L)) {
      case ((c1, n1), (c2, n2)) => (math.max(c1, c2), n1 + n2)
    }
    assert(expected.size === n * n)
    val parts = new TripleCombiner(ids).combine(pairs.iterator).toSeq
    assert(parts.size > expected.size, "keys must recur across flushes")
    val got = merge(parts.iterator)
    assert(got.size === expected.size)
    got.foreach { case (k, (conf, support)) =>
      val (c, s) = expected(k)
      assert(java.lang.Double.doubleToRawLongBits(conf) === java.lang.Double.doubleToRawLongBits(c), s"$k")
      assert(support === s, s"$k")
    }
    assert(got.values.map(_._2).toSet === Set(2L, 3L))
  }

  test("partials of a split input, merged in any order, equal one combiner over every pair") {
    val ids = TripleCombiner.dictionary(Seq(
      EntityRecord("ann lee", "PERSON", "PER_A"), EntityRecord("ann lee", "PERSON", "PER_B"),
      EntityRecord("rome", "CITY", "CITY_R"), EntityRecord("oslo", "CITY", "CITY_O")))
    // the values whose order Spark's max leaves to arrival: -0.0 against
    // 0.0, and NaNs of different bits
    val confs = Array(0.0, -0.0, Double.NaN, java.lang.Double.longBitsToDouble(0xfff8000000000001L),
      0.25, 1.0, Double.NegativeInfinity)
    val rng = new scala.util.Random(11L)
    for (_ <- 0 until 200) {
      val pairs = Seq.fill(1 + rng.nextInt(30))(pair("ann lee", if (rng.nextBoolean()) "rome" else "oslo",
        confs(rng.nextInt(confs.length)), if (rng.nextBoolean()) "per:employee_of" else "per:spouse"))
      val whole = merge(new TripleCombiner(ids).combine(pairs.iterator))
      val cuts = (0 +: Seq.fill(rng.nextInt(5))(rng.nextInt(pairs.size + 1)) :+ pairs.size).sorted
      val parts = cuts.zip(cuts.tail).flatMap { case (from, until) =>
        new TripleCombiner(ids).combine(pairs.slice(from, until).iterator)
      }
      val got = merge(rng.shuffle(parts).iterator)
      assert(rawBits(got) === rawBits(whole), s"pairs $pairs, cuts $cuts")
      assert(got.values.map(_._2).sum === 2L * pairs.size) // ann lee has two ids
    }
  }
}
