package graft.kg

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Error-analysis dump parity (analyze_errors.py:28-58): wrong-only rows,
  * path fields, and the `.analysis` text rendering. */
class EvaluateSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private lazy val bundleBc = spark.sparkContext.broadcast(Pipeline.buildBundle())

  /** FNV-1a over every field of every scored row, in row order, with the
    * raw IEEE bits of `confidence` and each string's length before its
    * chars. The report pins see only id, pred, targ and length (and the
    * single-path pin only the max-confidence aggregate), so this one
    * fails on a last-ulp confidence change or a moved subject/object id. */
  private def rowsDigest(rows: Seq[Evaluate.ScoredExample]): String = {
    var h = 0xCBF29CE484222325L
    def mix(v: Long): Unit = h = (h ^ v) * 0x100000001B3L
    def mixS(s: String): Unit = { mix(s.length.toLong); s.foreach(c => mix(c.toLong)) }
    mix(rows.length.toLong)
    rows.foreach { r =>
      mix(r.id); mixS(r.pred); mixS(r.targ); mixS(r.subjectId); mixS(r.objectId)
      mix(java.lang.Double.doubleToRawLongBits(r.confidence))
      mix(r.words.length.toLong); r.words.foreach(mixS); mix(r.length.toLong)
    }
    f"$h%016x"
  }

  test("scoreExamples and scoreSinglePath rows are bit-identical to their pinned digests") {
    val examples = spark.range(400).map(i => Gen.labeledExample(42L, i))
    val sent = Evaluate.scoreExamples(spark, examples, bundleBc).collect().toSeq
    val path = Evaluate.scoreSinglePath(spark, examples, bundleBc).collect().toSeq
    assert((sent.length, rowsDigest(sent)) === ((400, "dc7b154500eeb03e")))
    assert((path.length, rowsDigest(path)) === ((400, "0a6d6d1e08fe15b9")))
  }

  test("errorAnalysisDump carries only wrong examples with consistent path rows") {
    val examples = spark.range(300).map(i => Gen.labeledExample(42L, i))
    val dump = Evaluate.errorAnalysisDump(spark, examples, bundleBc).collect()
    assert(dump.nonEmpty, "the frozen fixture must miss some examples")
    dump.foreach { e =>
      assert(e.relation !== e.predicted, "dump rows must be WRONG examples")
      assert(e.pathLen === e.pathWords.length)
      assert(e.pathWords.length === e.pathArcs.length)
      assert(e.pathWords.length === e.pathNers.length)
      assert(e.sentence.nonEmpty && e.subject.nonEmpty && e.obj.nonEmpty)
    }
    // the dump is exactly the wrong subset of the single-path scoring pass
    val scored = Evaluate.scoreSinglePath(spark, examples, bundleBc).collect()
    val wrongIds = scored.filter(s => s.pred != s.targ).map(_.id).toSet
    assert(dump.map(_.id).toSet === wrongIds)
  }

  /** 40 good examples, then one with no dependency parse and one whose
    * object span is its subject span. */
  private lazy val (good, noParse, overlap) = {
    val good = (0L until 40L).map(i => Gen.labeledExample(42L, i))
    (good, good(0).copy(dependency = Nil),
      good(1).copy(objectBegin = good(1).subjectBegin, objectEnd = good(1).subjectEnd))
  }

  /** What `action` adds to graft.kg.eval_errors. */
  private def evalErrorsAdded(action: => Any): Long = {
    val errors = graft.Counters(spark, "graft.kg.eval_errors")
    val before = errors.value
    action
    errors.value - before
  }

  test("every Evaluate entry counts each example its featurizer rejects on graft.kg.eval_errors") {
    val split = (good :+ noParse :+ overlap).toDS()
    // the sentence blanking needs no parse but rejects overlapping spans;
    // the dependency walk rejects both (one shared head: an empty path)
    assert(evalErrorsAdded(Evaluate.scoreExamples(spark, split, bundleBc).count()) === 1)
    assert(evalErrorsAdded(Evaluate.scoreSinglePath(spark, split, bundleBc).count()) === 2)
    assert(evalErrorsAdded(Evaluate.errorAnalysisDump(spark, split, bundleBc).count()) === 2)
    // one pass per config: the sentence channel's 1 plus the concat path's 2
    assert(evalErrorsAdded(Evaluate.zooSummary(spark, split, bundleBc, Seq(
      Models.ModelConfig("single_small", "lstm"),
      Models.ModelConfig("concat", "gru"))).collect()) === 3)
  }

  test("Evaluate.run scores its split once for the report and both of its tables") {
    val split = (good :+ overlap).toDS()
    assert(evalErrorsAdded {
      val report = Evaluate.run(spark, split, bundleBc)
      report.perRelation.collect()
      report.wrongs.collect()
    } === 1)
  }

  test("formatAnalysis renders the reference's .analysis layout verbatim") {
    val ex = Evaluate.ErrorExample(
      id = 1L,
      sentence = "in may 0000 , branko returned to macedonia .",
      subject = "branko crvenkovski", subjectNer = "PERSON",
      obj = "macedonia", objectNer = "LOCATION",
      relation = "per:countries_of_residence", predicted = "no_relation",
      pathLen = 3,
      pathWords = Seq("macedonia", "returned", "branko"),
      pathArcs = Seq("nmod_from", "root", "nsubj_to"),
      pathNers = Seq("LOCATION", "O", "PERSON"))
    val hist = Seq((3, 10L, 2L), (5, 20L, 1L)) // (length, count, errors)
    val text = Evaluate.formatAnalysis(Seq(ex), hist)
    val expected =
      """in may 0000 , branko returned to macedonia .
        |branko crvenkovski PERSON
        |macedonia LOCATION
        |per:countries_of_residence no_relation
        |PATH = 3
        |macedonia nmod_from LOCATION
        |returned root O
        |branko nsubj_to PERSON
        |
        |length	count	num_error	percent_error
        |5	20	1	0.05
        |3	10	2	0.2
        |""".stripMargin
    assert(text === expected)
  }
}
