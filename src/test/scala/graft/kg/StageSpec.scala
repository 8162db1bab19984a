package graft.kg

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Spark-side tests for sources (S1-S4), featurize stage (P11-P14, M5),
  * metrics (A5/A8), streaming (B2/S5) and the custom expression. */
class StageSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import org.apache.spark.sql.functions._

  /** Runs `body` on the path of a file holding `lines`, in a temp dir
    * that is deleted afterwards. */
  private def withLines(name: String, lines: Seq[String])(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-src")
    try {
      val f = dir.resolve(name)
      Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
      body(f.toString)
    } finally Lineage.deleteRecursively(dir.toString)
  }

  test("S1 supervised CSV reader: golden row decodes (test_adaptors.py shape)") {
    // CSV with quoted multi-line-free fields; dependency uses literal \t\n?
    // the reference CSV carries real newlines inside quotes — exercised here.
    val dep = "2\t3\tcompound\n3\t5\tnsubj\n5\t0\troot\n4\t5\tpunct"
    val row = Seq(
      "\"" + dep + "\"",
      "\"[\"\"Alexandra\"\",\"\"of\"\",\"\"Denmark\"\",\"\"1914\"\",\"\"was\"\"]\"",
      "\"[\"\"alexandra\"\",\"\"of\"\",\"\"denmark\"\",\"\"1914\"\",\"\"be\"\"]\"",
      "\"[\"\"NNP\"\",\"\"IN\"\",\"\"NNP\"\",\"\"CD\"\",\"\"VBD\"\"]\"",
      "\"[\"\"PERSON\"\",\"\"O\"\",\"\"LOCATION\"\",\"\"DATE\"\",\"\"O\"\"]\"",
      "0", "3", "0", "PERSON", "3", "4", "3", "DATE", "per:spouse").mkString(",")
    withLines("supervision.csv", Seq(row)) { path =>
      val got = Sources.readSupervisedCsv(spark, path).collect()
      assert(got.length === 1)
      val ex = got(0)
      assert(ex.words === Seq("alexandra", "of", "denmark", "0000", "was"))
      assert(ex.subject === "alexandra of denmark")
      assert(ex.relation === Some("per:spouse"))
      assert(ex.dependency.head === DepEdge(1, 2, "compound"))
    }
  }

  test("S2 KBP TSV reader: brace arrays + escaped dependency cols") {
    val row = Seq(
      "This recipe from Sean Baker of Gather in Berkeley",            // gloss
      "4\\t5\\tcompound\\n5\\t1\\tnmod:from", "d2", "d3",              // deps (escaped)
      "[This,recipe,from,Sean,Baker,of,Gather,in,Berkeley]",
      "[this,recipe,from,Sean,Baker,of,gather,in,berkeley]",
      "[DT,NN,IN,NNP,NNP,IN,NNP,IN,NNP]",
      "[O,O,O,PERSON,PERSON,O,ORGANIZATION,O,CITY]",
      "SUBJ_ID", "Sean Baker", "0.9", "PERSON",
      "OBJ_ID", "Berkeley", "0.8", "CITY",
      "3", "5", "8", "9").mkString("\t")
    withLines("test.sample.tsv", Seq(row)) { path =>
      val got = Sources.readKbpTsv(spark, path).collect()
      assert(got.length === 1)
      val ex = got(0)
      assert(ex.words(3) === "sean")
      assert(ex.subject === "sean baker")
      assert(ex.objectVal === "berkeley")
      assert(ex.subjectId === Some("SUBJ_ID"))
      assert(ex.dependency === Seq(DepEdge(3, 4, "compound"), DepEdge(4, 0, "nmod:from")))
      assert(ex.ner === Seq("O", "O", "O", "PERSON", "PERSON", "O", "ORGANIZATION", "O", "CITY"))
      assert(ex.relation === None)
    }
  }

  test("S4 self-training reader + P14 error channel skips malformed rows") {
    val good = Seq(
      "gloss", "1\t0\troot".replace("\t", "\\t"), "d", "d",
      "[Pekar,found,dead]", "[pekar,find,dead]", "[NNP,VBD,JJ]", "[PERSON,O,O]",
      "SUBJ", "Pekar", "0.9", "PERSON", "OBJ", "Joyce", "0.8", "PERSON",
      "0", "1", "1", "2", "corpus7", "[]", "[]", "per:member_of").mkString("\t")
    val bad = "too\tfew\tcolumns"
    withLines("self_training.tsv", Seq(good, bad)) { path =>
      val errors = graft.Counters(spark, "graft.source.s4_errors")
      val before = errors.value
      val got = Sources.readSelfTrainingTsv(spark, path).collect()
      assert(got.length === 1) // malformed row skipped, job not aborted
      assert(errors.value - before === 1L, "the skipped row must be counted")
      assert(got(0).relation === Some("per:employee_of")) // S4 relation map
    }
  }

  test("Counters: one accumulator per (session, name); unlisted names rejected") {
    val name = "graft.kg.featurize_errors"
    val c = graft.Counters(spark, name)
    assert(c eq graft.Counters(spark, name))
    assert(c.name === Some(name))
    assert(!(graft.Counters(spark.newSession(), name) eq c))
    assert(graft.Counters.names.distinct === graft.Counters.names)
    intercept[IllegalArgumentException](graft.Counters(spark, "graft.kg.no_such_counter"))
  }

  test("stage readers never abort on arbitrary/truncated rows (fuzz, seeded)") {
    // mirrors the container/report-parser fuzz contract: every source
    // reader must skip-and-count garbage (P14), never fail the job. Random
    // printable lines with tab/bracket/brace structure sprinkled in so some
    // rows reach deep into the Adaptors decode kernels before failing.
    val rng = new java.util.Random(515151L)
    val alphabet = "abc01[]{},:\\.%\t\"'-_ INVALID" + "é"
    def randLine(): String =
      Array.fill(rng.nextInt(200))(alphabet(rng.nextInt(alphabet.length))).mkString
    val lines = Seq.fill(120)(randLine()).filter(_.trim.nonEmpty)
    withLines("fuzz_rows.tsv", lines) { path =>
      Seq[(String, org.apache.spark.sql.SparkSession => org.apache.spark.sql.Dataset[SentenceExample])](
        ("s1", s => Sources.readSupervisedCsv(s, path)),
        ("s2", s => Sources.readKbpTsv(s, path)),
        ("s3", s => Sources.readKbpEvaluationTsv(s, path)),
        ("s4", s => Sources.readSelfTrainingTsv(s, path))
      ).foreach { case (name, rd) =>
        val n = rd(spark).count() // must complete without aborting
        assert(n >= 0, s"$name reader must survive arbitrary input")
      }
    }
  }

  test("M5 corruption: deterministic, relabels no_relation, drops one position") {
    val feat = Featurized(Seq(5, 6, 7, 8), 1, 2, Some(3), 0, 2, 4, "s", "o", "PERSON", "O")
    val c1 = FeaturizeStage.corruptOne(feat, noRelationId = 0, seed = 99L)
    val c2 = FeaturizeStage.corruptOne(feat, noRelationId = 0, seed = 99L)
    assert(c1 === c2) // deterministic replay
    assert(c1.get.sequence.length === 3)
    assert(c1.get.relation === Some(0))
    val single = Featurized(Seq(5), 1, 2, Some(3), 0, 0, 1, "s", "o", "PERSON", "O")
    assert(FeaturizeStage.corruptOne(single, 0, 7L) === None) // empty → None
  }

  test("featurize stage end-to-end: P11 filter, P12 type filter, corruption expansion") {
    import spark.implicits._
    val bundle = Pipeline.buildBundle()
    val bundleBc = spark.sparkContext.broadcast(bundle)
    def mk(words: Seq[String], sNer: String, oNer: String, rel: String) = SentenceExample(
      words, words, words.map(_ => "NN"),
      words.indices.map(i => if (i == 0) sNer else if (i == 2) oNer else "O"),
      Seq.empty, 0, 1, words(0), sNer, 2, 3, words(2), oNer, Some(rel), None, None)
    val examples = Seq(
      mk(Seq("james", "works", "springfield", "today"), "PERSON", "CITY", "per:cities_of_residence"),
      mk(Seq("james", "works", "springfield", "today"), "PERSON", "CITY", "org:website"), // P11
      mk(Seq("james", "works", "springfield", "today"), "DATE", "DATE", "per:spouse")     // P12
    ).toDS()
    val out = FeaturizeStage.run(spark, examples, bundleBc, numCorrupt = 2).collect()
    assert(out.count(!_.corrupt) === 1)
    assert(out.count(_.corrupt) === 2)
    assert(out.filter(_.corrupt).forall(_.feat.relation === Some(bundle.rel("no_relation"))))
  }

  test("metrics: micro PRF + per-relation report (sklearn semantics)") {
    import spark.implicits._
    val df = Seq(
      ("per:spouse", "per:spouse"), ("per:spouse", "no_relation"),
      ("no_relation", "per:title"), ("no_relation", "no_relation"),
      ("per:title", "per:title")).toDF("targ", "pred")
    val prf = Metrics.microPRF(df, "pred", "targ")
    // tp: rows where pred==targ and targ!=no_relation → (spouse,spouse),(title? targ=per:title pred=per:title) = 2
    assert(prf.tp === 2)
    assert(prf.targPos === 3) // targ != no_relation
    assert(prf.predPos === 3) // pred != no_relation
    assert(math.abs(prf.f1 - 2.0 / 3.0) < 1e-12)
    val rep = Metrics.perRelationReport(df, "pred", "targ").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rep("per:spouse") === ((2L, 1L, 1L))) // support 2, tp 1, pred_cnt 1
  }

  test("triple P/R vs golden (the BASELINE gate computation)") {
    import spark.implicits._
    val got = Seq(("a", "r1", "b"), ("a", "r2", "c"), ("x", "r1", "y"))
      .toDF("subject_id", "relation", "object_id")
    val gold = Seq(("a", "r1", "b"), ("a", "r2", "c"), ("z", "r3", "w"))
      .toDF("subject_id", "relation", "object_id")
    val (p, r) = Metrics.triplePR(got, gold)
    assert(math.abs(p - 2.0 / 3.0) < 1e-12)
    assert(math.abs(r - 2.0 / 3.0) < 1e-12)
  }

  test("softmax_argmax expression: eval + codegen agree with reference math") {
    import spark.implicits._
    graft.functions.SoftmaxArgmax.register(spark)
    val df = Seq(Tuple1(Array(1.0, 3.0, 2.0)), Tuple1(Array(-5.0, -5.0, -7.0)))
      .toDF("logits")
    val got = df.select(
      graft.functions.SoftmaxArgmax.softmax_argmax(col("logits")).as("sa"))
      .select(col("sa.idx"), col("sa.conf")).collect()
    // row 1: argmax idx 1; conf = 1/(e^-2 + 1 + e^-1)
    assert(got(0).getInt(0) === 1)
    assert(math.abs(got(0).getDouble(1) -
      1.0 / (math.exp(-2.0) + 1.0 + math.exp(-1.0))) < 1e-12)
    // row 2: tie at idx 0 (numpy first-max); conf = 1/(1 + 1 + e^-2)
    assert(got(1).getInt(0) === 0)
    // SQL surface too
    val viaSql = df.selectExpr("softmax_argmax(logits) as sa").select("sa.idx").collect()
    assert(viaSql.map(_.getInt(0)).toSeq === Seq(1, 0))
  }

  test("LSH ANN returns a subset of brute-force results with identical cosines") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    val rest = e.filter(col("vec_id") =!= 0)
    val brute = graft.ops.Similarity.bruteCosineTopK(rest, q, 50).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = graft.ops.Similarity.lshCosineTopK(rest, q, 10).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    assert(ann.nonEmpty)
    // cosines computed identically; descending order
    val allCos = graft.ops.Similarity.bruteCosineTopK(rest, q, 10000).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ann.foreach { case (id, c) => assert(allCos(id) === c) }
    assert(ann.map(_._2).toSeq === ann.map(_._2).toSeq.sorted.reverse)
    // LSH bucket restriction must find at least part of the true top-50
    assert(ann.map(_._1).count(brute.contains) >= 1)
  }

  test("GraftExtensions injection + registry-based SQL surface") {
    // a fresh SparkSessionExtensions accepts the injection (builder path;
    // a same-JVM getOrCreate would reuse the suite session, so the full
    // session-build route is exercised by PipelineMain/spark-submit runs)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext)
    // registry path on the live session: SQL text resolves the function
    graft.functions.SoftmaxArgmax.register(spark)
    val got = spark.sql("SELECT softmax_argmax(array(1.0d, 3.0d, 2.0d)) AS sa")
      .selectExpr("sa.idx", "sa.conf").head()
    assert(got.getInt(0) === 1)
    // native vector expressions on the SQL surface
    graft.functions.VectorOps.register(spark)
    val v = spark.sql(
      """SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
                cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
                dot_product(array(1.0d), array(1.0d, 2.0d)) AS mismatch""").head()
    assert(v.getDouble(0) === 11.0)
    assert(math.abs(v.getDouble(1) - 1.0) < 1e-12)
    assert(v.isNullAt(2), "length mismatch must yield null")
    // null ELEMENTS propagate to null exactly like the aggregate/zip_with
    // HOF forms they replaced (not silently treated as 0.0) — interpreted
    // (literal fold) and codegen'd (column) paths both
    val nulls = spark.sql(
      """SELECT dot_product(array(1.0d, CAST(NULL AS DOUBLE)), array(3.0d, 4.0d)) AS d,
                cosine_sim(array(1.0d, CAST(NULL AS DOUBLE)), array(1.0d, 0.0d)) AS c""").head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1), "null element must yield null")
    import spark.implicits._
    val viaCol = Seq((Array[java.lang.Double](1.0, null), Array[java.lang.Double](3.0, 4.0)))
      .toDF("a", "b")
      .select(graft.functions.VectorOps.dot_product(
        org.apache.spark.sql.functions.col("a"), org.apache.spark.sql.functions.col("b")).as("d"),
        graft.functions.VectorOps.cosine_sim(
          org.apache.spark.sql.functions.col("a"), org.apache.spark.sql.functions.col("b")).as("c"))
      .head()
    assert(viaCol.isNullAt(0) && viaCol.isNullAt(1), "codegen path: null element must yield null")
    // the HOF reference forms agree (the scaladoc's bit-identical claim)
    val hof = spark.sql(
      """SELECT aggregate(zip_with(array(1.0d, CAST(NULL AS DOUBLE)), array(3.0d, 4.0d),
                (x, y) -> x * y), 0.0d, (acc, v) -> acc + v) AS d""").head()
    assert(hof.isNullAt(0))
  }

  test("the native functions register once per session: later ops keep the registry entries") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.classic.ClassicConversions.castToImpl
    val reg = castToImpl(spark).sessionState.functionRegistry
    def entries() = Seq("dot_product", "cosine_sim", "softmax_argmax")
      .map(n => reg.lookupFunction(FunctionIdentifier(n)).get)
    val e = spark.read.parquet(s"${GoldenQueries.sfDir}/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).select("embedding").head().getSeq[Float](0).toArray
    def cosineAndSoftmax(): Unit = {
      graft.ops.Similarity.bruteCosineTopK(e, q, 5)
      graft.functions.SoftmaxArgmax.register(spark)
    }
    cosineAndSoftmax()
    val first = entries()
    cosineAndSoftmax()
    entries().zip(first).foreach { case (now, before) =>
      assert(now eq before, s"${before.getName} was registered again")
    }
  }

  test("evaluation harness: pred.py lifecycle (score → micro PRF → report → wrongs)") {
    import spark.implicits._
    val bundleBc = spark.sparkContext.broadcast(Pipeline.buildBundle())
    val examples = spark.range(300).map(i => Gen.labeledExample(42L, i))
    val dir = Files.createTempDirectory("graft-eval")
    val report = Evaluate.run(spark, examples, bundleBc,
      scoresPath = Some(s"$dir/best_scores.json"))
    assert(report.micro.targPos > 0)
    assert(report.micro.precision >= 0.0 && report.micro.precision <= 1.0)
    assert(report.perRelation.count() > 0)
    val wrongs = report.wrongs.count()
    assert(wrongs > 0, "untrained fixture weights must produce some wrong predictions")
    val json = new String(Files.readAllBytes(dir.resolve("best_scores.json")), "UTF-8")
    assert(json.contains("\"f1\""))
    // determinism: same inputs → same metrics
    val again = Evaluate.run(spark, examples, bundleBc)
    assert(again.micro === report.micro)
    Lineage.deleteRecursively(dir.toString)
  }

  test("single-path dependency scoring end-to-end over chain parses") {
    import spark.implicits._
    val bundleBc = spark.sparkContext.broadcast(Pipeline.buildBundle())
    val examples = spark.range(200).map(i => Gen.labeledExample(42L, i))
    val scored = Evaluate.scoreSinglePath(spark, examples, bundleBc).collect()
    assert(scored.length > 150, s"most chain parses must featurize: ${scored.length}")
    assert(scored.forall(s => s.confidence > 0 && s.confidence <= 1))
    // deterministic
    val again = Evaluate.scoreSinglePath(spark, examples, bundleBc).collect()
    assert(scored.map(_.id).sorted.toSeq === again.map(_.id).sorted.toSeq)
  }

  test("segmentation + mention detection + example assembly (pure API)") {
    val text = "James Smith works for Acme Corporation . The end arrived !"
    val sents = Segment.sentences(text)
    assert(sents === Seq("James Smith works for Acme Corporation .", "The end arrived !"))
    val toks = Segment.tokenize(sents.head)
    assert(toks === Seq("James", "Smith", "works", "for", "Acme", "Corporation", "."))
    assert(Segment.tokenize("a,b. done.") === Seq("a,b", ".", "done", "."))
    val gaz = Map("james smith" -> "PERSON", "acme corporation" -> "ORGANIZATION",
      "acme" -> "ORGANIZATION")
    val ms = Segment.detectMentions(toks, gaz)
    // greedy longest match: 'acme corporation' wins over 'acme'
    assert(ms === Seq(Mention(0, 2, "james smith", "PERSON"),
      Mention(4, 6, "acme corporation", "ORGANIZATION")))
    val ex = Segment.toExample(toks, ms(0), ms(1))
    assert(ex.subject === "james smith")
    assert(ex.objectVal === "acme corporation")
    assert(ex.ner === Seq("PERSON", "PERSON", "O", "O", "ORGANIZATION", "ORGANIZATION", "O"))
  }

  test("labeled example generator: spans, chain parse, determinism") {
    val ex = Gen.labeledExample(42L, 7L)
    assert(ex === Gen.labeledExample(42L, 7L))
    assert(ex.subject === ex.words.slice(ex.subjectBegin, ex.subjectEnd).mkString(" "))
    assert(ex.dependency.last.arc === "root")
    assert(ex.relation.isDefined)
    assert(ex.subjectId.exists(_.nonEmpty))
  }
}
