package graft.kg

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** S9 experiment-artifact round trip, S6 Senna-format embedding side input,
  * and the J2 report text parsers. */
class ExperimentsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  // ---- S9: experiments/<name>/ contract -------------------------------------

  test("weights file round-trips bit-exactly") {
    val w = ScorerWeights.fixture(vocabSize = 50, relSize = 7, seed = 9L)
    val dir = Files.createTempDirectory("graft-wrt").toString
    Experiments.writeWeights(s"$dir/w.bin", w)
    val r = Experiments.readWeights(s"$dir/w.bin")
    assert(r.embedding.map(_.toSeq).toSeq === w.embedding.map(_.toSeq).toSeq)
    assert(r.uC.map(_.toSeq).toSeq === w.uC.map(_.toSeq).toSeq)
    assert(r.bF.toSeq === w.bF.toSeq)
    assert(r.dense.map(_.toSeq).toSeq === w.dense.map(_.toSeq).toSeq)
    assert(r.denseB.toSeq === w.denseB.toSeq)
    assert(r.dropout === w.dropout)
    Lineage.deleteRecursively(dir)
  }

  test("saved+reloaded bundle scores byte-identically (deploy contract)") {
    val bundle = Pipeline.buildBundle()
    val dir = Files.createTempDirectory("graft-exp").toString
    Experiments.save(dir, "deploy", bundle, bundle.weights)
    assert(Experiments.exists(dir, "deploy"))
    val loaded = Experiments.load(dir, "deploy")
    assert(loaded.word.index2word.toSeq === bundle.word.index2word.toSeq)
    assert(loaded.word.unkId === 0) // UNKNOWN is id 0
    assert(loaded.ner.unkId === bundle.ner.unkId)
    assert(loaded.rel.unkId === -1) // rel vocab throws on miss
    assert(loaded.gazetteer === bundle.gazetteer)
    assert(loaded.scope === bundle.scope)
    assert(loaded.typechecker.valid.toSeq === bundle.typechecker.valid.toSeq)
    val examples = spark.range(50).map(i => Gen.labeledExample(42L, i))
    val a = Evaluate.scoreExamples(spark, examples,
      spark.sparkContext.broadcast(bundle)).collect().sortBy(_.id)
    val b = Evaluate.scoreExamples(spark, examples,
      spark.sparkContext.broadcast(loaded)).collect().sortBy(_.id)
    assert(a.toSeq === b.toSeq)
    Lineage.deleteRecursively(dir)
  }

  test("train → save → load scores identically to the in-memory result") {
    val bundleBc = spark.sparkContext.broadcast(Pipeline.buildBundle())
    val trainEx = spark.range(200).map(i => Gen.labeledExample(42L, i))
    val devEx = spark.range(200, 260).map(i => Gen.labeledExample(42L, i))
    val tf = Trainer.extractFeatures(spark, trainEx, bundleBc)
    val df = Trainer.extractFeatures(spark, devEx, bundleBc)
    val dir = Files.createTempDirectory("graft-exp-train").toString
    val result = Trainer.train(spark, tf, df, bundleBc, epochs = 4,
      experimentDir = Some((dir, "run1")))
    // config records the selection
    val config = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "run1", "config.json")), "UTF-8")
    assert(config.contains(s""""best_epoch": "${result.bestEpoch}""""))
    // classification_report.txt artifact (train.py:173-176): present and
    // round-trips through the J2 sklearn parser
    val reportTxt = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dir, "run1", "classification_report.txt")), "UTF-8")
    val parsed = Reports.parseSklearnReport(reportTxt)
    assert(parsed.length === bundleBc.value.rel.size)
    assert(parsed.map(_.support.toLong).sum === df.count())
    assert(reportTxt.linesIterator.toSeq.last.trim.startsWith("avg / total"))
    val loaded = Experiments.load(dir, "run1")
    assert(loaded.weights.dense.map(_.toSeq).toSeq === result.dense.map(_.toSeq).toSeq)
    assert(loaded.weights.denseB.toSeq === result.denseB.toSeq)
    // deploy-time scoring with the loaded artifact == in-memory best weights
    val inMem = bundleBc.value.copy(weights =
      bundleBc.value.weights.copy(dense = result.dense, denseB = result.denseB))
    val ex = spark.range(300, 350).map(i => Gen.labeledExample(42L, i))
    val a = Evaluate.scoreExamples(spark, ex,
      spark.sparkContext.broadcast(inMem)).collect().sortBy(_.id)
    val b = Evaluate.scoreExamples(spark, ex,
      spark.sparkContext.broadcast(loaded)).collect().sortBy(_.id)
    assert(a.toSeq === b.toSeq)
    Lineage.deleteRecursively(dir)
  }

  test("full KG pipeline run from a loaded experiment == fixture-bundle run") {
    val bundle = Pipeline.buildBundle()
    val dir = Files.createTempDirectory("graft-exp-pipe").toString
    Experiments.save(dir, "deploy", bundle, bundle.weights)
    val loaded = Experiments.load(dir, "deploy")
    val pages = Pipeline.generatePages(spark, 60)
    def tset(df: org.apache.spark.sql.DataFrame) =
      df.select("subject_id", "relation", "object_id", "support").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    val a = tset(Pipeline.extractTriples(spark, pages))
    val b = tset(Pipeline.extractTriples(spark, pages, bundle = Some(loaded)))
    assert(a === b)
    assert(a.nonEmpty)
    Lineage.deleteRecursively(dir)
  }

  // ---- S6: Senna-format pretrained embeddings --------------------------------

  test("--options overrides (train.py:115-121): coercion, merge, config round trip") {
    val base = Map("scope" -> "-1", "dropout" -> "0.5", "lr" -> "0.01",
      "epochs" -> "30", "featurizer" -> "single")
    // int key coerced to int, float key to float, string passthrough
    val merged = Experiments.applyOverrides(base, "scope:3,lr:1e-4,featurizer:sent")
    assert(merged("scope") === "3")
    assert(merged("lr").toDouble === 1e-4)
    assert(merged("featurizer") === "sent")
    assert(merged("dropout") === "0.5") // untouched keys survive
    // reference failure modes reproduced: malformed spec, unknown key,
    // type mismatch against the existing value
    intercept[IllegalArgumentException](Experiments.applyOverrides(base, "scope=3"))
    intercept[IllegalArgumentException](Experiments.applyOverrides(base, "nope:1"))
    intercept[IllegalArgumentException](Experiments.applyOverrides(base, "epochs:abc"))
    intercept[IllegalArgumentException](Experiments.applyOverrides(base, "dropout:x"))
    // round trip through the config.json format save/load use
    val dir = Files.createTempDirectory("graft-opts").toString
    try {
      Experiments.writeConfig(dir, merged)
      assert(Experiments.readConfig(dir) === merged)
      // and over a REAL saved experiment dir: read → override → write → read
      val bundle = Pipeline.buildBundle()
      val exDir = Experiments.save(dir, "deploy", bundle, bundle.weights)
      val cfg0 = Experiments.readConfig(exDir)
      assert(cfg0("scope") === bundle.scope.toString)
      val cfg1 = Experiments.applyOverrides(cfg0, "scope:2,dropout:0.25")
      Experiments.writeConfig(exDir, cfg1)
      val back = Experiments.readConfig(exDir)
      assert(back("scope") === "2" && back("dropout") === "0.25")
      assert(back - "scope" - "dropout" === cfg0 - "scope" - "dropout")
    } finally Lineage.deleteRecursively(dir)
  }

  test("resolveConfig: live knobs applied, structural overrides rejected, no-op passthrough") {
    // no options, no experiment: bundle0 passes through untouched
    val (b0, cfg0) = PipelineMain.resolveConfig(None, "", "")
    assert(b0.isEmpty)
    assert(cfg0.keySet === Set("emb_dim", "hidden", "rel_size", "dropout", "scope"))
    // live knobs actually land on the bundle
    val (b1, cfg1) = PipelineMain.resolveConfig(None, "", "scope:3,dropout:0.25")
    assert(b1.get.scope === 3)
    assert(b1.get.weights.dropout === 0.25f)
    assert(cfg1("scope") === "3" && cfg1("dropout") === "0.25")
    // structural overrides that contradict the loaded tensors are errors,
    // not silently-recorded lies
    intercept[IllegalArgumentException](PipelineMain.resolveConfig(None, "", "emb_dim:999"))
    intercept[IllegalArgumentException](PipelineMain.resolveConfig(None, "", "hidden:7"))
    // ...but restating the TRUE value is fine (no-op)
    val base = Pipeline.buildBundle()
    val (b2, _) = PipelineMain.resolveConfig(Some(base), "",
      s"emb_dim:${base.weights.embDim}")
    assert(b2.get eq base)
  }

  test("Senna reader: order-preserving word↔row mapping, UNK id 0, last-wins dupes") {
    val dir = Files.createTempDirectory("graft-senna").toString
    Files.write(java.nio.file.Paths.get(s"$dir/words.lst"),
      "alpha\nbeta\ngamma\nbeta".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$dir/embeddings.txt"),
      """1.0 1.0 1.0 1.0
        |2.0 2.0 2.0 2.0
        |
        |3.0 3.0 3.0 3.0
        |9.0 9.0 9.0 9.0""".stripMargin.getBytes("UTF-8"))
    val words = Pretrain.readWordList(s"$dir/words.lst")
    assert(words === Seq("alpha", "beta", "gamma", "beta"))
    val embs = Pretrain.readEmbeddings(s"$dir/embeddings.txt")
    assert(embs.length === 4, "np.loadtxt skips blank lines")
    // Senna vocab: UNKNOWN first, then file order, dupes keep first id
    val sv = Pretrain.sennaVocab(words).view
    assert(sv.index2word.toSeq === Seq("UNKNOWN", "alpha", "beta", "gamma"))
    assert(sv.unkId === 0)
    assert(sv("never-seen") === 0)
    // preload into a model vocab that contains beta+gamma but not alpha
    val vocab = VocabView(Array("UNKNOWN", "gamma", "other", "beta"),
      Map("UNKNOWN" -> 0, "gamma" -> 1, "other" -> 2, "beta" -> 3), 0)
    val w0 = ScorerWeights.fixture(vocabSize = 4, embDim = 4, relSize = 3, seed = 5L)
    val w1 = Pretrain.loadAndPreload(w0, vocab, s"$dir/words.lst", s"$dir/embeddings.txt")
    assert(w1.embedding(1).toSeq === Seq(3f, 3f, 3f, 3f)) // gamma ← row 2
    assert(w1.embedding(3).toSeq === Seq(9f, 9f, 9f, 9f)) // beta ← LAST row (dict overwrite)
    assert(w1.embedding(0).toSeq === w0.embedding(0).toSeq) // UNK untouched
    assert(w1.embedding(2).toSeq === w0.embedding(2).toSeq) // absent word untouched
    // alpha is not in the model vocab: silently skipped, nothing else moved
    assertThrows[IllegalArgumentException](
      Pretrain.preload(w0, vocab, Seq("x"), Array(Array(1f, 2f)))) // dim mismatch
    Lineage.deleteRecursively(dir)
  }

  test("Senna preload feeds the production scorer (deploy-time side input)") {
    val bundle = Pipeline.buildBundle()
    val dir = Files.createTempDirectory("graft-senna2").toString
    // pretrained vectors for two common corpus words, dim == model embDim
    val dim = bundle.weights.embDim
    Files.write(java.nio.file.Paths.get(s"$dir/words.lst"), "works\nmarried".getBytes("UTF-8"))
    Files.write(java.nio.file.Paths.get(s"$dir/embeddings.txt"),
      (Seq.fill(dim)("0.25").mkString(" ") + "\n" +
       Seq.fill(dim)("-0.125").mkString(" ")).getBytes("UTF-8"))
    val w1 = Pretrain.loadAndPreload(bundle.weights, bundle.word,
      s"$dir/words.lst", s"$dir/embeddings.txt")
    assert(w1.embedding(bundle.word("works")).toSeq === Seq.fill(dim)(0.25f))
    assert(w1.embedding(bundle.word("married")).toSeq === Seq.fill(dim)(-0.125f))
    // scoring with the preloaded table changes predictions' confidences but
    // stays a valid distribution
    val sc = new Scorer(w1, bundle.typechecker)
    val seq = Array(1, 5, 9, 3)
    val (idx, conf) = sc.predict(seq, bundle.ner("PERSON"), bundle.ner("CITY"))
    assert(idx >= 0 && conf > 0 && conf <= 1)
    Lineage.deleteRecursively(dir)
  }

  // ---- J2: report text parsers -----------------------------------------------

  test("parse_sklearn_report: headers/averages dropped, percentages formatted") {
    val rows = Reports.parseSklearnReport(graft.SampleReports.sklearn)
    assert(rows.map(_.relation) === Seq("no_relation", "per:employee_of", "per:spouse"))
    assert(rows.head === Reports.ReportRow("no_relation", "86.00%", "34.00%", "49.00%", "6191"))
    assert(rows(1).support === "12")
    // malformed body lines are skipped and counted, never thrown (P14
    // contract): 3 candidate body lines here, none parseable as 5-field rows
    val bad = new java.util.concurrent.atomic.LongAdder
    assert(Reports.parseSklearnReport(
      "h1\nh2\nbad line with six extra fields here\nf1 f2 x\nf2", Some(bad)).isEmpty)
    assert(bad.sum() === 3L)
    // numeric garbage in P/R/F1 is also a skip, not a crash
    val bad2 = new java.util.concurrent.atomic.LongAdder
    assert(Reports.parseSklearnReport(
      "header\nrel NaNish 0.5 0.5 12\nfooter", Some(bad2)).isEmpty)
    assert(bad2.sum() === 1L)
  }

  test("parse_gabor_report: brackets stripped, values verbatim") {
    val rows = Reports.parseGaborReport(graft.SampleReports.gabor)
    assert(rows.map(_.relation) === Seq("no_relation", "per:spouse", "org:founded_by"))
    assert(rows(1) === Reports.ReportRow("per:spouse", "50.00%", "25.00%", "33.33%", "3"))
  }

  test("align: sklearn order preserved, missing gabor rows filled with N/A") {
    val got = Reports.align(spark, graft.SampleReports.sklearn, graft.SampleReports.gabor)
      .collect().map(r => (0 until 9).map(r.getString))
    assert(got.length === 3)
    assert(got(0) === Seq("no_relation", "86.00%", "34.00%", "49.00%", "6191",
      "100.00%", "0.00%", "0.00%", "9"))
    assert(got(1) === Seq("per:employee_of", "50.00%", "25.00%", "33.00%", "12",
      "N/A", "N/A", "N/A", "N/A"))
    assert(got(2)(0) === "per:spouse")
    assert(got(2)(8) === "3")
  }
}
