package graft.kg

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Distributed readout training — the train.py lifecycle (§3.2). */
class TrainerSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private lazy val bundleBc = spark.sparkContext.broadcast(Pipeline.buildBundle())
  private lazy val lstm = SentenceModel.lstm(bundleBc.value.weights)
  private lazy val lstmLayout = SentenceModel.lstmLayoutOf(bundleBc.value.weights)
  private def lstmWeights(r: Trainer.FlatTrainResult): ScorerWeights =
    SentenceModel.unflatten(r.flat, lstmLayout, bundleBc.value.weights.dropout)

  /** FNV-1a over raw IEEE bits: the weights (array length first), the best
    * epoch, then every field of every epoch's metrics. The determinism
    * tests pin it, so a last-ulp change to a step, a gradient sum or a dev
    * metric fails even when two runs of the changed code agree. */
  private def rawDigest(weights: Seq[Long], bestEpoch: Int,
      log: Seq[Trainer.EpochMetrics]): String = {
    var h = 0xCBF29CE484222325L
    def mix(v: Long): Unit = h = (h ^ v) * 0x100000001B3L
    def mixD(v: Double): Unit = mix(java.lang.Double.doubleToRawLongBits(v))
    mix(weights.length.toLong); weights.foreach(mix); mix(bestEpoch.toLong)
    log.foreach { m =>
      mix(m.epoch.toLong)
      mixD(m.trainLoss); mixD(m.devPrecision); mixD(m.devRecall); mixD(m.devF1); mixD(m.devAccuracy)
    }
    f"$h%016x"
  }
  private def digest(r: Trainer.TrainResult): String =
    rawDigest((r.dense.flatten ++ r.denseB).toSeq.map(v =>
      java.lang.Float.floatToRawIntBits(v).toLong), r.bestEpoch, r.log)
  private def digest(r: Trainer.FlatTrainResult): String =
    rawDigest(r.flat.toSeq.map(java.lang.Double.doubleToRawLongBits), r.bestEpoch, r.log)

  test("training reduces loss and improves dev metrics over the frozen init") {
    val trainEx = spark.range(600).map(i => Gen.labeledExample(42L, i))
    val devEx = spark.range(600, 800).map(i => Gen.labeledExample(42L, i))
    val trainFeat = Trainer.extractFeatures(spark, trainEx, bundleBc)
    val devFeat = Trainer.extractFeatures(spark, devEx, bundleBc)
    val dir = Files.createTempDirectory("graft-train")
    val result = Trainer.train(spark, trainFeat, devFeat, bundleBc,
      epochs = 12, lr = 0.5, logPath = Some(s"$dir/train_log.jsonl"))
    val log = result.log
    assert(log.length === 12)
    // loss strictly improves early and substantially overall
    assert(log.last.trainLoss < log.head.trainLoss * 0.9,
      s"loss must drop: ${log.head.trainLoss} -> ${log.last.trainLoss}")
    // the planted relations are linearly recoverable from frozen features:
    // dev accuracy must beat both the untrained readout and chance
    assert(log.last.devAccuracy > 0.5, s"dev accuracy ${log.last.devAccuracy}")
    assert(log.last.devF1 > 0.3, s"dev f1 ${log.last.devF1}")
    // model selection: best epoch maximizes dev precision among f1>0.3 epochs
    val gated = log.filter(_.devF1 > 0.3)
    assert(gated.nonEmpty)
    val expectedBest = gated.maxBy(_.devPrecision)
    assert(result.bestEpoch === expectedBest.epoch)
    // K2: JSONL log written, one line per epoch
    val lines = new String(Files.readAllBytes(java.nio.file.Paths.get(s"$dir/train_log.jsonl")),
      "UTF-8").split("\n")
    assert(lines.length === 12)
    assert(lines.head.contains("\"epoch\":1"))
    Lineage.deleteRecursively(dir.toString)
  }

  test("M5 corruption wiring: corrupt negatives expand the split, stay " +
      "deterministic, and training still learns") {
    val trainEx = spark.range(300).map(i => Gen.labeledExample(42L, i))
    val devEx = spark.range(300, 400).map(i => Gen.labeledExample(42L, i))
    val noRel = bundleBc.value.rel("no_relation")
    val base = Trainer.extractFeatures(spark, trainEx, bundleBc, numCorrupt = 0)
    val corrupted = Trainer.extractFeatures(spark, trainEx, bundleBc, numCorrupt = 2)
    val nBase = base.count()
    val nCorr = corrupted.count()
    assert(nCorr > nBase * 2, s"corruption must expand the split: $nBase -> $nCorr")
    val extraLabels = corrupted.collect().map(_.label)
      .groupBy(identity).view.mapValues(_.length).toMap
    val baseLabels = base.collect().map(_.label)
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(extraLabels(noRel) - baseLabels.getOrElse(noRel, 0) === (nCorr - nBase),
      "every corrupted clone is relabeled no_relation (featurizers.py:74-85)")
    // id-seeded corruption replays identically (the reference's global
    // np.random cannot — SURVEY §7.3 determinism upgrade)
    val again = Trainer.extractFeatures(spark, trainEx, bundleBc, numCorrupt = 2)
      .collect().map(r => (r.label, r.subjectNer, r.objectNer, r.h.toSeq)).sortBy(_.hashCode)
    val first = corrupted.collect().map(r => (r.label, r.subjectNer, r.objectNer, r.h.toSeq))
      .sortBy(_.hashCode)
    assert(again === first)
    // training over the corrupted split still converges
    val devFeat = Trainer.extractFeatures(spark, devEx, bundleBc)
    val result = Trainer.train(spark, corrupted, devFeat, bundleBc, epochs = 4)
    assert(result.log.last.trainLoss < result.log.head.trainLoss)
  }

  test("FULL-model training (BPTT through embeddings+LSTM+readout) learns and is deterministic") {
    val trainEx = spark.range(400).map(i => Gen.labeledExample(42L, i))
    val devEx = spark.range(400, 520).map(i => Gen.labeledExample(42L, i))
    val tf = Trainer.extractSequences(spark, trainEx, bundleBc)
    val df = Trainer.extractSequences(spark, devEx, bundleBc)
    val r1 = Trainer.trainFull(spark, lstm, tf, df, bundleBc, epochs = 6)
    info(r1.log.map(m => f"epoch ${m.epoch}: loss ${m.trainLoss}%.4f acc ${m.devAccuracy}%.3f").mkString("; "))
    assert(r1.log.length === 6)
    assert(r1.log.last.trainLoss < r1.log.head.trainLoss,
      s"full-model loss must drop: ${r1.log.head.trainLoss} -> ${r1.log.last.trainLoss}")
    // trained weights really moved every tensor family (not just the readout)
    val w0 = bundleBc.value.weights
    val w1 = lstmWeights(r1)
    assert(w1.embedding.flatten.toSeq !== w0.embedding.flatten.toSeq)
    assert(w1.uC.flatten.toSeq !== w0.uC.flatten.toSeq)
    assert(w1.dense.flatten.toSeq !== w0.dense.flatten.toSeq)
    val r2 = Trainer.trainFull(spark, lstm, tf, df, bundleBc, epochs = 6)
    val w2 = lstmWeights(r2)
    assert(w1.denseB.toSeq === w2.denseB.toSeq)
    assert(w1.embedding.flatten.toSeq === w2.embedding.flatten.toSeq)
    r1.log.zip(r2.log).foreach { case (a, b) =>
      assert(math.abs(a.trainLoss - b.trainLoss) < 1e-9)
    }
    assert(digest(r1) === "d8f9556cca658ea6", "LSTM weights or log moved off the pinned bits")
  }

  test("gatherOrdered: bounded fan-in merge is deterministic at every depth " +
      "and exact for exact math") {
    val sc = spark.sparkContext
    // 40 partitions of long-array partials: integer addition is exact, so
    // the depth-2 tree (fanIn 8 < 40) must equal the flat pid-order sum
    val data = sc.parallelize(0 until 40, 40).mapPartitionsWithIndex { (pid, _) =>
      Iterator((pid, Array.tabulate(5)(j => (pid * 31 + j).toLong)))
    }
    def mergeL(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
    }
    val flat = data.collect().sortBy(_._1).map(_._2)
      .reduceLeft(mergeL).toSeq
    val deep1 = Trainer.gatherOrdered(data, mergeL, fanIn = 8).reduceLeft(mergeL).toSeq
    val deep2 = Trainer.gatherOrdered(data, mergeL, fanIn = 8).reduceLeft(mergeL).toSeq
    assert(deep1 === flat, "exact-math depth-2 merge must equal the flat ordered sum")
    assert(deep1 === deep2, "depth-2 merge must be run-to-run deterministic")
    // double partials: the depth-2 tree is a DIFFERENT (but fixed)
    // association — bit-identical across runs, and ≈ the flat sum
    val dd = sc.parallelize(0 until 40, 40).mapPartitionsWithIndex { (pid, _) =>
      Iterator((pid, Array.tabulate(5)(j => math.sin(pid * 31 + j))))
    }
    def mergeD(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
    }
    val d1 = Trainer.gatherOrdered(dd, mergeD, fanIn = 8).reduceLeft(mergeD).toSeq
    val d2 = Trainer.gatherOrdered(dd, mergeD, fanIn = 8).reduceLeft(mergeD).toSeq
    assert(d1 === d2, "double depth-2 merge must be bit-deterministic")
    val dFlat = dd.collect().sortBy(_._1).map(_._2).reduceLeft(mergeD)
    d1.zip(dFlat).foreach { case (x, y) => assert(math.abs(x - y) < 1e-9) }
    // small-P path: identical to the historical collect-and-sort semantics
    val small = Trainer.gatherOrdered(data, mergeL).map(_.toSeq).toSeq
    assert(small === data.collect().sortBy(_._1).map(_._2.toSeq).toSeq)
  }

  test("FULL-model GRU training learns and is bit-deterministic") {
    val trainEx = spark.range(400).map(i => Gen.labeledExample(42L, i))
    val devEx = spark.range(400, 520).map(i => Gen.labeledExample(42L, i))
    val tf = Trainer.extractSequences(spark, trainEx, bundleBc)
    val df = Trainer.extractSequences(spark, devEx, bundleBc)
    val gru = SentenceModel.gated(SentenceModel.gatedLayoutOf(bundleBc.value, GatedLayer.Gru))
    val r1 = Trainer.trainFull(spark, gru, tf, df, bundleBc, epochs = 6)
    info(r1.log.map(m => f"epoch ${m.epoch}: loss ${m.trainLoss}%.4f acc ${m.devAccuracy}%.3f").mkString("; "))
    assert(r1.log.length === 6)
    assert(r1.log.last.trainLoss < r1.log.head.trainLoss,
      s"GRU full-model loss must drop: ${r1.log.head.trainLoss} -> ${r1.log.last.trainLoss}")
    // training moved the parameters away from the seeded fixture
    assert(r1.flat.toSeq !== gru.start.toSeq)
    // bit-deterministic under the fixed-partition-order gradient sum
    val r2 = Trainer.trainFull(spark, gru, tf, df, bundleBc, epochs = 6)
    assert(r1.flat.toSeq === r2.flat.toSeq)
    r1.log.zip(r2.log).foreach { case (a, b) => assert(a === b) }
  }

  test("FULL-model MUT1-3 training learns and stays bit-deterministic") {
    val trainEx = spark.range(400).map(i => Gen.labeledExample(42L, i))
    val devEx = spark.range(400, 520).map(i => Gen.labeledExample(42L, i))
    val tf = Trainer.extractSequences(spark, trainEx, bundleBc)
    val df = Trainer.extractSequences(spark, devEx, bundleBc)
    (1 to 3).foreach { variant =>
      val mut = SentenceModel.gated(SentenceModel.gatedLayoutOf(bundleBc.value, variant))
      val r1 = Trainer.trainFull(spark, mut, tf, df, bundleBc, epochs = 4)
      info(s"mut$variant: " + r1.log.map(m => f"loss ${m.trainLoss}%.4f").mkString(" -> "))
      assert(r1.log.last.trainLoss < r1.log.head.trainLoss,
        s"mut$variant loss must drop: ${r1.log.head.trainLoss} -> ${r1.log.last.trainLoss}")
      val r2 = Trainer.trainFull(spark, mut, tf, df, bundleBc, epochs = 4)
      assert(r1.flat.toSeq === r2.flat.toSeq, s"mut$variant must be bit-deterministic")
    }
  }

  test("FULL-model 2-layer stacked-LSTM training learns and is bit-deterministic") {
    val trainEx = spark.range(300).map(i => Gen.labeledExample(42L, i))
    val devEx = spark.range(300, 380).map(i => Gen.labeledExample(42L, i))
    val tf = Trainer.extractSequences(spark, trainEx, bundleBc)
    val df = Trainer.extractSequences(spark, devEx, bundleBc)
    val stack = SentenceModel.stacked(SentenceModel.stackedLayoutOf(bundleBc.value))
    val r1 = Trainer.trainFull(spark, stack, tf, df, bundleBc, epochs = 4)
    info("stack: " + r1.log.map(m => f"loss ${m.trainLoss}%.4f").mkString(" -> "))
    assert(r1.log.last.trainLoss < r1.log.head.trainLoss,
      s"stacked loss must drop: ${r1.log.head.trainLoss} -> ${r1.log.last.trainLoss}")
    val r2 = Trainer.trainFull(spark, stack, tf, df, bundleBc, epochs = 4)
    assert(r1.flat.toSeq === r2.flat.toSeq, "stacked training must be bit-deterministic")
  }

  test("FULL-model conv training learns and is bit-deterministic") {
    val trainEx = spark.range(300).map(i => Gen.labeledExample(42L, i))
    val devEx = spark.range(300, 380).map(i => Gen.labeledExample(42L, i))
    val tf = Trainer.extractSequences(spark, trainEx, bundleBc)
    val df = Trainer.extractSequences(spark, devEx, bundleBc)
    val conv = SentenceModel.conv(SentenceModel.convLayoutOf(bundleBc.value))
    val r1 = Trainer.trainFull(spark, conv, tf, df, bundleBc, epochs = 4)
    info("conv: " + r1.log.map(m => f"loss ${m.trainLoss}%.4f").mkString(" -> "))
    assert(r1.log.last.trainLoss < r1.log.head.trainLoss,
      s"conv loss must drop: ${r1.log.head.trainLoss} -> ${r1.log.last.trainLoss}")
    val r2 = Trainer.trainFull(spark, conv, tf, df, bundleBc, epochs = 4)
    assert(r1.flat.toSeq === r2.flat.toSeq, "conv training must be bit-deterministic")
  }

  test("FULL-model concat (4-channel) training learns and is bit-deterministic") {
    val trainEx = spark.range(300).map(i => Gen.labeledExample(42L, i))
    val devEx = spark.range(300, 380).map(i => Gen.labeledExample(42L, i))
    val tf = Trainer.extractChannels(spark, trainEx, bundleBc)
    val df = Trainer.extractChannels(spark, devEx, bundleBc)
    assert(tf.count() > 50, "channel extraction must yield a real split")
    val concat = SentenceModel.concat(SentenceModel.concatLayoutOf(bundleBc.value))
    val r1 = Trainer.trainFull(spark, concat, tf, df, bundleBc, epochs = 4,
      reg = SentenceModel.DenseReg)
    info("concat: " + r1.log.map(m => f"loss ${m.trainLoss}%.4f").mkString(" -> "))
    assert(r1.log.last.trainLoss < r1.log.head.trainLoss,
      s"concat loss must drop: ${r1.log.head.trainLoss} -> ${r1.log.last.trainLoss}")
    val r2 = Trainer.trainFull(spark, concat, tf, df, bundleBc, epochs = 4,
      reg = SentenceModel.DenseReg)
    assert(r1.flat.toSeq === r2.flat.toSeq, "concat training must be bit-deterministic")
    assert(digest(r1) === "8935a3d6cabe3701", "concat weights or log moved off the pinned bits")
  }

  test("L2 weight decay (concat dense2, models.py:68) — closed-form first-step check") {
    val trainEx = spark.range(80).map(i => Gen.labeledExample(42L, i))
    val devEx = spark.range(80, 100).map(i => Gen.labeledExample(42L, i))
    val tf = Trainer.extractChannels(spark, trainEx, bundleBc)
    val df = Trainer.extractChannels(spark, devEx, bundleBc)
    val lr = 0.01
    val reg = 1e-3
    // sgd + clip disabled → one exact, hand-checkable update step
    val layout = SentenceModel.concatLayoutOf(bundleBc.value)
    val concat = SentenceModel.concat(layout, 42L)
    val r0 = Trainer.trainFull(spark, concat, tf, df, bundleBc, epochs = 1, lr = lr,
      optimizer = "sgd", clipNorm = 0.0, reg = 0.0)
    val rr = Trainer.trainFull(spark, concat, tf, df, bundleBc, epochs = 1, lr = lr,
      optimizer = "sgd", clipNorm = 0.0, reg = reg)
    val init = concat.start
    // off the dense W the step is identical; on it, w' differs by exactly
    // lr * dL2/dw = lr * 2 * reg * w_init
    var j = 0
    while (j < layout.total) {
      if (j >= layout.dense && j < layout.denseB)
        assert(math.abs((r0.flat(j) - rr.flat(j)) - lr * 2 * reg * init(j)) < 1e-12,
          s"dense W step at $j")
      else assert(r0.flat(j) === rr.flat(j), s"non-regularized param $j moved")
      j += 1
    }
    // the reported loss carries the Keras-style reg term once per epoch
    val sumSq = (layout.dense until layout.denseB).map(j => init(j) * init(j)).sum
    assert(math.abs((rr.log.head.trainLoss - r0.log.head.trainLoss) - reg * sumSq) < 1e-10)
  }

  test("truncate_gradient is config-driven through trainFull (k=1 changes the fit)") {
    val trainEx = spark.range(120).map(i => Gen.labeledExample(42L, i))
    val devEx = spark.range(120, 150).map(i => Gen.labeledExample(42L, i))
    val tf = Trainer.extractSequences(spark, trainEx, bundleBc)
    val df = Trainer.extractSequences(spark, devEx, bundleBc)
    val w = bundleBc.value.weights
    val rFull = Trainer.trainFull(spark, SentenceModel.lstm(w, truncate = 0), tf, df, bundleBc,
      epochs = 2)
    val rDefault = Trainer.trainFull(spark, lstm, tf, df, bundleBc, epochs = 2) // k = 50
    val rTight = Trainer.trainFull(spark, SentenceModel.lstm(w, truncate = 1), tf, df, bundleBc,
      epochs = 2)
    val maxLen = tf.collect().map(_.sequence.length).max
    // the fixture sentences are shorter than 50 tokens, so the reference
    // default must NOT bind; k=1 must
    assert(maxLen < 50, s"fixture invariant: maxLen $maxLen")
    assert(SentenceModel.flatten(lstmWeights(rDefault)).toSeq ===
      SentenceModel.flatten(lstmWeights(rFull)).toSeq)
    assert(SentenceModel.flatten(lstmWeights(rTight)).toSeq !==
      SentenceModel.flatten(lstmWeights(rFull)).toSeq)
  }

  test("trainFull rejects an optimizer it does not implement") {
    val tf = Trainer.extractSequences(spark, spark.range(20).map(i => Gen.labeledExample(42L, i)),
      bundleBc)
    assertThrows[IllegalArgumentException] {
      Trainer.trainFull(spark, lstm, tf, tf, bundleBc, epochs = 1, optimizer = "adam")
    }
  }

  test("trainers neither release a caller-cached split nor leak their own cache") {
    val trainEx = spark.range(60).map(i => Gen.labeledExample(42L, i))
    val devEx = spark.range(60, 80).map(i => Gen.labeledExample(42L, i))
    val seqSplits = Seq(Trainer.extractSequences(spark, trainEx, bundleBc).cache(),
      Trainer.extractSequences(spark, devEx, bundleBc).cache())
    val featSplits = Seq(Trainer.extractFeatures(spark, trainEx, bundleBc).cache(),
      Trainer.extractFeatures(spark, devEx, bundleBc).cache())
    (seqSplits ++ featSplits).foreach(_.count())
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    Trainer.trainFull(spark, lstm, seqSplits(0), seqSplits(1), bundleBc, epochs = 1)
    Trainer.train(spark, featSplits(0), featSplits(1), bundleBc, epochs = 1)
    (seqSplits ++ featSplits).foreach { ds =>
      assert(ds.storageLevel !== StorageLevel.NONE, "a trainer unpersisted its caller's split")
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet === persisted)
    (seqSplits ++ featSplits).foreach(_.unpersist())
  }

  test("training is deterministic (same data, same epochs → same weights)") {
    val trainEx = spark.range(200).map(i => Gen.labeledExample(42L, i))
    val devEx = spark.range(200, 260).map(i => Gen.labeledExample(42L, i))
    val tf = Trainer.extractFeatures(spark, trainEx, bundleBc)
    val df = Trainer.extractFeatures(spark, devEx, bundleBc)
    val r1 = Trainer.train(spark, tf, df, bundleBc, epochs = 3)
    val r2 = Trainer.train(spark, tf, df, bundleBc, epochs = 3)
    // float weights absorb the last-ulp double-sum reordering of
    // treeAggregate; losses compared with tolerance for the same reason
    assert(r1.denseB.toSeq === r2.denseB.toSeq)
    assert(r1.dense.map(_.toSeq).toSeq === r2.dense.map(_.toSeq).toSeq)
    r1.log.zip(r2.log).foreach { case (a, b) =>
      assert(math.abs(a.trainLoss - b.trainLoss) < 1e-9)
      assert(a.copy(trainLoss = 0) === b.copy(trainLoss = 0))
    }
    assert(digest(r1) === "0b76462502aa14d5", "readout weights or log moved off the pinned bits")
  }

  test("with no epoch above dev F1 0.3 both trainers return the final epoch's weights") {
    // a dev split relabeled no_relation has no positive, so recall and F1
    // are 0 every epoch
    val trainEx = spark.range(120).map(i => Gen.labeledExample(42L, i))
    val devEx = spark.range(120, 200).map(i => Gen.labeledExample(42L, i))
    val b = bundleBc.value
    val noRel = b.rel("no_relation")
    // the step keeps no state across epochs (readout; trainFull with sgd),
    // so the final epoch's weights are one more epoch from the first's
    val tf = Trainer.extractFeatures(spark, trainEx, bundleBc)
    val df = Trainer.extractFeatures(spark, devEx, bundleBc).map(_.copy(label = noRel))
    val r1 = Trainer.train(spark, tf, df, bundleBc, epochs = 1)
    val r2 = Trainer.train(spark, tf, df, bundleBc, epochs = 2)
    assert(r2.log.forall(_.devF1 <= 0.3))
    assert(r2.bestEpoch === 2)
    val fromR1 = spark.sparkContext.broadcast(
      b.copy(weights = b.weights.copy(dense = r1.dense, denseB = r1.denseB)))
    val again = Trainer.train(spark, tf, df, fromR1, epochs = 1)
    fromR1.destroy()
    assert(r2.dense.map(_.toSeq).toSeq !== r1.dense.map(_.toSeq).toSeq)
    assert(r2.dense.map(_.toSeq).toSeq === again.dense.map(_.toSeq).toSeq)
    assert(r2.denseB.toSeq === again.denseB.toSeq)

    val ts = Trainer.extractSequences(spark, trainEx, bundleBc)
    val ds = Trainer.extractSequences(spark, devEx, bundleBc).map(_.copy(label = noRel))
    val f1 = Trainer.trainFull(spark, lstm, ts, ds, bundleBc, epochs = 1, optimizer = "sgd")
    val f2 = Trainer.trainFull(spark, lstm, ts, ds, bundleBc, epochs = 2, optimizer = "sgd")
    assert(f2.log.forall(_.devF1 <= 0.3))
    assert(f2.bestEpoch === 2)
    val fromF1 = new SentenceModel[Trainer.SeqRow](lstmLayout, 50, f1.flat)(r => Array(r.sequence))
    val step = Trainer.trainFull(spark, fromF1, ts, ds, bundleBc, epochs = 1, optimizer = "sgd")
    assert(f2.flat.toSeq !== f1.flat.toSeq)
    assert(f2.flat.toSeq === step.flat.toSeq)
  }

  test("extractChannels counts its P14 drops on graft.kg.split_errors, as FeaturizeStage.run does") {
    val good = (0L until 40L).map(i => Gen.labeledExample(42L, i))
    val noParse = good(0).copy(dependency = Nil)
    val overlap = good(1).copy(objectBegin = good(1).subjectBegin, objectEnd = good(1).subjectEnd)
    val errors = graft.Counters(spark, "graft.kg.split_errors")
    /** (rows, split_errors added) of one count over `ds`. */
    def counted(ds: org.apache.spark.sql.Dataset[_]): (Long, Long) = {
      val before = errors.value
      val n = ds.count()
      (n, errors.value - before)
    }
    val (nGood, eGood) = counted(Trainer.extractChannels(spark, good.toDS(), bundleBc))
    assert(nGood > 0 && eGood === 0)
    // the dependency walk needs a parse: the example is dropped and counted
    assert(counted(Trainer.extractChannels(spark, (good :+ noParse).toDS(), bundleBc)) ===
      ((nGood, 1L)))
    // the sent featurizer needs no parse, but overlapping spans are P14
    val (sGood, fGood) = counted(FeaturizeStage.run(spark, good.toDS(), bundleBc))
    assert(sGood > 0 && fGood === 0)
    assert(counted(FeaturizeStage.run(spark, (good :+ noParse).toDS(), bundleBc))._2 === 0)
    assert(counted(FeaturizeStage.run(spark, (good :+ overlap).toDS(), bundleBc)) ===
      ((sGood, 1L)))
  }
}
