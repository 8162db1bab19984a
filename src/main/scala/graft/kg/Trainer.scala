package graft.kg

import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/**
 * Distributed trainers — the Spark rebuild of the train.py lifecycle
 * (reference: train.py:78-105): epoch loop, per-epoch train metrics, dev
 * evaluation, and the reference's exact model-selection rule — best dev
 * PRECISION gated on dev F1 > 0.3 (:95-97), with the best weights restored
 * at the end (:99-103). One private epoch driver ([[fit]]) runs that
 * lifecycle for both entry points, which pass it only their per-row
 * accumulate, their step and their logits:
 *
 *  - [[train]]: the recurrent encoder is frozen and the dense readout is
 *    trained over precomputed encoder features, with the JSONL metric log
 *    (:93) and experiment-dir artifacts; each epoch moves only `(H+1)·R`
 *    floats driver↔executors.
 *  - [[trainFull]]: BPTT through embeddings, encoder and readout of any
 *    [[SentenceModel]] (LSTM, GRU, MUT1-3, stacked, conv, concat; the
 *    constructors are listed on [[trainFull]]).
 *
 * Both are full-batch: each epoch's gradient is a per-partition
 * aggregation over the trainer's cached copy of the split, summed on the
 * driver in fixed partition order (bit-reproducible). A trainer never
 * persists or releases the caller's Datasets.
 *
 * Loss is the reference's filtered cross-entropy (data/typecheck.py:28-39):
 * softmax over typecheck-MASKED logits, clipped to [1e-7, 1-1e-7],
 * renormalized, then -log p[target] ([[FlatModel.lossGrad]]).
 */
object Trainer {

  /** One featurized training row: target relation id, NER pair, frozen
    * encoder features. */
  final case class FeatureRow(label: Int, subjectNer: Int, objectNer: Int, h: Array[Float])
      extends LabeledRow

  final case class EpochMetrics(epoch: Int, trainLoss: Double, devPrecision: Double,
      devRecall: Double, devF1: Double, devAccuracy: Double)

  final case class TrainResult(
      dense: Array[Array[Float]], denseB: Array[Float],
      log: Seq[EpochMetrics], bestEpoch: Int)

  /** Deterministic gradient fan-in with BOUNDED driver memory.
    *
    * Per-partition gradient partials must merge in a FIXED order — float
    * addition reassociates, so task-completion-order merging (treeAggregate)
    * is not bit-reproducible. Up to `fanIn` partitions the partials are
    * collected and merged on the driver in ascending pid order (the exact
    * historical semantics — results are bit-identical to prior rounds).
    * Above `fanIn` a driver collect would hold P × |grad| bytes, linear in
    * cluster size, so a depth-2 ordered merge runs instead: partitions
    * group into ⌈√P⌉-sized pid ranges, each group reduces ON AN EXECUTOR in
    * ascending pid order (groupByKey materializes ≤ ⌈√P⌉ partials per
    * task), and the driver merges the ~√P group results in ascending group
    * order — O(√P) driver memory, still a deterministic merge tree (a pure
    * function of P), so training stays bit-reproducible at any cluster
    * size. */
  def gatherOrdered[T: scala.reflect.ClassTag](
      parts: org.apache.spark.rdd.RDD[(Int, T)],
      merge: (T, T) => T, fanIn: Int = 64): Array[T] = {
    val p = parts.getNumPartitions
    if (p <= fanIn) parts.collect().sortBy(_._1).map(_._2)
    else {
      val groupSize = math.max(1, math.ceil(math.sqrt(p.toDouble)).toInt)
      val nGroups = (p + groupSize - 1) / groupSize
      parts.map { case (pid, t) => (pid / groupSize, (pid, t)) }
        .groupByKey(nGroups)
        .mapValues(_.toArray.sortBy(_._1).map(_._2).reduceLeft(merge))
        .collect().sortBy(_._1).map(_._2)
    }
  }

  /** Frozen-encoder feature extraction (sent model): one narrow pass,
    * routed through the full Split build ([[FeaturizeStage.run]]) so the
    * reference's training-side policies all apply — P11 ignore-relations,
    * P14 error channel, P12 type-validity filter, and M5 `num_corrupt`
    * negative-sampling expansion (reference: data/dataset.py:74-127, which
    * drives `num_corrupt` corrupted clones into the train split). Corrupted
    * rows arrive already relabeled `no_relation`. */
  def extractFeatures(spark: SparkSession, examples: Dataset[SentenceExample],
      bundleBc: Broadcast[Pipeline.ScoringBundle], numCorrupt: Int = 0): Dataset[FeatureRow] = {
    import spark.implicits._
    FeaturizeStage.run(spark, examples, bundleBc, numCorrupt).mapPartitions { it =>
      val b = bundleBc.value
      val scorer = new Scorer(b.weights, b.typechecker)
      it.flatMap { idf =>
        idf.feat.relation.map(r => FeatureRow(r, idf.feat.subjectNer, idf.feat.objectNer,
          scorer.hiddenState(idf.feat.sequence.toArray)))
      }
    }
  }

  /** One raw training row for FULL-model training: label + NER pair +
    * integer token sequence (the encoder is trained, so features can't be
    * precomputed — the sequence itself ships to every epoch). */
  final case class SeqRow(label: Int, subjectNer: Int, objectNer: Int, sequence: Array[Int])
      extends LabeledRow

  /** Sequence extraction for full training — same Split-build policies as
    * [[extractFeatures]] (P11/P12/P14 + M5 corruption), minus the frozen
    * forward pass. */
  def extractSequences(spark: SparkSession, examples: Dataset[SentenceExample],
      bundleBc: Broadcast[Pipeline.ScoringBundle], numCorrupt: Int = 0): Dataset[SeqRow] = {
    import spark.implicits._
    FeaturizeStage.run(spark, examples, bundleBc, numCorrupt).flatMap { idf =>
      idf.feat.relation.map(r =>
        SeqRow(r, idf.feat.subjectNer, idf.feat.objectNer, idf.feat.sequence.toArray))
    }
  }

  /** One raw 4-channel training row for concat full training (word/ner/
    * pos/arc over the dependency path; all channels equal length). */
  final case class ChanRow(label: Int, subjectNer: Int, objectNer: Int,
      words: Array[Int], ner: Array[Int], pos: Array[Int], arc: Array[Int]) extends LabeledRow

  /** Channelized extraction for concat training — the same Split-build
    * policies as [[extractSequences]] (P11 ignore filter, P14 error
    * channel incl. NoPath on the dependency walk, each drop counted on
    * `graft.kg.split_errors` like [[FeaturizeStage.run]]'s, P12
    * type-validity), through
    * [[ConcatenatedDependencyFeaturizer.featurizeChannels]]. */
  def extractChannels(spark: SparkSession, examples: Dataset[SentenceExample],
      bundleBc: Broadcast[Pipeline.ScoringBundle]): Dataset[ChanRow] = {
    import spark.implicits._
    val kept = examples
      .filter((ex: SentenceExample) => !ex.relation.exists(Adaptors.ignoreRelations)) // P11
    FeaturizeStage.dropAndCount(spark, kept, bundleBc, "graft.kg.split_errors") { b =>
      val f = new ConcatenatedDependencyFeaturizer(b.toVocabSet)
      val noRel = b.rel("no_relation")
      ex => {
        val (feat, ch) = f.featurizeChannels(ex, add = false)
        feat.relation.flatMap { rel =>
          if (!b.typechecker.pairAdmitsPositive(feat.subjectNer, feat.objectNer, noRel) ||
              ch.words.isEmpty) None // P12
          else Some(ChanRow(rel, feat.subjectNer, feat.objectNer,
            ch.words.toArray, ch.ner.toArray, ch.pos.toArray, ch.arc.toArray))
        }
      }
    }
  }

  final case class FlatTrainResult(flat: Array[Double], log: Seq[EpochMetrics], bestEpoch: Int)

  /**
   * FULL-model training: backprop through embeddings + encoder + readout —
   * the reference's actual training surface, one loop for whichever zoo
   * model is passed in (train.py trains whatever `get_model` returns,
   * models.py:19-30):
   *
   * every one a constructor on the one [[SentenceModel]] body —
   *
   *  - LSTM (`single_small`): [[SentenceModel.lstm]], starting from the
   *    bundle's frozen fixture weights;
   *  - GRU / MUT1-3: [[SentenceModel.gated]];
   *  - 2-layer stacked LSTM (`single`): [[SentenceModel.stacked]];
   *  - `single_conv`: [[SentenceModel.conv]];
   *  - 4-channel `concat` over [[ChanRow]]s: [[SentenceModel.concat]]
   *    (pass `reg = SentenceModel.DenseReg` for its dense2 L2, models.py:68).
   *
   * Optimizer: rmsprop with global-norm clipping at 25 over filtered
   * cross-entropy (models.py:27 `rmsprop(lr=config.lr, clipnorm=25.)`;
   * Keras-0.x rmsprop defaults rho=0.9, eps=1e-6; `optimizer = "sgd"`
   * selects plain gradient descent; any other value is rejected), applied
   * on the driver to [[fit]]'s summed gradient. The flat gradient vector is
   * the whole model (~10^4 params, ~80 KB) regardless of corpus size —
   * executors do all the BPTT work in parallel, the driver applies the
   * step.
   */
  def trainFull[R <: LabeledRow: ClassTag](spark: SparkSession, model: SentenceModel[R],
      trainSet: Dataset[R], devSet: Dataset[R], bundleBc: Broadcast[Pipeline.ScoringBundle],
      epochs: Int = 10, lr: Double = 0.01, optimizer: String = "rmsprop",
      clipNorm: Double = 25.0, reg: Double = 0.0): FlatTrainResult = {
    require(optimizer == "rmsprop" || optimizer == "sgd", s"unknown optimizer: $optimizer")
    val b = bundleBc.value
    val retain = (1f - b.weights.dropout).toDouble
    val rho = 0.9
    val eps = 1e-6
    val cache = new Array[Double](model.total)
    val run = fit(spark, trainSet, devSet, b, epochs, model.start, model.total)(
      accumulate = (f, row, mask, g) => model.accumulate(f, retain, row, mask, g),
      step = { (flat, grad, nTrain) =>
        var i = 0
        while (i < grad.length) { grad(i) /= nTrain; i += 1 }
        // L2 weight decay on the readout W (Keras-0.x WeightRegularizer:
        // loss += reg * sum(W^2) added ONCE to the mean loss, grad += 2*reg*W;
        // applied AFTER the 1/n averaging, BEFORE clipnorm — the optimizer
        // clips the total gradient, regularizer included)
        var regLoss = 0.0
        if (reg != 0.0) {
          val (dLo, dHi) = model.denseRange
          i = dLo
          while (i < dHi) {
            regLoss += reg * flat(i) * flat(i)
            grad(i) += 2.0 * reg * flat(i)
            i += 1
          }
        }
        var norm2 = 0.0
        i = 0
        while (i < grad.length) { norm2 += grad(i) * grad(i); i += 1 }
        val norm = math.sqrt(norm2)
        val scale = if (clipNorm > 0 && norm > clipNorm) clipNorm / norm else 1.0
        val next = new Array[Double](model.total)
        i = 0
        if (optimizer == "rmsprop") {
          while (i < next.length) {
            val g = grad(i) * scale
            cache(i) = rho * cache(i) + (1 - rho) * g * g
            next(i) = flat(i) - lr * g / (math.sqrt(cache(i)) + eps)
            i += 1
          }
        } else {
          while (i < next.length) { next(i) = flat(i) - lr * grad(i) * scale; i += 1 }
        }
        (next, regLoss)
      },
      logits = (f, row) => model.logits(f, retain, row))
    FlatTrainResult(run.params, run.log, run.bestEpoch)
  }

  /** A trainer-private cached copy of a caller's split. Caching the
    * Dataset itself would register a cache the caller (and any trainer
    * running concurrently over the same split) shares, which the trainer's
    * release would then evict; `.rdd` alone is shared per Dataset
    * instance, hence the fresh `map`. Partitioning and row order are the
    * split's, so the pid-ordered gradient merge is unchanged. */
  private def owned[R: ClassTag](ds: Dataset[R]): RDD[R] =
    ds.rdd.map(identity).persist(StorageLevel.MEMORY_AND_DISK)

  /** `a += b` elementwise; returns `a`. */
  private def addInto(a: Array[Double], b: Array[Double]): Array[Double] = {
    var j = 0
    while (j < a.length) { a(j) += b(j); j += 1 }
    a
  }

  /** What [[fit]] selected: the parameters, the epoch log, their epoch, and
    * their dev confusion matrix (target × typecheck-masked argmax). */
  private final case class Fit[P](params: P, log: Seq[EpochMetrics], bestEpoch: Int,
      confusion: Array[Array[Long]])

  /**
   * The epoch driver both trainers run. It owns a cached copy of each
   * split ([[owned]]), released when it returns. Each epoch:
   *
   *  - the training pass reads the broadcast parameters and yields, per
   *    partition, one flat `total`-long gradient and one loss from
   *    `accumulate` (one row's loss, given the row's typecheck mask; its
   *    gradient added into the vector). [[gatherOrdered]] fans them in and
   *    the driver sums them zero-started in partition order, so every
   *    element's summation order is fixed (bit-reproducible);
   *  - `step` maps the parameters, the summed gradient and the row count to
   *    the next parameters (a new value, never its input mutated; broadcast
   *    once, for the dev pass and the next epoch) and a penalty added to
   *    the epoch's mean loss;
   *  - one dev pass builds the confusion matrix of the masked argmax over
   *    `logits`; the epoch's precision, recall, F1 and accuracy come from
   *    it, `no_relation` the negative class.
   *
   * Selection is the reference's: the best dev precision among epochs with
   * dev F1 > 0.3 (train.py:95-97), else the final epoch (:99-103).
   */
  private def fit[R <: LabeledRow: ClassTag, P: ClassTag](spark: SparkSession,
      trainSet: Dataset[R], devSet: Dataset[R], b: Pipeline.ScoringBundle, epochs: Int,
      start: P, total: Int)(
      accumulate: (P, R, Array[Float], Array[Double]) => Double,
      step: (P, Array[Double], Double) => (P, Double),
      logits: (P, R) => Array[Double]): Fit[P] = {
    require(epochs > 0, s"epochs must be positive: $epochs")
    val tc = b.typechecker
    val rDim = b.rel.size
    val noRel = b.rel("no_relation")
    val train = owned(trainSet)
    val dev = owned(devSet)
    var bc = spark.sparkContext.broadcast(start)
    try {
      val nTrain = train.count().toDouble
      require(nTrain > 0, "empty training split")
      val log = scala.collection.mutable.ArrayBuffer.empty[EpochMetrics]
      var params = start
      var conf: Array[Array[Long]] = null
      var best: Option[(Int, Double, P, Array[Array[Long]])] = None
      for (epoch <- 1 to epochs) {
        val cur = bc
        val parts = gatherOrdered[(Array[Double], Double)](
          train.mapPartitionsWithIndex { (pid, rows) =>
            val g = new Array[Double](total)
            var l = 0.0
            rows.foreach { row =>
              l += accumulate(cur.value, row, tc.maskRow(row.subjectNer, row.objectNer), g)
            }
            Iterator((pid, (g, l)))
          },
          merge = { case ((g1, l1), (g2, l2)) => (addInto(g1, g2), l1 + l2) })
        val grad = new Array[Double](total)
        var loss = 0.0
        parts.foreach { case (g, l) => addInto(grad, g); loss += l }
        val (next, penalty) = step(params, grad, nTrain)
        val nextBc = spark.sparkContext.broadcast(next)
        bc = nextBc
        cur.destroy()
        params = next
        conf = dev.treeAggregate(Array.ofDim[Long](rDim, rDim))(
          seqOp = { (m, row) =>
            val pred = FlatModel.maskedArgmax(logits(nextBc.value, row),
              tc.maskRow(row.subjectNer, row.objectNer))
            m(row.label)(pred) += 1
            m
          },
          combOp = { (m1, m2) =>
            for (t <- m1.indices; p <- m1(t).indices) m1(t)(p) += m2(t)(p)
            m1
          })
        val m = metrics(epoch, loss / nTrain + penalty, conf, noRel)
        log += m
        // reference model selection: best dev precision, gated on f1 > 0.3
        if (m.devF1 > 0.3 && best.forall(_._2 < m.devPrecision))
          best = Some((epoch, m.devPrecision, params, conf))
      }
      // restore the best weights (train.py:99-103); fall back to the final epoch
      val (bestEpoch, _, bestParams, bestConf) = best.getOrElse((epochs, 0.0, params, conf))
      Fit(bestParams, log.toSeq, bestEpoch, bestConf)
    } finally { bc.destroy(); train.unpersist(); dev.unpersist() }
  }

  /** An epoch's dev precision, recall, F1 and accuracy from its confusion
    * matrix, `noRel` the negative class. */
  private def metrics(epoch: Int, trainLoss: Double, conf: Array[Array[Long]],
      noRel: Int): EpochMetrics = {
    var tp, predPos, targPos, correct, total = 0L
    for (t <- conf.indices; p <- conf(t).indices) {
      val c = conf(t)(p)
      if (t == p) { correct += c; if (t != noRel) tp += c }
      if (p != noRel) predPos += c
      if (t != noRel) targPos += c
      total += c
    }
    val prf = Metrics.PRF(tp, predPos, targPos)
    EpochMetrics(epoch, trainLoss, prf.precision, prf.recall, prf.f1,
      if (total == 0) 0.0 else correct.toDouble / total)
  }

  /** Readout logits over frozen features: bias + h · W. */
  private def readoutLogits(h: Array[Float], w: Array[Array[Float]],
      bias: Array[Float]): Array[Double] = {
    val rDim = bias.length
    val out = new Array[Double](rDim)
    var r = 0
    while (r < rDim) { out(r) = bias(r); r += 1 }
    var j = 0
    while (j < h.length) {
      val hj = h(j)
      if (hj != 0f) {
        val rowW = w(j)
        r = 0
        while (r < rDim) { out(r) += hj * rowW(r); r += 1 }
      }
      j += 1
    }
    out
  }

  /**
   * Train the readout, starting from the bundle's fixture readout (the
   * 'loaded artifact' contract, S9). The gradient of filtered CE wrt the
   * dense weights, dW = h ⊗ (p*mask' - y) and db = p - y, is one flat
   * H·R + R vector (W row-major, then b); the driver's step is
   * `(w - lr·g/n).toFloat` per weight. The JSONL log is written when
   * `logPath` is set.
   */
  def train(spark: SparkSession, trainFeat: Dataset[FeatureRow], devFeat: Dataset[FeatureRow],
      bundleBc: Broadcast[Pipeline.ScoringBundle], epochs: Int = 15, lr: Double = 0.5,
      logPath: Option[String] = None,
      experimentDir: Option[(String, String)] = None): TrainResult = {
    val b = bundleBc.value
    val hDim = b.weights.hidden
    val rDim = b.rel.size
    val bOff = hDim * rDim
    val run = fit(spark, trainFeat, devFeat, b, epochs, (b.weights.dense, b.weights.denseB),
      bOff + rDim)(
      accumulate = { case ((w, bias), row, mask, g) =>
        val (loss, dLogit) = FlatModel.lossGrad(readoutLogits(row.h, w, bias), row.label, mask)
        var r = 0
        while (r < rDim) {
          // d(loss)/d(logit_r) through the mask: (p_r - y_r) * mask_r
          val d = dLogit(r)
          g(bOff + r) += d
          var j = 0
          while (j < hDim) { g(j * rDim + r) += row.h(j) * d; j += 1 }
          r += 1
        }
        loss
      },
      step = { case ((w, bias), grad, nTrain) =>
        val nextW = Array.tabulate(hDim, rDim)((j, r) =>
          (w(j)(r) - lr * grad(j * rDim + r) / nTrain).toFloat)
        val nextB = Array.tabulate(rDim)(r => (bias(r) - lr * grad(bOff + r) / nTrain).toFloat)
        ((nextW, nextB), 0.0)
      },
      logits = { case ((w, bias), row) => readoutLogits(row.h, w, bias) })
    val result = TrainResult(run.params._1, run.params._2, run.log, run.bestEpoch)

    logPath.foreach { path =>
      val lines = run.log.map(m =>
        s"""{"epoch":${m.epoch},"train_loss":${m.trainLoss},"dev_precision":${m.devPrecision},"dev_recall":${m.devRecall},"dev_f1":${m.devF1},"dev_accuracy":${m.devAccuracy}}""")
      val pp = java.nio.file.Paths.get(path)
      if (pp.getParent != null) java.nio.file.Files.createDirectories(pp.getParent)
      java.nio.file.Files.write(pp, lines.mkString("\n").getBytes("UTF-8"))
    }
    // S9: persist the experiment-artifact directory (train.py:155-157,171 —
    // config + vocabs + best weights), reloadable by Experiments.load, with
    // classification_report.txt over the dev split with the selected
    // weights (train.py:173-176)
    experimentDir.foreach { case (root, name) =>
      val dir = Experiments.save(root, name, b,
        b.weights.copy(dense = result.dense, denseB = result.denseB),
        extras = Map("best_epoch" -> result.bestEpoch.toString,
          "epochs" -> epochs.toString, "lr" -> lr.toString))
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "classification_report.txt"),
        Reports.formatSklearnReport(b.rel.index2word.toSeq, run.confusion).getBytes("UTF-8"))
    }
    result
  }
}
