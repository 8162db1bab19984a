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
 * at the end (:99-103). Two entry points:
 *
 *  - [[train]]: the recurrent encoder is frozen and the dense readout is
 *    trained over precomputed encoder features, with the JSONL metric log
 *    (:93) and experiment-dir artifacts; each epoch moves only `(H+1)·R`
 *    floats driver↔executors.
 *  - [[trainFull]]: one loop for every zoo model — BPTT through embeddings,
 *    encoder and readout of any [[FlatModel]] (LSTM, GRU, MUT1-3, stacked,
 *    conv, concat; the constructors are listed on [[trainFull]]).
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
    * channel incl. NoPath on the dependency walk, P12 type-validity),
    * through [[ConcatenatedDependencyFeaturizer.featurizeChannels]]. */
  def extractChannels(spark: SparkSession, examples: Dataset[SentenceExample],
      bundleBc: Broadcast[Pipeline.ScoringBundle]): Dataset[ChanRow] = {
    import spark.implicits._
    examples
      .filter((ex: SentenceExample) => !ex.relation.exists(Adaptors.ignoreRelations)) // P11
      .mapPartitions { it =>
        val b = bundleBc.value
        val f = new ConcatenatedDependencyFeaturizer(b.toVocabSet)
        val noRel = b.rel("no_relation")
        it.flatMap { ex =>
          try {
            val (feat, ch) = f.featurizeChannels(ex, add = false)
            feat.relation.flatMap { rel =>
              if (!b.typechecker.pairAdmitsPositive(feat.subjectNer, feat.objectNer, noRel) ||
                  ch.words.isEmpty) None // P12
              else Some(ChanRow(rel, feat.subjectNer, feat.objectNer,
                ch.words.toArray, ch.ner.toArray, ch.pos.toArray, ch.arc.toArray))
            }
          } catch {
            case _: NoPathException | _: NoSuchElementException => None // P14
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
   * selects plain gradient descent; any other value is rejected),
   * full-batch and BIT-deterministic:
   * each epoch aggregates one flat gradient per partition and the driver
   * sums them in fixed partition order. The flat gradient vector is the
   * whole model (~10^4 params, ~80 KB) regardless of corpus size —
   * executors do all the BPTT work in parallel, the driver applies the
   * step. Same model-selection rule as [[train]] (best dev precision gated
   * on dev F1 > 0.3, best weights restored — train.py:95-103).
   */
  def trainFull[R <: LabeledRow: ClassTag](spark: SparkSession, model: FlatModel[R],
      trainSet: Dataset[R], devSet: Dataset[R], bundleBc: Broadcast[Pipeline.ScoringBundle],
      epochs: Int = 10, lr: Double = 0.01, optimizer: String = "rmsprop",
      clipNorm: Double = 25.0, reg: Double = 0.0): FlatTrainResult = {
    require(optimizer == "rmsprop" || optimizer == "sgd", s"unknown optimizer: $optimizer")
    val b = bundleBc.value
    val retain = (1f - b.weights.dropout).toDouble
    val tc = b.typechecker
    val train = owned(trainSet)
    val dev = owned(devSet)
    try {
      val nTrain = train.count().toDouble
      require(nTrain > 0, "empty training split")

      var flat = model.start
      val log = scala.collection.mutable.ArrayBuffer.empty[EpochMetrics]
      var best: Option[(Int, Double, Array[Double])] = None
      val rho = 0.9
      val eps = 1e-6
      val cache = new Array[Double](model.total)

      for (epoch <- 1 to epochs) {
        val bc = spark.sparkContext.broadcast(flat)
        val parts = gatherOrdered[(Array[Double], Double)](
          train.mapPartitionsWithIndex { (pid, rows) =>
            val g = new Array[Double](model.total)
            var l = 0.0
            rows.foreach { row =>
              l += model.accumulate(bc.value, retain, row,
                tc.maskRow(row.subjectNer, row.objectNer), g)
            }
            Iterator((pid, (g, l)))
          },
          merge = { case ((g1, l1), (g2, l2)) =>
            var j = 0
            while (j < g1.length) { g1(j) += g2(j); j += 1 }
            (g1, l1 + l2)
          })
        bc.destroy()
        val grad = new Array[Double](model.total)
        var loss = 0.0
        parts.foreach { case (g, l) =>
          var j = 0
          while (j < g.length) { grad(j) += g(j); j += 1 }
          loss += l
        }
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
        flat = next
        val fw = spark.sparkContext.broadcast(flat)
        val (p, rc, f1, acc) = devMetrics(dev, b)(row => model.logits(fw.value, retain, row))
        fw.destroy()
        val m = EpochMetrics(epoch, loss / nTrain + regLoss, p, rc, f1, acc)
        log += m
        if (m.devF1 > 0.3 && best.forall(_._2 < m.devPrecision))
          best = Some((epoch, m.devPrecision, flat.clone()))
      }

      val (bestEpoch, bestFlat) = best match {
        case Some((e, _, w)) => (e, w)
        case None => (epochs, flat)
      }
      FlatTrainResult(bestFlat, log.toSeq, bestEpoch)
    } finally { train.unpersist(); dev.unpersist() }
  }

  /** A trainer-private cached copy of a caller's split. Caching the
    * Dataset itself would register a cache the caller (and any trainer
    * running concurrently over the same split) shares, which the trainer's
    * release would then evict; `.rdd` alone is shared per Dataset
    * instance, hence the fresh `map`. Partitioning and row order are the
    * split's, so the pid-ordered gradient merge is unchanged. */
  private def owned[R: ClassTag](ds: Dataset[R]): RDD[R] =
    ds.rdd.map(identity).persist(StorageLevel.MEMORY_AND_DISK)

  /** Dev (precision, recall, F1, accuracy) of the typecheck-masked argmax
    * over `logitsOf`; `no_relation` is the negative class. */
  private def devMetrics[R <: LabeledRow](dev: RDD[R], b: Pipeline.ScoringBundle)(
      logitsOf: R => Array[Double]): (Double, Double, Double, Double) = {
    val noRel = b.rel("no_relation")
    val tc = b.typechecker
    val (tp, predPos, targPos, correct, total) = dev.treeAggregate((0L, 0L, 0L, 0L, 0L))(
      seqOp = { case ((tp0, pp0, gp0, c0, n0), row) =>
        val best = FlatModel.maskedArgmax(logitsOf(row), tc.maskRow(row.subjectNer, row.objectNer))
        val lbl = row.label
        (tp0 + (if (best == lbl && lbl != noRel) 1L else 0L),
         pp0 + (if (best != noRel) 1L else 0L),
         gp0 + (if (lbl != noRel) 1L else 0L),
         c0 + (if (best == lbl) 1L else 0L),
         n0 + 1L)
      },
      combOp = { case ((a1, a2, a3, a4, a5), (b1, b2, b3, b4, b5)) =>
        (a1 + b1, a2 + b2, a3 + b3, a4 + b4, a5 + b5) })
    val prf = Metrics.PRF(tp, predPos, targPos)
    (prf.precision, prf.recall, prf.f1, if (total == 0) 0.0 else correct.toDouble / total)
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
   * Train the readout. Each epoch: gradient + loss via an ordered
   * per-partition aggregation over the cached features; driver applies
   * the step; dev metrics via the masked-argmax predictor; JSONL log
   * written when `logPath` is set.
   */
  def train(spark: SparkSession, trainFeat: Dataset[FeatureRow], devFeat: Dataset[FeatureRow],
      bundleBc: Broadcast[Pipeline.ScoringBundle], epochs: Int = 15, lr: Double = 0.5,
      logPath: Option[String] = None,
      experimentDir: Option[(String, String)] = None): TrainResult = {
    val b = bundleBc.value
    val hDim = b.weights.hidden
    val rDim = b.rel.size
    val tc = b.typechecker

    val train = owned(trainFeat)
    val dev = owned(devFeat)
    try {
      val nTrain = train.count().toDouble
      require(nTrain > 0, "empty training split")

      // start from the fixture readout (the 'loaded artifact' contract, S9)
      var w = b.weights.dense.map(_.clone())
      var bias = b.weights.denseB.clone()

      val log = scala.collection.mutable.ArrayBuffer.empty[EpochMetrics]
      var best: Option[(Int, Double, Array[Array[Float]], Array[Float])] = None

      for (epoch <- 1 to epochs) {
        val bc = spark.sparkContext.broadcast((w, bias))
        // gradient of filtered CE wrt dense weights: dW = h ⊗ (p*mask' - y),
        // db = p - y. Per-partition partials merged in FIXED partition order
        // via gatherOrdered (treeAggregate merges in task-completion order —
        // nondeterministic ulp reassociation; the depth-2 path bounds driver
        // memory at O(√P) once partition counts exceed the fan-in).
        val parts = gatherOrdered[(Array[Double], Array[Double], Double)](
          train.mapPartitionsWithIndex { (pid, rows) =>
          val (wX, bX) = bc.value
          val gw0 = Array.ofDim[Double](hDim * rDim)
          val gb0 = Array.ofDim[Double](rDim)
          var l0 = 0.0
          rows.foreach { row =>
            val (loss, dLogit) = FlatModel.lossGrad(readoutLogits(row.h, wX, bX), row.label,
              tc.maskRow(row.subjectNer, row.objectNer))
            var r = 0
            while (r < rDim) {
              // d(loss)/d(logit_r) through the mask: (p_r - y_r) * mask_r
              val g = dLogit(r)
              gb0(r) += g
              var j = 0
              while (j < hDim) { gw0(j * rDim + r) += row.h(j) * g; j += 1 }
              r += 1
            }
            l0 += loss
          }
          Iterator((pid, (gw0, gb0, l0)))
        },
        merge = { case ((gwa, gba, la), (gwb, gbb, lb)) =>
          var i = 0
          while (i < gwa.length) { gwa(i) += gwb(i); i += 1 }
          i = 0
          while (i < gba.length) { gba(i) += gbb(i); i += 1 }
          (gwa, gba, la + lb)
        })
        bc.destroy()
        val gw = Array.ofDim[Double](hDim * rDim)
        val gb = Array.ofDim[Double](rDim)
        var loss = 0.0
        parts.foreach { case (gw1, gb1, l1) =>
          var i = 0
          while (i < gw1.length) { gw(i) += gw1(i); i += 1 }
          i = 0
          while (i < gb1.length) { gb(i) += gb1(i); i += 1 }
          loss += l1
        }
        val nextW = Array.tabulate(hDim, rDim)((j, r) =>
          (w(j)(r) - lr * gw(j * rDim + r) / nTrain).toFloat)
        val nextB = Array.tabulate(rDim)(r => (bias(r) - lr * gb(r) / nTrain).toFloat)
        w = nextW; bias = nextB
        val (p, rc, f1, acc) = devReadout(dev, b, w, bias)
        val m = EpochMetrics(epoch, loss / nTrain, p, rc, f1, acc)
        log += m
        // reference model selection: best dev precision, gated on f1 > 0.3
        if (m.devF1 > 0.3 && best.forall(_._2 < m.devPrecision))
          best = Some((epoch, m.devPrecision, w.map(_.clone()), bias.clone()))
      }

      logPath.foreach { path =>
        val lines = log.map(m =>
          s"""{"epoch":${m.epoch},"train_loss":${m.trainLoss},"dev_precision":${m.devPrecision},"dev_recall":${m.devRecall},"dev_f1":${m.devF1},"dev_accuracy":${m.devAccuracy}}""")
        val pp = java.nio.file.Paths.get(path)
        if (pp.getParent != null) java.nio.file.Files.createDirectories(pp.getParent)
        java.nio.file.Files.write(pp, lines.mkString("\n").getBytes("UTF-8"))
      }

      // restore best weights (train.py:99-103); fall back to final epoch
      val result = best match {
        case Some((e, _, bw, bb)) => TrainResult(bw, bb, log.toSeq, e)
        case None => TrainResult(w, bias, log.toSeq, epochs)
      }
      // S9: persist the experiment-artifact directory (train.py:155-157,171 —
      // config + vocabs + best weights), reloadable by Experiments.load
      experimentDir.foreach { case (root, name) =>
        val dir = Experiments.save(root, name, b,
          b.weights.copy(dense = result.dense, denseB = result.denseB),
          extras = Map("best_epoch" -> result.bestEpoch.toString,
            "epochs" -> epochs.toString, "lr" -> lr.toString))
        // classification_report.txt over the dev split with the selected
        // weights (train.py:173-176)
        val conf = confusionReadout(dev, b, result.dense, result.denseB)
        java.nio.file.Files.write(java.nio.file.Paths.get(dir, "classification_report.txt"),
          Reports.formatSklearnReport(b.rel.index2word.toSeq, conf).getBytes("UTF-8"))
      }
      result
    } finally { train.unpersist(); dev.unpersist() }
  }

  /** Dev metrics of the readout with given weights. */
  private def devReadout(dev: RDD[FeatureRow], b: Pipeline.ScoringBundle,
      w: Array[Array[Float]], bias: Array[Float]): (Double, Double, Double, Double) = {
    val bc = dev.sparkContext.broadcast((w, bias))
    try devMetrics(dev, b) { row => val (wX, bX) = bc.value; readoutLogits(row.h, wX, bX) }
    finally bc.destroy()
  }

  /** Dev confusion matrix (targ x pred) with given readout weights. */
  private def confusionReadout(dev: RDD[FeatureRow], b: Pipeline.ScoringBundle,
      w: Array[Array[Float]], bias: Array[Float]): Array[Array[Long]] = {
    val rDim = b.rel.size
    val tc = b.typechecker
    val bc = dev.sparkContext.broadcast((w, bias))
    val conf = dev.treeAggregate(Array.ofDim[Long](rDim, rDim))(
      seqOp = { (m, row) =>
        val (wX, bX) = bc.value
        m(row.label)(FlatModel.maskedArgmax(readoutLogits(row.h, wX, bX),
          tc.maskRow(row.subjectNer, row.objectNer))) += 1
        m
      },
      combOp = { (m1, m2) =>
        var t = 0
        while (t < rDim) {
          var pp = 0
          while (pp < rDim) { m1(t)(pp) += m2(t)(pp); pp += 1 }
          t += 1
        }
        m1
      })
    bc.destroy()
    conf
  }
}
