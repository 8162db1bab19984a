package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast

/**
 * Batch evaluation harness — the Spark rebuild of pred.py: score a labeled
 * split with a frozen model, then compute micro P/R/F1 (excluding
 * no_relation), the per-relation report, and the wrong-example dump
 * (reference: pred.py:44-92, plot_utils.py:80-96).
 *
 * Scale shape: scoring is one narrow mapPartitions over the examples; every
 * report is a small aggregation over (pred, targ) pairs. The wrongs dump is
 * the J3 id-join realized as a filter on the scored rows themselves (the
 * reference joins back by id because its preds live in a separate array —
 * ours never leave the row).
 */
object Evaluate {

  final case class ScoredExample(
      id: Long, pred: String, targ: String,
      subjectId: String, objectId: String, confidence: Double,
      words: Seq[String], length: Int)

  /** Score a labeled split with the frozen bundle (sent model, kbp.py path:
    * featurize add=false, ignore-failures, mask, argmax, softmax conf). */
  def scoreExamples(spark: SparkSession, examples: Dataset[SentenceExample],
      bundleBc: Broadcast[Pipeline.ScoringBundle],
      errorAcc: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[ScoredExample] = {
    import spark.implicits._
    val errors = errorAcc.getOrElse(spark.sparkContext.longAccumulator("eval_featurize_errors"))
    examples.mapPartitions { it =>
      val b = bundleBc.value
      val scorer = new Scorer(b.weights, b.typechecker)
      it.flatMap { ex =>
        try {
          val words = ex.words.toIndexedSeq
          val (seq, sNer, oNer) = Pipeline.blankedSequence(words, words.map(b.word(_)),
            Mention(ex.subjectBegin, ex.subjectEnd, ex.subject, ex.subjectNer),
            Mention(ex.objectBegin, ex.objectEnd, ex.objectVal, ex.objectNer), b)
          val (relId, conf) = scorer.predict(seq, sNer, oNer)
          Some(ScoredExample(
            FeaturizeStage.stableId(ex),
            b.rel.index2word(relId),
            ex.relation.getOrElse(""),
            ex.subjectId.getOrElse(ex.subject), ex.objectId.getOrElse(ex.objectVal),
            conf, ex.words, seq.length))
        } catch {
          case _: NoPathException | _: NoSuchElementException => errors.add(1); None
        }
      }
    }
  }

  /** Score via the SINGLE-PATH dependency featurizer (M6+M7a end to end):
    * shortest dependency path → interleaved token/arc sequence → same LSTM
    * kernel. Path failures (disconnected/overlap) follow P14-ignore. */
  def scoreSinglePath(spark: SparkSession, examples: Dataset[SentenceExample],
      bundleBc: Broadcast[Pipeline.ScoringBundle]): Dataset[ScoredExample] = {
    import spark.implicits._
    examples.mapPartitions { it =>
      val b = bundleBc.value
      val vocabs = b.toVocabSet
      val featurizer = new SinglePathDependencyFeaturizer(vocabs)
      val scorer = new Scorer(b.weights, b.typechecker)
      it.flatMap { ex =>
        try {
          val feat = featurizer.featurize(ex, add = false)
          val (relId, conf) = scorer.predict(feat.sequence.toArray, feat.subjectNer, feat.objectNer)
          Some(ScoredExample(FeaturizeStage.stableId(ex), b.rel.index2word(relId),
            ex.relation.getOrElse(""), feat.subjectId, feat.objectId, conf, ex.words,
            feat.length))
        } catch {
          case _: NoPathException | _: NoSuchElementException | _: IllegalArgumentException => None
        }
      }
    }
  }

  /** Score a labeled split under every model-zoo config (M1 dispatch
    * surface, models.py:19-28): per-config counts + mean confidence. */
  def zooSummary(spark: SparkSession, examples: Dataset[SentenceExample],
      bundleBc: Broadcast[Pipeline.ScoringBundle],
      configs: Seq[Models.ModelConfig]): DataFrame = {
    import spark.implicits._
    val results = configs.map { config =>
      val scored = examples.mapPartitions { it =>
        val b = bundleBc.value
        val vocabs = b.toVocabSet
        val zoo = Models.get(config, b)
        val sentF = new SentenceFeaturizer(vocabs, b.scope)
        val concatF = new ConcatenatedDependencyFeaturizer(vocabs)
        it.flatMap { ex =>
          try {
            val channels =
              if (config.model == "concat") {
                val (_, ch) = concatF.featurizeChannels(ex, add = false)
                Array(ch.words.toArray, ch.ner.toArray, ch.pos.toArray, ch.arc.toArray)
              } else {
                val feat = sentF.featurize(ex, add = false)
                Array(feat.sequence.toArray)
              }
            val (relId, conf) = zoo.predict(channels,
              vocabs.ner(ex.subjectNer), vocabs.ner(ex.objectNer))
            Some((b.rel.index2word(relId), conf))
          } catch {
            case _: NoPathException | _: NoSuchElementException |
                 _: IllegalArgumentException => None
          }
        }
      }.toDF("pred", "conf")
      scored.agg(
        count(lit(1)).as("scored"),
        sum(when(col("pred") =!= "no_relation", 1L).otherwise(0L)).as("positive"),
        round(avg(col("conf")), 4).as("avg_conf"))
        .withColumn("model", lit(config.model))
        .withColumn("rnn", lit(config.rnn))
    }
    results.reduce(_.unionByName(_))
      .select(col("model"), col("rnn"), col("scored"), col("positive"), col("avg_conf"))
  }

  /** One WRONG example in the reference's `.analysis` debug shape
    * (analyze_errors.py:28-37): original sentence, subject/object + NER,
    * gold + predicted relation, path length, and the per-path-token
    * (word, arc, ner) rows. */
  final case class ErrorExample(
      id: Long, sentence: String, subject: String, subjectNer: String,
      obj: String, objectNer: String, relation: String, predicted: String,
      pathLen: Int, pathWords: Seq[String], pathArcs: Seq[String], pathNers: Seq[String])

  /** The per-example error-analysis dump (analyze_errors.py:28-37
    * `print_example`): score via the single-path featurizer and keep ONLY
    * the wrong examples, carrying every field the reference's debug format
    * prints. One narrow mapPartitions — errors are sparse, so the dump
    * rows are a small fraction of the scored split at any corpus size. */
  def errorAnalysisDump(spark: SparkSession, examples: Dataset[SentenceExample],
      bundleBc: Broadcast[Pipeline.ScoringBundle]): Dataset[ErrorExample] = {
    import spark.implicits._
    examples.mapPartitions { it =>
      val b = bundleBc.value
      val vocabs = b.toVocabSet
      val featurizer = new SinglePathDependencyFeaturizer(vocabs)
      val pathView = new ConcatenatedDependencyFeaturizer(vocabs)
      val scorer = new Scorer(b.weights, b.typechecker)
      it.flatMap { ex =>
        try {
          val feat = featurizer.featurize(ex, add = false)
          val (relId, _) = scorer.predict(feat.sequence.toArray, feat.subjectNer, feat.objectNer)
          val pred = b.rel.index2word(relId)
          val targ = ex.relation.getOrElse("")
          if (pred == targ) None
          else {
            val rows = pathView.pathRows(ex)
            Some(ErrorExample(FeaturizeStage.stableId(ex), ex.words.mkString(" "),
              ex.subject, ex.subjectNer, ex.objectVal, ex.objectNer,
              targ, pred, rows.length,
              rows.map(_._1), rows.map(_._4), rows.map(_._2)))
          }
        } catch {
          case _: NoPathException | _: NoSuchElementException |
               _: IllegalArgumentException => None
        }
      }
    }
  }

  /** Render wrong examples + the length histogram as the reference's
    * `.analysis` text file (analyze_errors.py:28-58): per example a block
    * of sentence / subject+NER / object+NER / gold+pred / `PATH = n` /
    * one `word arc ner` line per path token, blocks separated by a blank
    * line; then the `length\tcount\tnum_error\tpercent_error` table in
    * most-common order (count desc; equal counts by length asc — a
    * deterministic stand-in for Counter.most_common's insertion order). */
  def formatAnalysis(wrongs: Seq[ErrorExample], hist: Seq[(Int, Long, Long)]): String = {
    val blocks = wrongs.map { e =>
      val head = Seq(
        e.sentence,
        s"${e.subject} ${e.subjectNer}",
        s"${e.obj} ${e.objectNer}",
        s"${e.relation} ${e.predicted}",
        s"PATH = ${e.pathLen}")
      val toks = e.pathWords.lazyZip(e.pathArcs).lazyZip(e.pathNers)
        .map((w, d, n) => s"$w $d $n")
      (head ++ toks).mkString("\n") + "\n\n"
    }
    val histLines = "length\tcount\tnum_error\tpercent_error" +:
      hist.sortBy { case (l, c, _) => (-c, l) }.map { case (l, c, ne) =>
        s"$l\t$c\t$ne\t${ne.toDouble / c}"
      }
    blocks.mkString + histLines.mkString("\n") + "\n"
  }

  /** A7 in its native form (reference: analyze_errors.py:44-58): count,
    * error count and error rate per featurized-sequence length. */
  def errorByLength(scored: DataFrame): DataFrame =
    scored.groupBy(col("length"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("pred") =!= col("targ"), 1L).otherwise(0L)).as("errors"))
      .withColumn("error_rate", col("errors").cast("double") / col("cnt"))

  final case class Report(
      micro: Metrics.PRF,
      accuracy: Double,
      perRelation: DataFrame,
      wrongs: DataFrame)

  /** Full pred.py-style evaluation: micro metrics + per-relation report +
    * wrongs table, plus a best_scores.json sink when `scoresPath` is set
    * and the two pred.py:80-84 figures (confusion_matrix.png,
    * relation_histogram.png via [[Plots]]) when `plotsDir` is set. */
  def run(spark: SparkSession, examples: Dataset[SentenceExample],
      bundleBc: Broadcast[Pipeline.ScoringBundle],
      scoresPath: Option[String] = None,
      plotsDir: Option[String] = None): Report = {
    val scored = scoreExamples(spark, examples, bundleBc).toDF().persist()
    try {
      plotsDir.foreach(d => Plots.writeEvalPlots(d, scored))
      val micro = Metrics.microPRF(scored, "pred", "targ")
      val accRow = scored.agg(
        sum(when(col("pred") === col("targ"), 1L).otherwise(0L)), count(lit(1))).head()
      val accuracy =
        if (accRow.getLong(1) == 0) 0.0 else accRow.getLong(0).toDouble / accRow.getLong(1)
      val perRel = Metrics.perRelationReport(scored, "pred", "targ")
      // wrong-example debug dump: the reference's retrieve_wrong_examples
      // fields (plot_utils.py:80-96 — pred, targ, sentence, subj, obj,
      // sequence length) realized as columns
      val wrongs = scored.filter(col("pred") =!= col("targ"))
        .select(col("id"), col("targ"), col("pred"), col("confidence"),
          array_join(col("words"), " ").as("sentence"),
          col("subjectId").as("subj"), col("objectId").as("obj"),
          col("length"))
      scoresPath.foreach(p => Metrics.writeScoresJson(p, Map(
        "precision" -> micro.precision, "recall" -> micro.recall,
        "f1" -> micro.f1, "accuracy" -> accuracy)))
      Report(micro, accuracy, perRel.persist(), wrongs.persist())
    } finally scored.unpersist()
  }
}
