package graft.kg

import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.broadcast.Broadcast

/**
 * The Spark analog of the reference's `Split` build (reference:
 * data/dataset.py:74-127): filter ignored relations (P11), featurize with
 * the error-channel policy (P14), stamp deterministic ids, expand corrupted
 * negatives (M5), and drop type-invalid pairs (P12).
 *
 * Determinism where the reference is sloppy (SURVEY.md §7.3): corruption
 * RNG is seeded by example id, so the expansion replays identically on
 * retry/resume — a requirement for checkpointed pipelines that the
 * reference's global `np.random` cannot give.
 */
object FeaturizeStage {

  final case class IdFeaturized(id: Long, corrupt: Boolean, feat: Featurized)

  /** M5: clone, drop one seeded-random sequence position, relabel
    * no_relation (reference: data/featurizers.py:74-85). Returns None when
    * the corrupted sequence would be empty (:85). */
  def corruptOne(feat: Featurized, noRelationId: Int, seed: Long): Option[Featurized] = {
    if (feat.sequence.isEmpty) return None
    val rng = new Gen.Rng(seed)
    val drop = rng.nextInt(feat.sequence.length)
    val seq = feat.sequence.take(drop) ++
      (if (drop < feat.sequence.length - 1) feat.sequence.drop(drop + 1) else Nil)
    if (seq.isEmpty) None
    else Some(feat.copy(sequence = seq, relation = Some(noRelationId), length = seq.length))
  }

  /**
   * Featurize a corpus of canonical examples. Ids are stable functions of
   * input order within partition boundaries only if the input is stably
   * partitioned — we derive them from a 64-bit hash of identifying fields
   * instead (deterministic under any partitioning, unlike the reference's
   * sequential counter, data/dataset.py:117-119).
   */
  def run(spark: SparkSession, examples: Dataset[SentenceExample],
      bundleBc: Broadcast[Pipeline.ScoringBundle],
      numCorrupt: Int = 0): Dataset[IdFeaturized] = {
    import spark.implicits._
    val kept = examples
      .filter((ex: SentenceExample) => !ex.relation.exists(Adaptors.ignoreRelations)) // P11
    dropAndCount(spark, kept, bundleBc, "graft.kg.split_errors") { b =>
      val featurizer = new SentenceFeaturizer(b.toVocabSet, b.scope)
      val noRel = b.rel("no_relation")
      ex => {
        val feat = featurizer.featurize(ex, add = false)
        // drawn after the call returns: the P14 catch covers featurize only
        Iterator.single(feat).flatMap { feat =>
          val id = stableId(ex)
          // P12: drop pairs whose NER pair admits no positive relation
          if (!b.typechecker.pairAdmitsPositive(feat.subjectNer, feat.objectNer, noRel)) Nil
          else IdFeaturized(id, corrupt = false, feat) +:
            (1 to numCorrupt).flatMap(k =>
              corruptOne(feat, noRel, id * 31L + k)
                .map(IdFeaturized(id * 31L + k, corrupt = true, _)))
        }
      }
    }
  }

  /**
   * The P14 'ignore' policy (reference: kbp.py:69-70) of every op over a
   * labeled split: one pass per partition that reads the broadcast bundle
   * once per task and builds the per-row function from it. A row whose
   * call throws NoPathException or NoSuchElementException is dropped and
   * adds 1 to the counter named `counter`. The catch covers the call only:
   * an Iterator the call returns is drawn after it, outside the catch.
   */
  private[kg] def dropAndCount[T: Encoder](spark: SparkSession,
      examples: Dataset[SentenceExample], bundleBc: Broadcast[Pipeline.ScoringBundle],
      counter: String)(
      perRow: Pipeline.ScoringBundle => SentenceExample => IterableOnce[T]): Dataset[T] = {
    val errors = graft.Counters(spark, counter)
    examples.mapPartitions { it =>
      val row = perRow(bundleBc.value)
      it.flatMap { ex =>
        try row(ex)
        catch { case _: NoPathException | _: NoSuchElementException => errors.add(1); Nil }
      }
    }
  }

  /** 64-bit FNV-1a over identifying fields — deterministic example id. */
  def stableId(ex: SentenceExample): Long = {
    var h = 0xcbf29ce484222325L
    def mix(s: String): Unit = {
      var i = 0
      while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
      h ^= 0x1fL; h *= 0x100000001b3L
    }
    ex.words.foreach(mix)
    mix(ex.subjectBegin.toString); mix(ex.subjectEnd.toString)
    mix(ex.objectBegin.toString); mix(ex.objectEnd.toString)
    h & Long.MaxValue
  }
}
