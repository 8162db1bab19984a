package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.LongAccumulator

/** The engine's named counters: cap overflows (ids a bucket kernel drops
  * past its cap), media containers taken by the fake-decode fallback, and
  * the P14 error channel (rows a featurize, evaluate or source decode
  * ignores). Each name maps to ONE accumulator per session, registered
  * with the SparkContext under that name on first use, so every call of an
  * op adds to the same counter and a caller reads what a run did as the
  * delta of `Counters(spark, name).value` around it. A counter added inside
  * a transformation counts once per evaluation of its Dataset, and every
  * action evaluates it again, so only a delta around one action can be
  * trusted. */
object Counters {

  val names: Seq[String] = Seq(
    "graft.lsh.dropped_ids", "graft.simhash.dropped_ids",
    "graft.winnow.dropped_ids", "graft.ann.dropped_ids",
    "graft.media.unparsed",
    "graft.kg.featurize_errors", // Pipeline.scorePages
    "graft.kg.split_errors", // FeaturizeStage.run, Trainer.extractChannels
    // Evaluate.scoreExamples, scoreSinglePath, zooSummary, errorAnalysisDump
    "graft.kg.eval_errors",
    "graft.source.s1_errors", "graft.source.s2_errors",
    "graft.source.s3_errors", "graft.source.s4_errors")

  private val registry =
    new SessionDirCache[LongAccumulator]((s, name) => s.sparkContext.longAccumulator(name))

  def apply(spark: SparkSession, name: String): LongAccumulator = {
    require(names.contains(name), s"unknown counter '$name' (known: ${names.mkString(", ")})")
    registry.get(spark, name)
  }
}
