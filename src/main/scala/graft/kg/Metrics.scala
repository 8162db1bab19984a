package graft.kg

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Evaluation metrics + report sinks (A5-A8, J2/J3, K2). Micro P/R/F1
 * follows sklearn's micro averaging excluding `no_relation`
 * (reference: train.py:67-70, pred.py:45).
 */
object Metrics {

  final case class PRF(tp: Long, predPos: Long, targPos: Long) {
    def precision: Double = if (predPos == 0) 0.0 else tp.toDouble / predPos
    def recall: Double = if (targPos == 0) 0.0 else tp.toDouble / targPos
    def f1: Double = {
      val p = precision; val r = recall
      if (p + r == 0) 0.0 else 2 * p * r / (p + r)
    }
  }

  /** A5: micro P/R/F1 over (pred, targ) string columns, excluding one label. */
  def microPRF(df: DataFrame, predCol: String, targCol: String,
      excluded: String = "no_relation"): PRF = {
    val r = df.agg(
      sum(when(col(predCol) === col(targCol) && col(targCol) =!= excluded, 1L).otherwise(0L)),
      sum(when(col(predCol) =!= excluded, 1L).otherwise(0L)),
      sum(when(col(targCol) =!= excluded, 1L).otherwise(0L))).head()
    PRF(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** A8: per-relation precision/recall/support report table. */
  def perRelationReport(df: DataFrame, predCol: String, targCol: String): DataFrame = {
    val byTarg = df.groupBy(col(targCol).as("relation"))
      .agg(count(lit(1)).as("support"),
        sum(when(col(predCol) === col(targCol), 1L).otherwise(0L)).as("tp"))
    val byPred = df.groupBy(col(predCol).as("relation")).agg(count(lit(1)).as("pred_cnt"))
    byTarg.join(byPred, Seq("relation"), "full_outer")
      .select(col("relation"),
        coalesce(col("support"), lit(0L)).as("support"),
        coalesce(col("tp"), lit(0L)).as("tp"),
        coalesce(col("pred_cnt"), lit(0L)).as("pred_cnt"))
      .withColumn("precision",
        when(col("pred_cnt") > 0, col("tp").cast("double") / col("pred_cnt")).otherwise(lit(0.0)))
      .withColumn("recall",
        when(col("support") > 0, col("tp").cast("double") / col("support")).otherwise(lit(0.0)))
  }

  /** Triple-set precision/recall vs a golden edge table (the BASELINE gate
    * computation, distributed — anti-join form, no driver collect). */
  def triplePR(got: DataFrame, golden: DataFrame): (Double, Double) = {
    val keys = Seq("subject_id", "relation", "object_id")
    val g = got.select(keys.map(col): _*).distinct()
    val gold = golden.select(keys.map(col): _*).distinct()
    val tp = g.join(gold, keys, "left_semi").count()
    val nGot = g.count()
    val nGold = gold.count()
    (if (nGot == 0) 0.0 else tp.toDouble / nGot,
     if (nGold == 0) 0.0 else tp.toDouble / nGold)
  }

  /** K2: best_scores.json-style sink. */
  def writeScoresJson(path: String, scores: Map[String, Double]): Unit = {
    val body = scores.toSeq.sortBy(_._1)
      .map { case (k, v) => s"""  "$k": $v""" }.mkString("{\n", ",\n", "\n}")
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, body.getBytes("UTF-8"))
  }
}
