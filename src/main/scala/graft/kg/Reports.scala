package graft.kg

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * J2 in full: parsers for the two external report TEXT formats plus the
 * alignment join (reference: plot_utils.py:47-64 `parse_sklearn_report` /
 * `parse_gabor_report`; align_reports.py:17-42 the N/A-filled alignment).
 *
 * Values stay strings end to end, exactly like the reference (percentages
 * are formatted with Python's `"{:.2%}"` — two decimals and a '%').
 */
object Reports {

  final case class ReportRow(relation: String, precision: String,
      recall: String, f1: String, support: String)

  /** Python `"{:.2%}".format(x)`. */
  private def pct(x: Double): String = f"${x * 100}%.2f%%"

  /**
   * sklearn `classification_report` text (plot_utils.py:47-56): the first
   * two lines are headers, the last two are averages, each body line is
   *   `       no_relation       0.86      0.34      0.49      6191`
   * P/R/F1 are re-formatted as percentages, support kept verbatim.
   *
   * Robustness contract (same as the container parsers and the P14
   * malformed-row channel): arbitrary/truncated text never throws — a line
   * that is not a 5-field row with numeric P/R/F1 is SKIPPED and counted on
   * `badLines`, so one corrupt report line cannot abort a pipeline that
   * ingests thousands of experiment artifacts. */
  def parseSklearnReport(text: String,
      badLines: Option[java.util.concurrent.atomic.LongAdder] = None): Seq[ReportRow] = {
    // blank lines dropped FIRST (robust to trailing newlines / extra blank
    // separators): what remains is header, body rows, avg/total footer
    val lines = text.linesIterator.filter(_.trim.nonEmpty).toSeq
    lines.slice(1, math.max(1, lines.length - 1)).flatMap { line =>
      // toDoubleOption accepts NaN/Infinity, which are not valid report
      // fractions — treat them as malformed too
      def finite(s: String): Option[Double] = s.toDoubleOption.filter(d => !d.isNaN && !d.isInfinite)
      val row = line.trim.split("\\s+") match {
        case Array(relation, precision, recall, f1, support) =>
          for {
            p <- finite(precision)
            r <- finite(recall)
            f <- finite(f1)
          } yield ReportRow(relation, pct(p), pct(r), pct(f), support)
        case _ => None
      }
      if (row.isEmpty) badLines.foreach(_.increment())
      row
    }
  }

  /**
   * Gabor-report lines (plot_utils.py:58-64):
   *   `[org:number_of_employees/members]  #: 9  P: 100.00%  R: 0.00%  F1: 0.00%`
   * Nine whitespace-separated tokens; the relation sheds its brackets;
   * percentages are kept verbatim (already formatted). Same skip-and-count
   * robustness contract as [[parseSklearnReport]]. */
  def parseGaborReport(text: String,
      badLines: Option[java.util.concurrent.atomic.LongAdder] = None): Seq[ReportRow] =
    text.linesIterator.filter(_.trim.nonEmpty).flatMap { line =>
      line.trim.split("\\s+") match {
        case Array(relation, _, support, _, precision, _, recall, _, f1) =>
          Some(ReportRow(relation.stripPrefix("[").stripSuffix("]"),
            precision, recall, f1, support))
        case _ =>
          badLines.foreach(_.increment())
          None
      }
    }.toSeq

  /**
   * Render a per-relation confusion into sklearn `classification_report`
   * TEXT (the artifact train.py:173-176 writes into the experiment dir):
   * two header lines, one body line per label with right-aligned
   * two-decimal P/R/F1 + support, blank line, weighted `avg / total` row.
   * Round-trips through [[parseSklearnReport]] (tested).
   *
   * `confusion(t)(p)` counts dev examples with target t predicted p.
   */
  def formatSklearnReport(labels: Seq[String], confusion: Array[Array[Long]]): String = {
    val n = labels.length
    val rows = (0 until n).map { t =>
      val prf = Metrics.PRF(tp = confusion(t)(t),
        predPos = (0 until n).map(p => confusion(p)(t)).sum, targPos = confusion(t).sum)
      (labels(t), prf.precision, prf.recall, prf.f1, prf.targPos)
    }
    val total = rows.map(_._5).sum.toDouble
    val wAvg = (f: ((String, Double, Double, Double, Long)) => Double) =>
      if (total == 0) 0.0 else rows.map(x => f(x) * x._5).sum / total
    val width = math.max(labels.map(_.length).max, "avg / total".length)
    val sb = new StringBuilder
    sb.append(" " * width).append("  precision    recall  f1-score   support\n\n")
    def line(label: String, p: Double, r: Double, f1: Double, s: Long): Unit =
      sb.append(label.reverse.padTo(width, ' ').reverse)
        .append(f"  $p%9.2f $r%9.2f $f1%9.2f $s%9d").append('\n')
    rows.foreach { case (l, p, r, f1, s) => line(l, p, r, f1, s) }
    sb.append("\n")
    line("avg / total", wAvg(_._2), wAvg(_._3), wAvg(_._4), total.toLong)
    sb.toString
  }

  /**
   * The alignment join (align_reports.py:36-40): every sklearn-report
   * relation in REPORT ORDER, joined with the gabor columns where present,
   * 'N/A' elsewhere. Left join + coalesce — the J2 shape; report tables are
   * driver-small so the join broadcasts.
   */
  def align(spark: SparkSession, sklearnText: String, gaborText: String): DataFrame = {
    import spark.implicits._
    val nn = parseSklearnReport(sklearnText).zipWithIndex
      .map { case (r, i) => (i, r.relation, r.precision, r.recall, r.f1, r.support) }
      .toDF("idx", "relation", "nn_precision", "nn_recall", "nn_f1", "nn_support")
    val sup = parseGaborReport(gaborText)
      .map(r => (r.relation, r.precision, r.recall, r.f1, r.support))
      .toDF("relation", "sup_precision", "sup_recall", "sup_f1", "sup_support")
    nn.join(broadcast(sup), Seq("relation"), "left")
      .select(col("idx"), col("relation"),
        col("nn_precision"), col("nn_recall"), col("nn_f1"), col("nn_support"),
        coalesce(col("sup_precision"), lit("N/A")).as("sup_precision"),
        coalesce(col("sup_recall"), lit("N/A")).as("sup_recall"),
        coalesce(col("sup_f1"), lit("N/A")).as("sup_f1"),
        coalesce(col("sup_support"), lit("N/A")).as("sup_support"))
      .orderBy(col("idx")).drop("idx")
  }
}
