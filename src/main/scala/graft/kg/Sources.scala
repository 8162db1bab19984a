package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, Row}
import org.apache.spark.sql.types._

/**
 * Spark readers for the reference's four source formats (S1-S4), composing
 * `spark.read.csv` (quoting/arity handled by the CSV datasource) with the
 * typed decode kernels in [[Adaptors]].
 *
 * Scale notes: the CSV/TSV scan parallelizes by file split; the decode is a
 * narrow typed map. Malformed rows follow the reference's P14 error-channel
 * policy — counted on the session counter `graft.source.s1_errors` ..
 * `s4_errors` ([[graft.Counters]]), never aborting the job
 * (reference: data/dataset.py:98-115).
 */
object Sources {

  private def strSchema(n: Int): StructType =
    StructType((0 until n).map(i => StructField(s"_c$i", StringType, nullable = true)))

  private def rowToSeq(r: Row, n: Int): Seq[String] =
    (0 until n).map(i => Option(r.getString(i)).getOrElse(""))

  private def decode(spark: SparkSession, df: DataFrame, n: Int,
      f: Seq[String] => SentenceExample, counter: String): Dataset[SentenceExample] = {
    import spark.implicits._
    val errors = graft.Counters(spark, counter)
    df.flatMap { r =>
      try Some(f(rowToSeq(r, n)))
      catch { case _: Exception => errors.add(1); None } // P14 'short'/'ignore'
    }
  }

  /** S1: supervision.csv — standard CSV quoting, 14 columns. */
  def readSupervisedCsv(spark: SparkSession, path: String): Dataset[SentenceExample] = {
    val raw = spark.read.schema(strSchema(14))
      .option("multiLine", true).option("escape", "\"").csv(path)
    decode(spark, raw, 14, Adaptors.supervisedToExample, "graft.source.s1_errors")
  }

  /** S2: KBP test corpus — TSV, no quoting, 20 columns. */
  def readKbpTsv(spark: SparkSession, path: String): Dataset[SentenceExample] = {
    val raw = spark.read.schema(strSchema(20))
      .option("sep", "\t").option("quote", "").csv(path)
    decode(spark, raw, 20, Adaptors.kbpToExample, "graft.source.s2_errors")
  }

  /** S3: labeled evaluation — TSV, 23 columns. */
  def readKbpEvaluationTsv(spark: SparkSession, path: String): Dataset[SentenceExample] = {
    val raw = spark.read.schema(strSchema(23))
      .option("sep", "\t").option("quote", "").csv(path)
    decode(spark, raw, 23, Adaptors.kbpEvaluationToExample, "graft.source.s3_errors")
  }

  /** S4: self-training — TSV, 24 columns. */
  def readSelfTrainingTsv(spark: SparkSession, path: String): Dataset[SentenceExample] = {
    val raw = spark.read.schema(strSchema(24))
      .option("sep", "\t").option("quote", "").csv(path)
    decode(spark, raw, 24, Adaptors.selfTrainingToExample, "graft.source.s4_errors")
  }
}
