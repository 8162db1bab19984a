package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * The ops battery: a fixed selection of `SparkEntry.queries`, grouped by
 * the module whose code each one exercises. It holds the eight heavy
 * queries reported one by one ([[Named]]) and one or two lighter queries
 * for each module they leave out. The full 100 queries take about 45 s per
 * pass even at sf0.001, and their cold first pass about 75 s, which a
 * benchmark run cannot afford.
 */
object Battery {
  val Modules: Seq[(String, Seq[String])] = Seq(
    "kg_pipeline" -> Seq("kg_salted_link"),
    "trainer" -> Seq("kg_train_mut"),
    "dedup" -> Seq("q_graph_components"),
    "similarity" -> Seq("q_ann_knn"),
    "text" -> Seq("q_winnow_pairs", "q_decontaminate"),
    "streaming" -> Seq("q_stream_window", "q_stream_dedup"),
    "media" -> Seq("q_media_decode"),
    "sessions" -> Seq("q_funnel"),
    "relational" -> Seq("q1_pricing_summary", "q_large_join"))

  val Queries: Seq[String] = Modules.flatMap(_._2)

  /** Queries reported one by one: heavy leaves of the full battery. */
  val Named: Seq[String] = Seq("q_graph_components", "q_stream_window", "q_stream_dedup",
    "q_ann_knn", "q_winnow_pairs", "q_decontaminate", "kg_salted_link", "kg_train_mut")

  def query(spark: SparkSession, name: String, dir: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, dir)

  /** (rows, md5) over the rows rendered with columns in name order, floats
    * at 9 significant digits (absorbs last-ulp noise of distributed sums). */
  def pin(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.toSeq
    val rows = df.select(cols.map(c => col(s"`$c`")): _*).collect()
      .map(r => cols.indices.map(i => fmt(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  private def fmt(v: Any): String = v match {
    case null => "\\N"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case d: Double => "%.8e".format(d)
    case f: Float => "%.6e".format(f)
    case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => fmt(k) + "->" + fmt(x) }.sorted.mkString("{", ",", "}")
    case r: Row => (0 until r.length).map(i => fmt(r.get(i))).mkString("(", ",", ")")
    case other => other.toString
  }
}
