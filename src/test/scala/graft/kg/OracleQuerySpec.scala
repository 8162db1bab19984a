package graft.kg

import org.scalatest.funsuite.AnyFunSuite

/**
 * Offline content pins for queries that DO have a DuckDB oracle: the oracle
 * itself cannot run without DuckDB, so the result each query gave on the
 * code the oracle last accepted is frozen as a canonical hash
 * ([[GoldenQueries.canonicalHash]]) in
 * `src/test/resources/oracle_query_hashes.tsv`, one line per
 * (query, scale-factor dir). A refactor of an oracle-backed operator must
 * leave these hashes unchanged.
 *
 * Generate ONLY from code the oracle has accepted, never to absorb a
 * difference (a drifted hash is a finding):
 *   sbt "Test/runMain graft.kg.OracleQueryGen"
 */
object OracleQueries {
  val resource = "oracle_query_hashes.tsv"

  /** (query, sf dir) pairs pinned. The `kg_*` queries ignore the dir (they
    * synthesize their own pages or examples), so each is pinned once. */
  val cases: Seq[(String, String)] = {
    def atBoth(qs: String*) = for (q <- qs; sf <- Seq("sf0.001", "sf0.01")) yield (q, sf)
    atBoth("q_stream_window", "q_stream_dedup") ++
      Seq("kg_stream_triples" -> "sf0.001") ++
      atBoth("q_lsh_pairs", "q_simhash_pairs", "q_winnow_pairs", "q_ann_pairs",
        "q_ann_knn", "q_dedup_clusters", "q_curation_pipeline", "q_media_decode") ++
      Seq("kg_salted_link", "kg_error_by_length", "kg_eval_report").map(_ -> "sf0.001")
  }

  def hash(spark: org.apache.spark.sql.SparkSession, name: String, sf: String): (Long, String) =
    GoldenQueries.canonicalHash(graft.SparkEntry.queries(name)(spark,
      java.nio.file.Paths.get(GoldenQueries.sfDir).resolveSibling(sf).toString))

  def read(): Map[(String, String), (Long, String)] = {
    val in = getClass.getResourceAsStream(s"/$resource")
    if (in == null) Map.empty
    else scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l =>
        val Array(n, sf, c, h) = l.split("\t")
        (n, sf) -> (c.toLong, h)
      }.toMap
  }
}

class OracleQuerySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private lazy val pinned = OracleQueries.read()

  OracleQueries.cases.foreach { case (name, sf) =>
    test(s"oracle-pinned: $name @ $sf") {
      assert(graft.SparkEntry.oracleSql.contains(name), s"$name has no oracle")
      assert(pinned.contains((name, sf)), s"$name @ $sf has no pinned hash")
      assert(OracleQueries.hash(spark, name, sf) === pinned((name, sf)),
        s"$name @ $sf content drifted from its pin")
    }
  }
}

/** One-time pin generator (same session config as the spec). */
object OracleQueryGen {
  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    val lines = OracleQueries.cases.map { case (name, sf) =>
      val (n, h) = OracleQueries.hash(spark, name, sf)
      s"$name\t$sf\t$n\t$h"
    }
    lines.foreach(println)
    val out = java.nio.file.Paths.get("src/test/resources", OracleQueries.resource)
    java.nio.file.Files.write(out, lines.mkString("\n").getBytes("UTF-8"))
    println(s"wrote ${lines.length} oracle query hashes to $out")
    spark.stop()
  }
}
