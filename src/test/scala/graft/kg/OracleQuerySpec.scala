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
 * The generator appends rows for new cases only; it never rewrites a pin.
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
      Seq("kg_salted_link", "kg_error_by_length", "kg_eval_report").map(_ -> "sf0.001") ++
      atBoth("q_embed_topk", "q_ann_lsh", "q_ann_ivf", "q_ann_lsh_index", "q_ann_ivf_index",
        "q_semdedup", "q_ngram_jaccard_lsh") ++
      atBoth("q_nn_join", "q_embed_neardup", "q_softmax_argmax") ++
      atBoth("q_lang_id", "q_quality_score")
  }

  def hash(spark: org.apache.spark.sql.SparkSession, name: String, sf: String): (Long, String) =
    GoldenQueries.canonicalHash(graft.SparkEntry.queries(name)(spark,
      java.nio.file.Paths.get(GoldenQueries.sfDir).resolveSibling(sf).toString))

  def read(): Map[(String, String), (Long, String)] = {
    val in = getClass.getResourceAsStream(s"/$resource")
    if (in == null) Map.empty
    else parse(scala.io.Source.fromInputStream(in, "UTF-8").getLines())
  }

  def parse(lines: Iterator[String]): Map[(String, String), (Long, String)] =
    lines.filter(_.nonEmpty).map { l =>
      val Array(n, sf, c, h) = l.split("\t")
      (n, sf) -> (c.toLong, h)
    }.toMap
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

/** Pin generator (same session config as the spec). Appends a row for
  * every case that has none and leaves every existing line as it is. It
  * first recomputes every pinned case: if any differs from its pin, it
  * reports the drift and exits 1 without writing, so a pin is never
  * overwritten. */
object OracleQueryGen {
  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    val out = java.nio.file.Paths.get("src/test/resources", OracleQueries.resource)
    val old = if (java.nio.file.Files.exists(out)) java.nio.file.Files.readString(out) else ""
    val pinned = OracleQueries.parse(old.linesIterator)
    val rows = OracleQueries.cases.map(c => c -> OracleQueries.hash(spark, c._1, c._2))
    spark.stop()
    val drifted = rows.collect { case (c, got) if pinned.get(c).exists(_ != got) =>
      s"${c._1} @ ${c._2}: pinned ${pinned(c)}, recomputed $got"
    }
    if (drifted.nonEmpty) {
      drifted.foreach(System.err.println)
      System.err.println(s"${drifted.length} pin(s) drifted; wrote nothing to $out")
      sys.exit(1)
    }
    val added = rows.collect { case ((name, sf), (n, h)) if !pinned.contains((name, sf)) =>
      s"$name\t$sf\t$n\t$h"
    }
    added.foreach(println)
    if (added.nonEmpty) {
      val sep = if (old.isEmpty || old.endsWith("\n")) "" else "\n"
      java.nio.file.Files.writeString(out, old + sep + added.mkString("\n"))
    }
    println(s"appended ${added.length} oracle query hashes to $out " +
      s"(${rows.length - added.length} pins unchanged)")
  }
}
