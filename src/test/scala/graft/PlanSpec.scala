package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality guards over the whole query battery: no accidental
  * cartesian products, and scans of wide tables stay column-pruned. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = graft.kg.SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  // intentional cross joins (bounded all-pairs demos)
  private val allowCartesian = Set("q_nn_join", "q_embed_neardup")

  test("no unintended cartesian products anywhere in the battery") {
    SparkEntry.queries.foreach { case (name, fn) =>
      if (!allowCartesian(name) && !name.startsWith("kg_") && !name.startsWith("q_stream")) {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
          s"$name has an unintended product join:\n$plan")
      }
    }
  }

  test("lineitem scans are column-pruned (never read all 11 columns)") {
    Seq("q1_pricing_summary", "q_large_join", "q_semi_join").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val readSchemas = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan).map(_.group(1)).toSeq
      assert(readSchemas.nonEmpty)
      readSchemas.foreach { s =>
        assert(s.split(",").length <= 6, s"$name reads too many columns: $s")
      }
    }
  }

  test("dimension joins broadcast; dedup aggregates partially") {
    val bj = SparkEntry.queries("q_broadcast_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(bj.contains("BroadcastHashJoin"))
    val dd = SparkEntry.queries("q_dedup_triples")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(dd.contains("partial_"), s"dedup must partial-aggregate map-side:\n$dd")
  }

  test("every oracle key has a queries entry (driver contract invariant)") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle SQL without a query: $missing")
  }
}
