package graft.ops

import org.apache.spark.sql.execution.UnionExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec, ShuffleExchangeExec}
import org.scalatest.funsuite.AnyFunSuite
import graft.kg.PlanNodes

/** One star round of `Dedup.connectedComponentsStar` reads its small-star
  * input `withM` twice (one union branch each). Its u-keyed exchange must be
  * planned once and reused, or every round recomputes the large-star. */
class StarRoundSpec extends AnyFunSuite {
  lazy val spark = graft.kg.SparkTestSession.spark

  test("a star round plans withM's exchange once and reuses it") {
    import spark.implicits._
    // two chains and a hub: rounds still have work to do
    val edges = (Seq((2L, 1L), (3L, 2L), (4L, 3L), (9L, 8L), (10L, 9L)) ++
      (20L to 30L).map(_ -> 11L)).toDF("u", "v")
    val round = Dedup.starRound(edges)
    assert(round.collect().nonEmpty) // executed, so the adaptive plan is final
    val plan = round.queryExecution.executedPlan
    // withM's exchange is the one over the large-star window (and, unlike
    // canon's distinct, over no union)
    def feedsWithM(e: Exchange) =
      e.child.exists(_.isInstanceOf[WindowExec]) && !e.child.exists(_.isInstanceOf[UnionExec])
    val planned = PlanNodes.collect(plan) { case e: ShuffleExchangeExec if feedsWithM(e) => e }
    val reused = PlanNodes.collect(plan) { case r: ReusedExchangeExec if feedsWithM(r.child) => r }
    assert(planned.size === 1, s"withM's exchange planned ${planned.size} times in:\n$plan")
    assert(reused.size === 1, s"no ReusedExchange of withM's exchange in:\n$plan")
    // large-star then small-star: 3 and 10 reach their chain's minimum,
    // 4 its grandparent; the hub is already a star
    assert(round.columns.toSeq === Seq("u", "v"))
    assert(round.as[(Long, Long)].collect().toSet ===
      Set(2L -> 1L, 3L -> 1L, 4L -> 2L, 9L -> 8L, 10L -> 8L) ++ (20L to 30L).map(_ -> 11L))
  }
}
