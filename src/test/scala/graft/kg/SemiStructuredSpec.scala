package graft.kg

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semi-structured JSON property-bag parsing ([[graft.ops.SemiStructured]]):
  * exact-int aggregates, skip-and-count on malformed payloads, and
  * column-pruned scans (the JSON string is parsed in a narrow projection
  * and never shuffled). */
class SemiStructuredSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  test("propStats: hand-computed per-type aggregates") {
    val events = Seq(
      ("click", 1L, """{"k": 10}"""),
      ("click", 1L, """{"k": 60}"""),
      ("click", 2L, """{"k": 90}"""),
      ("view", 3L, """{"k": 5}""")).toDF("event_type", "user_id", "props")
    val out = graft.ops.SemiStructured.propStats(events, hiThreshold = 50L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // click: 3 events, all parsed, sum 160, min 10, max 90, users {1,2} above 50
    assert(out("click") === ((3L, 3L, 160L, 10L, 90L, 2L)))
    assert(out("view") === ((1L, 1L, 5L, 5L, 5L, 0L)))
  }

  test("propStats: malformed and missing payloads skip-and-count, never throw") {
    val events = Seq(
      ("err", 1L, """{"k": 7}"""),
      ("err", 2L, """not json at all"""),
      ("err", 3L, """{"other": 1}"""),
      ("err", 4L, """{"k": "string-not-int"}"""),
      ("err", 5L, null.asInstanceOf[String]),
      ("err", 6L, "")).toDF("event_type", "user_id", "props")
    val r = graft.ops.SemiStructured.propStats(events).collect().head
    assert(r.getLong(1) === 6L, "every row counted")
    assert(r.getLong(2) === 1L, "only the well-formed integer payload parses")
    assert(r.getLong(3) === 7L)
  }

  test("propStats battery form: scan pruned to (event_type, user_id, props), one shuffle") {
    val out = graft.ops.SemiStructured.propStats(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val plan = out.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema.*".r.findFirstIn(plan).getOrElse("")
    assert(readSchema.contains("props") && readSchema.contains("event_type"),
      s"needed columns must reach the scan: $readSchema")
    assert(!readSchema.contains("value") && !readSchema.contains("\"ts\""),
      s"unused columns must be pruned from the scan: $readSchema")
    assert(out.count() === 5, "one row per event_type at sf0.001")
  }
}
