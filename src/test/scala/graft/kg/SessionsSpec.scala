package graft.kg

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Gap-based sessionization ([[graft.ops.Sessions]]): hand-computed
  * session boundaries, exact micro-epoch arithmetic, and the one-exchange
  * plan (per-user windows feed the aggregate without a second shuffle). */
class SessionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("sessionize: hand-computed boundaries at a 60 s gap") {
    val events = Seq(
      (1L, 10L, ts("2024-01-01 00:00:00"), 1.0),
      (2L, 10L, ts("2024-01-01 00:00:30"), 2.0),  // 30 s gap: same session
      (3L, 10L, ts("2024-01-01 00:02:00"), 4.0),  // 90 s gap: new session
      (4L, 20L, ts("2024-01-01 00:00:00"), 8.0))
      .toDF("event_id", "user_id", "ts", "value")
    val out = graft.ops.Sessions.sessionize(events, gapSeconds = 60L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    assert(out.size === 3)
    val base = ts("2024-01-01 00:00:00").getTime * 1000L
    assert(out((10L, 1L)) === ((base, base + 30000000L, 2L, 3.0)))
    assert(out((10L, 2L)) === ((base + 120000000L, base + 120000000L, 1L, 4.0)))
    assert(out((20L, 1L)) === ((base, base, 1L, 8.0)))
  }

  test("sessionize: a gap of exactly gapSeconds does NOT split (strict >)") {
    val events = Seq(
      (1L, 10L, ts("2024-01-01 00:00:00"), 1.0),
      (2L, 10L, ts("2024-01-01 00:01:00"), 1.0))
      .toDF("event_id", "user_id", "ts", "value")
    assert(graft.ops.Sessions.sessionize(events, gapSeconds = 60L).count() === 1)
  }

  test("sessionize battery form: one exchange end to end, sane session shape") {
    val out = graft.ops.Sessions.sessionize(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"), 1800L)
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges === 1,
      s"per-user partitioning must carry window AND aggregate ($exchanges exchanges):\n$plan")
    assert(!plan.contains("SinglePartition"), s"no global window:\n$plan")
    val rows = out.collect()
    assert(rows.length > 100, "30-min gaps must split the sf0.001 event log")
    assert(rows.forall(r => r.getLong(2) <= r.getLong(3)), "start <= end")
    // session count per user equals that user's max session index
    val byUser = rows.groupBy(_.getLong(0))
    assert(byUser.forall { case (_, rs) => rs.map(_.getLong(1)).max === rs.length })
  }

  test("funnel: steps must occur strictly in order") {
    val events = Seq(
      // user 10: full funnel in order
      (1L, 10L, ts("2024-01-01 00:00:00"), "view"),
      (2L, 10L, ts("2024-01-01 00:01:00"), "click"),
      (3L, 10L, ts("2024-01-01 00:02:00"), "purchase"),
      // user 20: purchase BEFORE click — must not count as step 3
      (4L, 20L, ts("2024-01-01 00:00:00"), "view"),
      (5L, 20L, ts("2024-01-01 00:00:30"), "purchase"),
      (6L, 20L, ts("2024-01-01 00:01:00"), "click"),
      // user 30: never views
      (7L, 30L, ts("2024-01-01 00:00:00"), "click"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = graft.ops.Sessions.funnel(events, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(out === Map(10L -> 3L, 20L -> 2L, 30L -> 0L))
  }

  test("funnel: step time is the EARLIEST qualifying event after the prior step") {
    val events = Seq(
      (1L, 10L, ts("2024-01-01 00:00:00"), "view"),
      (2L, 10L, ts("2024-01-01 00:05:00"), "click"),
      (3L, 10L, ts("2024-01-01 00:01:00"), "click")) // earlier click still after view
      .toDF("event_id", "user_id", "ts", "event_type")
    val r = graft.ops.Sessions.funnel(events, Seq("view", "click", "purchase")).collect().head
    assert(r.getLong(2) === ts("2024-01-01 00:01:00").getTime * 1000L)
    assert(r.isNullAt(3) && r.getLong(4) === 2L)
  }

  test("funnel with deadline: late steps beyond the step-1 anchor window are cut") {
    val events = Seq(
      // user 10: click inside the 60 s window, purchase outside it
      (1L, 10L, ts("2024-01-01 00:00:00"), "view"),
      (2L, 10L, ts("2024-01-01 00:00:30"), "click"),
      (3L, 10L, ts("2024-01-01 00:02:00"), "purchase"),
      // user 20: full funnel inside the window (boundary: exactly 60 s OK)
      (4L, 20L, ts("2024-01-01 00:00:00"), "view"),
      (5L, 20L, ts("2024-01-01 00:00:30"), "click"),
      (6L, 20L, ts("2024-01-01 00:01:00"), "purchase"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val out = graft.ops.Sessions
      .funnel(events, Seq("view", "click", "purchase"), windowSeconds = Some(60L))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(out === Map(10L -> 2L, 20L -> 3L))
    // without the deadline both users complete
    val open = graft.ops.Sessions.funnel(events, Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(open === Map(10L -> 3L, 20L -> 3L))
  }

  test("retention: hand-computed weekly cohort matrix") {
    val w = 604800L // seconds per week
    def at(weeks: Long, sec: Long) = new Timestamp((weeks * w + sec) * 1000L)
    val events = Seq(
      (1L, 10L, at(2824L, 10L)), (2L, 10L, at(2825L, 20L)), (3L, 10L, at(2825L, 30L)),
      (4L, 20L, at(2824L, 40L)), (5L, 20L, at(2826L, 50L)),
      (6L, 30L, at(2825L, 60L)))
      .toDF("event_id", "user_id", "ts")
    val out = graft.ops.Sessions.retention(events)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // cohort 2824: users 10,20 at offset 0; 10 at offset 1; 20 at offset 2
    // cohort 2825: user 30 at offset 0
    assert(out === Map(
      (2824L, 0L) -> 2L, (2824L, 1L) -> 1L, (2824L, 2L) -> 1L, (2825L, 0L) -> 1L))
  }

  test("funnel + retention battery form: user-keyed windows, no global sort") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val fPlan = graft.ops.Sessions.funnel(ev, Seq("view", "click", "purchase"))
      .queryExecution.executedPlan.toString
    val rPlan = graft.ops.Sessions.retention(ev).queryExecution.executedPlan.toString
    assert(!fPlan.contains("SinglePartition") && !rPlan.contains("SinglePartition"))
    assert("Exchange hashpartitioning".r.findAllIn(fPlan).size === 1,
      s"funnel must be one user-keyed exchange:\n$fPlan")
    val reached = graft.ops.Sessions.funnel(ev, Seq("view", "click", "purchase"))
      .agg(min(col("reached")), max(col("reached"))).collect().head
    assert(reached.getLong(1) === 3L, "some sf0.001 user completes the funnel")
    val ret = graft.ops.Sessions.retention(ev)
    assert(ret.count() >= 3, "multiple cohort/offset cells at sf0.001 (log spans ~5 weeks)")
  }

  test("event analytics replicate exactly over disjoint user ids") {
    // three copies of the sf0.001 events with disjoint user and event ids
    // (timestamps unchanged): per-user outputs and global masses must be
    // exactly 3x the base, and the cohort grid must not move
    val copies = 3
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val userStride = ev.agg(max("user_id")).head.getLong(0) + 1L
    val eventStride = ev.agg(max("event_id")).head.getLong(0) + 1L
    val big = ev
      .withColumn("c", explode(array((0 until copies).map(lit): _*)))
      .withColumn("user_id", col("user_id") + col("c").cast("long") * userStride)
      .withColumn("event_id", col("event_id") + col("c").cast("long") * eventStride)
      .drop("c")
    val steps = Seq("view", "click", "purchase")
    import graft.ops.{Sessions, SemiStructured}

    assert(Sessions.sessionize(big).count() === copies * Sessions.sessionize(ev).count())
    assert(Sessions.funnel(big, steps).count() ===
      copies * ev.select("user_id").distinct().count(), "funnel is one row per user")
    def depths(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Sessions.funnel(df, steps, Some(86400L)).groupBy("reached").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(depths(big) === depths(ev).map { case (k, v) => k -> v * copies })
    def retention(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = Sessions.retention(df).agg(count(lit(1)), sum("n_users")).head
      (r.getLong(0), r.getLong(1))
    }
    val (baseCells, baseUsers) = retention(ev)
    assert(retention(big) === ((baseCells, copies * baseUsers)))
    def kSum(df: org.apache.spark.sql.DataFrame): Long =
      SemiStructured.propStats(df).agg(sum("k_sum")).head.getLong(0)
    assert(kSum(big) === copies * kSum(ev))
  }
}
