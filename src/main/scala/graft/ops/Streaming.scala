package graft.ops

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/**
 * Structured Streaming analog of the reference's only unbounded operator —
 * the stdin micro-batch loop (reference: data/adaptors.py:111-120 + the
 * kbp.py:49-78 cache-and-flush). The reference has no watermarks/windows/
 * state (SURVEY.md §2.8); we provide the standard streaming surface anyway:
 * event-time tumbling-window aggregation with a watermark, driven
 * synchronously over a static parquet dir for tests/verification.
 *
 * Every op runs through one lifecycle ([[availableNow]]); streaming ops
 * assume no concurrent streaming query in the session, because that
 * lifecycle pins session-global conf for the length of its run.
 */
object Streaming {

  /** Reserved event_type carried by watermark-drain sentinel rows; contains
    * a NUL so it can never collide with real event types. Sentinel rows only
    * ever form their own (window, event_type) groups, which are filtered out
    * of the read-back. */
  val SentinelType = "\u0000graft_drain"

  /** Width of every streaming run's shuffle: for a stateful op it is the
    * state-store instance count, fixed by the first batch's checkpoint, and
    * each micro-batch pays one state-store commit per partition. The state
    * here is small at any corpus scale (the watermark-bounded window
    * aggregate holds a handful of open windows per event_type; dedup holds
    * thousands of keys at sf0.1), so a narrow width beats the session's
    * scan-sized one. Minimum seconds of `q_stream_window` / `q_stream_dedup`
    * at sf0.1 on a 32-vCPU box, by width: 32 → 4.39 / 2.41, 8 → 2.81 / 1.38,
    * 4 → 2.30 / 1.26, 2 → 2.42 / 1.43. Genuinely high-cardinality grouping
    * keys would need it raised. */
  private val StatePartitions = 4

  /** Tumbling 1-hour event-time counts per event_type, computed by an
    * actual streaming query. The result is identical to the batch
    * `date_trunc` aggregation — which is the DuckDB oracle.
    *
    * State shape (the 100 TB story): `outputMode("append")` + the 1-hour
    * watermark means a window's state row is EVICTED as soon as the
    * watermark passes its end — state holds only the open ~2 hours of
    * windows per event_type at any instant, regardless of stream length
    * (asserted bounded across micro-batches in PipelineSpec via
    * `stateRowsMax`). Finalized windows append to the parquet sink, so the
    * final table is the union of appends (each window emitted exactly once).
    *
    * Drain: a bounded run ends with the last ~2 windows still open
    * (watermark = maxTs − 1 h never passes them), so the run carries one
    * far-future sentinel row (reserved [[SentinelType]], maxTs + 3 h) as the
    * source's newest file. Every data file arrives before or with the
    * sentinel's batch; eviction in batch k uses the watermark computed from
    * batches < k, so the sentinel advances the watermark past every real
    * window end, and the CLOSING NO-DATA micro-batch evicts under it.
    * Sentinel groups are filtered from the read-back, so the final table
    * equals the batch aggregation exactly.
    *
    * `maxFilesPerTrigger > 0` rate-limits the source so AvailableNow runs
    * REAL multi-micro-batch execution (append-mode state must carry across
    * batch boundaries); `batchCounter` receives the number of micro-batches
    * run, `stateRowsMax` the max state-store row count observed across them
    * (to assert boundedness). NOTE: append mode treats data below the
    * watermark as LATE and drops it, so a rate-limited multi-file source
    * must be split time-ordered (bounded disorder — the watermark
    * contract); without a rate limit all data files form the first batch,
    * which is always safe. */
  def windowedEventCounts(spark: SparkSession, eventsPath: String,
      maxFilesPerTrigger: Int = 0,
      batchCounter: Option[AtomicInteger] = None,
      stateRowsMax: Option[AtomicLong] = None): DataFrame = {
    val events = spark.read.parquet(eventsPath)
    // max-ts anchor row, collected ONCE (one TakeOrdered job — also the
    // empty-source guard: zero micro-batches would leave no watermark to
    // drain, so return the empty typed result directly)
    val anchor = events.orderBy(col("ts").desc).limit(1).collect()
    if (anchor.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], windowCounts(events).schema)
    val tsType = events.schema("ts").dataType
    val sentinel = spark.createDataFrame(java.util.Arrays.asList(anchor(0)), events.schema)
      .withColumn("ts", (col("ts").cast("timestamp") + expr("INTERVAL 3 HOURS")).cast(tsType))
      .withColumn("event_type", lit(SentinelType))
    availableNow(spark, eventsPath, maxFilesPerTrigger, batchCounter, stateRowsMax,
      drain = Some(sentinel))(windowCounts)(_.filter(col("event_type") =!= SentinelType))
  }

  // parquet NTZ → LTZ for event-time semantics (session TZ is UTC, so
  // wall-clock values are unchanged); window start goes back to NTZ so the
  // output type matches the source column.
  private def windowCounts(events: DataFrame): DataFrame =
    events.withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,2)")).as("total_value"))
      .select(col("w.start").cast("timestamp_ntz").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Stateful streaming dedup: dropDuplicates on a composite key with an
    * event-time watermark bounding state (the scale-safe form — state for
    * keys older than the watermark is evicted). Emits the surviving key set,
    * which equals SELECT DISTINCT — the DuckDB oracle. dropDuplicates emits
    * each first-seen key once, so appending every batch is exact.
    *
    * `maxFilesPerTrigger > 0` rate-limits the source so AvailableNow runs
    * REAL multi-micro-batch execution (state carries across batch
    * boundaries); `batchCounter` receives the number of micro-batches run,
    * so tests can assert > 1. */
  def streamingDedup(spark: SparkSession, eventsPath: String,
      maxFilesPerTrigger: Int = 0,
      batchCounter: Option[AtomicInteger] = None): DataFrame =
    availableNow(spark, eventsPath, maxFilesPerTrigger, batchCounter)(
      _.withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "24 hours")
        .dropDuplicates("user_id", "event_type")
        .select(col("user_id"), col("event_type")))(identity)

  /** Streaming KG construction end to end: a pages STREAM runs the fused
    * scoring kernel + broadcast entity linking per micro-batch, appends raw
    * linked triples to the sink, and the final graph is the batch dedup
    * over everything the stream produced — so the emitted triple set is
    * INDEPENDENT of how the source files split into micro-batches (max
    * confidence and support aggregate over the union; asserted equal to the
    * batch pipeline in PipelineSpec). This is the production shape: stream
    * → raw append-only table → periodic compaction/dedup. Each micro-batch
    * plays the rôle of the reference's 2^15-example cache flush.
    *
    * `rawOut` keeps the raw append-only triple table at `$rawOut/raw` (fresh
    * per run) so the compaction/dedup stage can be oracle-checked over the
    * identical bytes; None = a private directory, deleted. */
  def streamingKgTriples(spark: SparkSession, pagesDir: String,
      bundle: graft.kg.Pipeline.ScoringBundle,
      maxFilesPerTrigger: Int = 0,
      batchCounter: Option[AtomicInteger] = None,
      rawOut: Option[String] = None): DataFrame = {
    import spark.implicits._
    rawOut.foreach(graft.kg.Lineage.deleteRecursively)
    val bundleBc = spark.sparkContext.broadcast(bundle)
    val dict = graft.kg.Pipeline.entityDict(spark)
    availableNow(spark, pagesDir, maxFilesPerTrigger, batchCounter,
      sinkDir = rawOut.map(_ + "/raw"))(pages => graft.kg.Pipeline.linkBroadcast(
        graft.kg.Pipeline.scorePages(spark, pages.as[graft.kg.Page], bundleBc), dict))(
      graft.kg.Pipeline.dedupTriples)
  }

  /** The one lifecycle of every streaming op. `plan` runs over the files of
    * `source` as a single AvailableNow query whose one foreachBatch sink
    * counts micro-batches into `batchCounter` and appends each batch as
    * parquet to `sinkDir` (default: a private directory). The op's result
    * is `finish` over the read-back, materialized (localCheckpoint is
    * eager) before the private directories are deleted.
    *
    * The source's files are staged once into a private directory, so the
    * `drain` rows can be appended as one extra file, with a mod-time after
    * every data file's, without touching the source. The file source
    * replays oldest-first at a rate limit of `maxFilesPerTrigger`, or of
    * the data-file count when that is 0; either way every data file
    * arrives before or with the drain rows' batch.
    *
    * For the run, `spark.sql.shuffle.partitions` is pinned to
    * [[StatePartitions]] and `noDataMicroBatches.enabled` to true (the
    * drain needs the closing no-data batch, and a session tuned to false
    * would silently never evict the trailing windows). Both are restored
    * on every exit; they are session-global, hence the no-concurrent-query
    * assumption. */
  private def availableNow(spark: SparkSession, source: String,
      maxFilesPerTrigger: Int, batchCounter: Option[AtomicInteger],
      stateRowsMax: Option[AtomicLong] = None, drain: Option[DataFrame] = None,
      sinkDir: Option[String] = None)(plan: DataFrame => DataFrame)(
      finish: DataFrame => DataFrame): DataFrame = {
    val schema = spark.read.parquet(source).schema
    val staged = stageAll(source)
    val work = Files.createTempDirectory("graft-stream").toString
    val sink = sinkDir.getOrElse(s"$work/data")
    try {
      val nDataFiles = list(staged).size
      drain.foreach { rows =>
        val before = list(staged).toSet
        rows.coalesce(1).write.mode("append").parquet(staged)
        val newest = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000)
        (list(staged).toSet -- before).foreach(Files.setLastModifiedTime(_, newest))
      }
      Files.createDirectories(Paths.get(sink))
      val shuffleKey = "spark.sql.shuffle.partitions"
      val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val prevShuffle = spark.conf.get(shuffleKey)
      val prevNoData = spark.conf.get(noDataKey)
      val outSchema = try {
        spark.conf.set(shuffleKey, StatePartitions.toString)
        spark.conf.set(noDataKey, "true")
        val out = plan(spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", if (maxFilesPerTrigger > 0) maxFilesPerTrigger else nDataFiles)
          .parquet(staged))
        val q = out.writeStream.outputMode("append")
          .option("checkpointLocation", s"$work/chk")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batchCounter.foreach(_.incrementAndGet())
            batch.write.mode("append").parquet(sink)
            ()
          }
          .trigger(Trigger.AvailableNow())
          .start()
        // stop even on failure: the finally below deletes the staging dir
        try q.processAllAvailable() finally q.stop()
        stateRowsMax.foreach { m =>
          q.recentProgress.foreach(p => p.stateOperators.foreach(so =>
            m.getAndUpdate(cur => math.max(cur, so.numRowsTotal))))
        }
        out.schema
      } finally {
        spark.conf.set(shuffleKey, prevShuffle)
        spark.conf.set(noDataKey, prevNoData)
      }
      finish(spark.read.schema(outSchema).parquet(sink)).localCheckpoint()
    } finally {                        // also on query failure
      graft.kg.Lineage.deleteRecursively(work)
      graft.kg.Lineage.deleteRecursively(staged)
    }
  }

  private def list(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList }
    finally s.close()
  }

  /** Stage the source's parquet files into a PRIVATE directory (symlinks),
    * so drain-sentinel files can be appended without touching the source.
    * Symlinks keep the target's mod-time, so the file source replays the
    * data files in their own order. */
  private def stageAll(path: String): String = {
    val p = Paths.get(path)
    val tmp = Files.createTempDirectory("stream_src")
    val files =
      if (Files.isDirectory(p)) list(path).filter { f =>
        val n = f.getFileName.toString
        Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
      }
      else Seq(p)
    files.foreach(f => Files.createSymbolicLink(tmp.resolve(f.getFileName), f.toAbsolutePath))
    tmp.toString
  }
}
