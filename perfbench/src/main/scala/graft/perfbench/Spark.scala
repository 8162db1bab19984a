package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/**
 * The benchmark's Spark sessions. Every timed pass gets a fresh session
 * (the previous one is stopped), so session-scoped caches start empty and a
 * pass at local[1] and one at local[nproc] can alternate in one JVM. The
 * settings mirror the repository's Bench (shuffle partitions = cores, AQE
 * on, UTC); scratch space goes under the run's work directory.
 */
final class Sessions(workDir: String) {
  private var active: Option[(SparkSession, Int)] = None
  private var listener: Option[SparkListener] = None

  def fresh(cores: Int): SparkSession = {
    stop()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    listener.foreach(s.sparkContext.addSparkListener)
    active = Some((s, cores))
    s
  }

  /** The open session if it runs at `cores`, else a fresh one. */
  def get(cores: Int): SparkSession = active match {
    case Some((s, c)) if c == cores => s
    case _ => fresh(cores)
  }

  /** Attach `l` to the open session and to every later one (None detaches). */
  def listen(l: Option[SparkListener]): Unit = {
    for ((s, _) <- active; old <- listener) s.sparkContext.removeSparkListener(old)
    listener = l
    for ((s, _) <- active; now <- l) s.sparkContext.addSparkListener(now)
  }

  def stop(): Unit = {
    active.foreach(_._1.stop())
    active = None
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Spark's task metrics over one section of a run. */
final case class SparkSection(stages: Int, tasks: Int, shuffleWriteBytes: Long,
    shuffleReadBytes: Long, spillBytes: Long, executorRunS: Double,
    executorCpuS: Double, gcS: Double, taskSkew: Double) {
  def metrics(wallS: Double, cores: Int): Seq[(String, Double)] = Seq(
    "spark.stages" -> stages.toDouble, "spark.tasks" -> tasks.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spark.shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "spark.spill_bytes" -> spillBytes.toDouble,
    "spark.executor_run_s" -> executorRunS, "spark.executor_cpu_s" -> executorCpuS,
    "spark.gc_s" -> gcS,
    "spark.cpu_util" -> (if (wallS > 0) executorCpuS / (wallS * cores) else 0.0),
    "spark.task_skew" -> taskSkew)
}

/**
 * Listener the benchmark registers around a traced section. It sums the
 * executors' task metrics and, when tracing, records every completed stage
 * as a span under the benchmark span that was open when its job started
 * (carried to the listener as a job property).
 */
final class TaskStats(trace: Trace) extends SparkListener {
  private final case class Task(stage: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)

  private val tasks = ArrayBuffer.empty[Task]
  private val stageParent = scala.collection.mutable.Map.empty[Int, Int]
  private var stages = 0
  // jobs started while attached and not yet ended; an end whose start came
  // before the listener was attached is ignored
  private val runningJobs = scala.collection.mutable.Set.empty[Int]
  @volatile private var lastEventNs = System.nanoTime()
  // epoch millis → the trace's nanoTime clock
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    runningJobs += e.jobId
    val parent = Option(e.properties).flatMap(p => Option(p.getProperty(TaskStats.SpanKey)))
      .map(_.toInt).getOrElse(0)
    e.stageIds.foreach(stageParent(_) = parent)
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    runningJobs -= e.jobId
    lastEventNs = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val info = e.stageInfo
    for (start <- info.submissionTime; end <- info.completionTime)
      trace.record(stageParent.getOrElse(info.stageId, 0), s"stage ${info.stageId}: ${info.name}",
        start * 1000000L + clockOffsetNs, end * 1000000L + clockOffsetNs,
        Map("tasks" -> info.numTasks))
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
    lastEventNs = System.nanoTime()
  }

  /** Wait until the listener bus has delivered every event of the jobs
    * run so far: no job running and no event for 150 ms (at most 5 s). */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    def idle = synchronized(runningJobs.isEmpty) &&
      System.nanoTime() - lastEventNs > 150000000L
    while (!idle && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def reset(): Unit = synchronized { tasks.clear(); stages = 0 }

  /** Totals since the last reset; call after [[quiesce]]. */
  def section(): SparkSection = synchronized {
    val byStage = tasks.groupBy(_.stage)
    // skew in the widest stage: the one with most tasks, longest on ties
    val skew = if (byStage.isEmpty) 0.0 else {
      val widest = byStage.values.maxBy(ts => (ts.size, ts.map(_.runMs).sum))
      val sorted = widest.map(_.runMs.toDouble).sorted
      val median = Stats.median(sorted.toSeq)
      if (median > 0) sorted.last / median else 1.0
    }
    SparkSection(stages, tasks.size, tasks.map(_.shuffleWrite).sum,
      tasks.map(_.shuffleRead).sum, tasks.map(_.spill).sum,
      tasks.map(_.runMs).sum / 1e3, tasks.map(_.cpuNs).sum / 1e9,
      tasks.map(_.gcMs).sum / 1e3, skew)
  }
}

object TaskStats {
  /** Job property naming the benchmark span that submitted the job. */
  val SpanKey = "perfbench.span"
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
