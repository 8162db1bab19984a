package graft.perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.kg.{Gen, Lineage, Page, Pipeline, ScoredPair}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/**
 * The benchmark program: one workload, one seed, one JVM. See
 * perfbench/README.md for the workloads and the meaning of every metric.
 *
 *   graft.perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *     --work <dir> --result <file> --data <dir> --pins <file> --traces <dir>
 *     --source-digest <hex>
 *
 * It writes the result, with provenance and details, as JSON to `--result`.
 * A workload claim that does not hold (see the self-checks) ends the run
 * with an exception and no result.
 */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, result: String, data: String, pins: String, traces: String,
      sourceDigest: String)

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument ${other.mkString(" ")}")
    }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("work"), kv("result"), kv("data"), kv("pins"), kv("traces"), kv("source-digest"))
    val run = new Run(o)
    val code = try { run.execute(); 0 } catch {
      case NonFatal(e) => e.printStackTrace(); 1
    } finally run.close()
    sys.exit(code)
  }
}

/** One KG workload: the pages its table holds and how page i is made. */
final case class KgWorkload(name: String, pages: Long, page: (Long, Long) => Page)

final class Run(o: Main.Opts) {
  import Run._

  private val nproc = Runtime.getRuntime.availableProcessors()
  private val files = nproc // one part file, so one task, per core
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val trace = new Trace(o.trace)
  private val sessions = new Sessions(o.work)
  private val pins: JsonNode = new ObjectMapper().readTree(new java.io.File(o.pins))

  private var attempted = 0L
  private var failed = 0L
  private val e2e = LinkedHashMap.empty[String, Double]
  private val layer = LinkedHashMap.empty[String, Double]
  private val detail = LinkedHashMap.empty[String, Any]

  private def sinceJvmStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
  private def log(msg: String): Unit = println(f"[perfbench ${o.workload} $sinceJvmStart%.1fs] $msg")
  private def now: Double = System.nanoTime() / 1e9

  private def timed(body: => Unit): Double = { val t0 = now; body; now - t0 }

  /** A pass or query: counted; timed only if it completes. */
  private def attempt(what: String)(body: => Unit): Option[Double] = {
    attempted += 1
    try Some(timed(body)) catch {
      case NonFatal(e) => failed += 1; log(s"FAILED $what: $e"); None
    }
  }

  /** An output gate over one execution of the program: counted as an
    * attempt, and a failure when it throws or the check does not hold. */
  private def gate(what: String)(check: => (Boolean, String)): Unit = {
    attempted += 1
    val (ok, why) = try check catch { case NonFatal(e) => (false, e.toString) }
    if (ok) log(s"gate ok: $what") else { failed += 1; log(s"GATE FAILED: $what: $why") }
  }

  /** A claim the workload design relies on: the run stops if it is false. */
  private def claim(what: String, ok: Boolean): Unit =
    if (!ok) throw new IllegalStateException(s"workload claim does not hold: $what")

  /** A span around a call into the program; jobs started inside it carry
    * the span id so their stages nest under it. */
  private def span[T](spark: SparkSession, name: String)(body: => T): T =
    trace.span(name) {
      spark.sparkContext.setLocalProperty(TaskStats.SpanKey, trace.current.toString)
      try body finally spark.sparkContext.setLocalProperty(TaskStats.SpanKey, null)
    }

  def execute(): Unit = {
    log(s"nproc=$nproc seed=${o.seed} seconds=${o.seconds} trace=${o.trace}")
    kg(KgWorkloads(o.workload))
    val (names, values) = if (o.trace) (PerLayer, layer) else (EndToEnd, e2e)
    val metrics = LinkedHashMap(names.map { case (k, unit) =>
      k -> Map("value" -> values.getOrElse(k, 0.0), "unit" -> unit)
    }: _*)
    detail("failed_frac") = if (attempted > 0) failed.toDouble / attempted else 0.0
    val result = LinkedHashMap("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> metrics)
    val out = LinkedHashMap("result" -> result, "provenance" -> provenance(), "detail" -> detail)
    Files.write(Paths.get(o.result), Json.render(out).getBytes("UTF-8"))
    trace.write(s"${o.traces}/${o.workload}-seed${o.seed}.json",
      Map("workload" -> o.workload, "seed" -> o.seed))
    log("result written")
  }

  def close(): Unit = sessions.stop()

  private def provenance(): Map[String, Any] = Map(
    "workload" -> o.workload, "seed" -> o.seed, "run_seconds" -> o.seconds,
    "trace" -> o.trace, "nproc" -> nproc, "files_per_table" -> files,
    "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
    "jdk" -> s"${sys.props("java.vendor")} ${sys.props("java.runtime.version")}",
    "spark" -> org.apache.spark.SPARK_VERSION,
    "source_sha256" -> o.sourceDigest,
    "SPARK_GRAFT_CPUS" -> sys.env.getOrElse("SPARK_GRAFT_CPUS", "unset"),
    "comparable_with" -> ("perfbench results only: the BENCH_r01..r07 and BENCH_local_* " +
      "records come from the frozen graft.Bench, on a 32-vCPU box for BENCH_r*"))

  // ---- KG workloads --------------------------------------------------------

  private def kg(w: KgWorkload): Unit = {
    val dir = s"${o.work}/pages"
    val s = sessions.fresh(nproc)
    detail("boot_s") = sinceJvmStart
    if (w.name == "kg_diverse") Diverse.selfCheck()
    val (seed, gen) = (o.seed, w.page) // the closures below must not capture this Run

    // The input table is written three times: once cold, then, after the
    // output gates have run the program over it, twice more. Set-up counts
    // the median write. The JIT warm-up is the gate pass followed by
    // untimed rounds of the timed passes, which keep getting faster for
    // about ten seconds.
    val writes = ArrayBuffer.empty[Double]
    def write(): Unit = writes += trace.span("write pages") {
      timed(Corpus.write(s, dir, w.pages, files)(i => gen(seed, i)))
    }
    write()
    log("input table written")
    detail("gates_s") = trace.span("gates")(timed(kgGates(w, dir)))
    write(); write()
    detail("warmup_s") = trace.span("warm-up")(timed(rounds(dir, WarmupSeconds)))
    log("set-up done")
    e2e("setup_s") = sinceJvmStart - writes.sum + Stats.median(writes.toSeq)
    detail ++= Seq("pages" -> w.pages, "table_bytes" -> Corpus.bytes(dir), "write_s" -> writes.toSeq)

    if (o.trace) kgTraced(w, dir) else kgTimed(w, dir)
  }

  /** Computes every column of every row, with nothing collected. */
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The workload pass: every column of the triples to the noop sink. */
  private def pass(s: SparkSession, pages: Dataset[Page]): Unit =
    noop(Pipeline.extractTriples(s, pages))

  /** Rounds of two passes, local[nproc] over the whole table and local[1]
    * over its first 1/nproc, each in a fresh session, until `seconds` have
    * passed and at least MinRounds are done. Returns the pass times. */
  private def rounds(dir: String, seconds: Double): (Seq[Double], Seq[Double]) = {
    val full = ArrayBuffer.empty[Double]
    val one = ArrayBuffer.empty[Double]
    val t0 = now
    var n = 0
    while (n < MinRounds || (now - t0 < seconds && n < 500)) {
      for ((cores, times) <- Seq(nproc -> full, 1 -> one)) {
        val s = sessions.fresh(cores)
        attempt(s"pass local[$cores]")(pass(s, Corpus.read(s, dir, files * cores / nproc)))
          .foreach(times += _)
      }
      n += 1
    }
    log(s"$n rounds")
    (full.toSeq, one.toSeq)
  }

  /** The timed rounds, for `--seconds`. */
  private def kgTimed(w: KgWorkload, dir: String): Unit = {
    val (full, one) = rounds(dir, o.seconds)
    val pagesOne = w.pages / nproc
    if (full.nonEmpty && one.nonEmpty) {
      e2e("pass_s") = Stats.median(full)
      e2e("scaling_eff") = (w.pages / Stats.median(full)) / (nproc * pagesOne / Stats.median(one))
    } else { e2e("pass_s") = 0.0; e2e("scaling_eff") = 0.0 }
    detail ++= Seq("pass_s_local_n" -> full, "pass_s_local_1" -> one, "pages_local_1" -> pagesOne,
      "pages_per_s" -> (if (full.nonEmpty) w.pages / Stats.median(full) else 0.0))
  }

  /** The traced run: per-layer timings and Spark's task metrics. */
  private def kgTraced(w: KgWorkload, dir: String): Unit = {
    var s = sessions.fresh(nproc)
    val bundleBc = s.sparkContext.broadcast(Pipeline.buildBundle())
    def pages = Corpus.read(s, dir, files)
    def fused(): Unit = noop(Pipeline.scorePages(s, pages, bundleBc).toDF())
    val untraced = (1 to 3).map(_ => timed(fused()))

    val stats = new TaskStats(trace)
    sessions.listen(Some(stats))
    def section(body: => Unit): (Double, SparkSection) = {
      stats.quiesce(); stats.reset()
      val t = timed(body)
      stats.quiesce()
      (t, stats.section())
    }
    trace.span(w.name) {
      val (scanS, scan) = section(span(s, "scan")(noop(pages.select(col("url"), col("html")))))
      val fusedRuns = (1 to 3).map(_ => section(span(s, "fused")(fused())))
      val fusedS = Stats.median(fusedRuns.map(_._1))
      val fusedRunS = Stats.median(fusedRuns.map(_._2.executorRunS))

      // link (broadcast, and salted as the checkpointed run uses it) and
      // dedup, each over its materialized input
      Pipeline.scorePages(s, pages, bundleBc).write.parquet(s"${o.work}/scored")
      val scored = s.read.parquet(s"${o.work}/scored").as(Encoders.product[ScoredPair])
      val dict = Pipeline.entityDict(s)
      val linkS = timed(span(s, "link")(noop(Pipeline.linkBroadcast(scored, dict))))
      val linkSaltedS = timed(span(s, "link salted")(noop(Pipeline.linkSalted(scored, dict))))
      Pipeline.linkBroadcast(scored, dict).write.parquet(s"${o.work}/linked")
      val linked = s.read.parquet(s"${o.work}/linked")
      val dedupS = timed(span(s, "dedup")(noop(Pipeline.dedupTriples(linked))))
      layer ++= Seq("scan.s" -> scanS, "fused.s" -> fusedS, "fused.s_untraced" -> Stats.median(untraced),
        "trace_overhead_s" -> (fusedS - Stats.median(untraced)),
        "fused.rows_out" -> scored.count().toDouble,
        "link.s" -> linkS, "link_salted.s" -> linkSaltedS, "link.rows_out" -> linked.count().toDouble,
        "dedup.s" -> dedupS, "dedup.rows_out" -> Pipeline.dedupTriples(linked).count().toDouble)

      val ref = span(s, "layers")(Layers.run(s, pages, bundleBc, everyPair = true))
      val c = ref.counters
      def cpu(k: String) = c(k) / 1e9
      val layerCpu = Seq("extract", "segment", "tokenize", "mentions", "pairs", "featurize")
        .map(l => cpu(s"$l.ns")).sum + cpu("score.ns_distinct")
      layer ++= Seq(
        "extract.cpu_s" -> cpu("extract.ns"), "extract.bytes" -> c("extract.bytes").toDouble,
        "segment.cpu_s" -> cpu("segment.ns"), "segment.sentences" -> c("segment.sentences").toDouble,
        "tokenize.cpu_s" -> cpu("tokenize.ns"), "tokenize.tokens" -> c("tokenize.tokens").toDouble,
        "mentions.cpu_s" -> cpu("mentions.ns"), "mentions.count" -> c("mentions.count").toDouble,
        "pairs.cpu_s" -> cpu("pairs.ns"), "pairs.count" -> c("pairs.count").toDouble,
        "featurize.cpu_s" -> cpu("featurize.ns"), "featurize.errors" -> c("featurize.errors").toDouble,
        "score.cpu_s_all" -> cpu("score.ns_all"), "score.cpu_s_distinct" -> cpu("score.ns_distinct"),
        "score.memo_hit_ratio" -> memoHitRatio(ref),
        "layer_sum_ratio" -> (layerCpu + scan.executorRunS) / fusedRunS)
      detail ++= Seq("fused_executor_run_s" -> fusedRunS, "scan_executor_run_s" -> scan.executorRunS,
        "layer_cpu_s" -> layerCpu)

      // one whole workload pass, with the listener on
      s = sessions.fresh(nproc)
      val (passS, sec) = section(span(s, "pass")(pass(s, pages)))
      layer ++= sec.metrics(passS, nproc)
      detail("pages_per_s_traced") = w.pages / passS

      if (w.name == "kg_templated") checkpointed(s, pages, ref, section)
    }
    sessions.listen(None)
    if (w.name == "kg_diverse") batteryTraced()
  }

  /** The checkpointed run over the templated table, traced: two
    * invocations of runCheckpointed(salted, 32 buckets), the first capped
    * at 16 buckets, then a third that finds every bucket committed and only
    * publishes. Its output is gated like the one-shot pass. */
  private def checkpointed(s: SparkSession, pages: Dataset[Page], ref: Layers.Result,
      section: (=> Unit) => (Double, SparkSection)): Unit = {
    val out = Files.createTempDirectory(Paths.get(o.work), "graph").toString
    def invoke(maxBuckets: Int) = Pipeline.runCheckpointed(s, pages, out, buckets = Buckets,
      salted = true, maxBucketsPerRun = maxBuckets)
    var partialS, resumeS = 0.0
    val (totalS, sec) = section {
      partialS = timed(span(s, "checkpointed partial")(invoke(Buckets / 2)))
      resumeS = timed(span(s, "checkpointed resume")(invoke(Int.MaxValue)))
    }
    val written = Files.walk(Paths.get(out)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    val publishS = timed(span(s, "checkpointed publish")(invoke(Int.MaxValue)))
    layer ++= Seq("partial.s" -> partialS, "resume.s" -> resumeS, "publish.s" -> publishS,
      "files_written" -> written.size.toDouble, "bytes_written" -> written.map(Files.size).sum.toDouble)
    detail("checkpointed") = Map("pass_s" -> totalS) ++ sec.metrics(totalS, nproc)

    val edges = Triples.collect(Lineage.readTable(s, out, "edges"))
    val oneShot = Triples.collect(Pipeline.extractTriples(s, pages, salted = true))
    gate("published edges equal one-shot extractTriples(salted=true)") {
      (edges == oneShot, s"${edges.size} edges vs ${oneShot.size}")
    }
    gate("published edges equal the memo-free reference") {
      (edges == ref.triples, s"${edges.size} edges vs ${ref.triples.size}")
    }
    val nodes = Lineage.readTable(s, out, "nodes").count()
    val refNodes = ref.triples.flatMap(t => Seq(t.subjectId, t.objectId)).distinct.size
    gate("published nodes equal the reference's entities") {
      (nodes == refNodes, s"$nodes nodes vs $refNodes")
    }
    val pin = pins.path("kg_checkpointed").path(o.seed.toString)
    val (rows, md5) = Triples.pin(edges)
    detail("checkpointed_pin") = Map("rows" -> rows, "md5" -> md5, "nodes" -> nodes)
    if (!pin.isMissingNode) gate(s"published graph pinned for seed ${o.seed}") {
      (rows == pin.path("rows").asLong() && md5 == pin.path("md5").asText() &&
        nodes == pin.path("nodes").asLong(), s"got ($rows, $md5, $nodes), pinned $pin")
    }
    Lineage.deleteRecursively(out)
  }

  private def memoHitRatio(r: Layers.Result): Double =
    1.0 - r.counters("score.distinct").toDouble / math.max(1L, r.counters("score.attempted"))

  /** Output gates and the workload claims, outside any timing. They run
    * the program once over the input table, which also warms the JIT. */
  private def kgGates(w: KgWorkload, dir: String): Unit = {
    val s = sessions.get(nproc)
    val pages = Corpus.read(s, dir, files)
    val bundleBc = s.sparkContext.broadcast(Pipeline.buildBundle())
    // memo-free on the diverse corpus, as the gate there is about the memo
    val ref = Layers.run(s, pages, bundleBc, everyPair = w.name == "kg_diverse")
    val hit = memoHitRatio(ref)
    detail ++= Seq("memo_hit_ratio" -> hit, "reference_triples" -> ref.triples.size)
    if (w.name == "kg_templated")
      claim(s"memo hit ratio $hit >= 0.99 on the templated corpus", hit >= 0.99)
    else {
      claim(s"memo hit ratio $hit <= 0.2 on the diverse corpus", hit <= 0.2)
      val noPair = ref.counters("sentences.no_pair")
      claim(s"every diverse sentence yields a candidate pair ($noPair do not)", noPair == 0)
    }

    val got = Triples.collect(Pipeline.extractTriples(s, pages))
    gate("extractTriples equals the memo-free reference") {
      (got == ref.triples, s"${got.size} triples vs ${ref.triples.size}")
    }
    val pin = pins.path(w.name).path(o.seed.toString)
    val (rows, md5) = Triples.pin(got)
    detail("pin") = Map("rows" -> rows, "md5" -> md5)
    if (!pin.isMissingNode) gate(s"triples pinned for seed ${o.seed}") {
      (rows == pin.path("rows").asLong() && md5 == pin.path("md5").asText(),
        s"got ($rows, $md5), pinned $pin")
    }
    if (w.name == "kg_diverse") gate("scorePages pairs equal the memo-free pairs") {
      val d = Triples.pairDigest(s, Pipeline.scorePages(s, pages, bundleBc))
      (d == ref.pairs, s"digest $d vs ${ref.pairs}")
    }
  }

  // ---- ops battery, measured in the kg_diverse traced run ---------------------

  /** A warm-up pass over the battery that is also its output gate (each
    * query's rows against pins.json), then one traced pass in a fresh
    * session, each query to the noop sink. */
  private def batteryTraced(): Unit = {
    val dir = s"${o.data}/sf0.001"
    var s = sessions.fresh(nproc)
    val got = LinkedHashMap.empty[String, Any]
    trace.span("ops battery warm-up and gates") {
      Battery.Queries.foreach { q =>
        val pin = pins.path("ops_battery").path(q)
        gate(s"$q pinned") {
          val (rows, md5) = Battery.pin(Battery.query(s, q, dir))
          got(q) = Map("rows" -> rows, "md5" -> md5)
          (!pin.isMissingNode && rows == pin.path("rows").asLong() && md5 == pin.path("md5").asText(),
            s"got ($rows, $md5), pinned $pin")
        }
      }
    }
    detail("battery_pins") = got
    log("battery gates done")

    val stats = new TaskStats(trace)
    sessions.listen(Some(stats))
    s = sessions.fresh(nproc)
    val secs = LinkedHashMap.empty[String, Double]
    val passS = timed(trace.span("ops battery") {
      Battery.Queries.foreach { q =>
        span(s, q)(attempt(q)(noop(Battery.query(s, q, dir)))).foreach(secs(q) = _)
      }
    })
    stats.quiesce()
    detail("battery") = Map("pass_s" -> passS) ++ stats.section().metrics(passS, nproc)
    sessions.listen(None)
    Battery.Modules.foreach { case (m, qs) => layer(s"battery.${m}_s") = qs.flatMap(secs.get).sum }
    layer("battery.geomean_ms") = Stats.geomean(secs.values.map(_ * 1000).toSeq)
    Battery.Named.foreach(q => layer(s"q.${q}_s") = secs.getOrElse(q, 0.0))
  }
}

object Run {
  /** Timed rounds per run at least, however long they take. */
  val MinRounds = 2
  val WarmupSeconds = 10.0
  val Buckets = 32

  /** Input sizes, chosen so one pass takes 1 to 2 s on a 4-core box. */
  val KgWorkloads: Map[String, KgWorkload] = Seq(
    KgWorkload("kg_templated", 48000, (seed, i) => Gen.page(seed, i, withText = true)),
    KgWorkload("kg_diverse", 2400, (seed, i) => Diverse.page(seed, i)),
  ).map(w => w.name -> w).toMap

  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "pass_s" -> "s", "scaling_eff" -> "ratio")

  /** Every per-layer metric, printed for every workload (0 where a layer
    * does not take part in the workload). */
  val PerLayer: Seq[(String, String)] = Seq(
    "scan.s" -> "s", "extract.cpu_s" -> "s", "extract.bytes" -> "bytes",
    "segment.cpu_s" -> "s", "segment.sentences" -> "count",
    "tokenize.cpu_s" -> "s", "tokenize.tokens" -> "count",
    "mentions.cpu_s" -> "s", "mentions.count" -> "count",
    "pairs.cpu_s" -> "s", "pairs.count" -> "count",
    "featurize.cpu_s" -> "s", "featurize.errors" -> "count",
    "score.cpu_s_all" -> "s", "score.cpu_s_distinct" -> "s", "score.memo_hit_ratio" -> "ratio",
    "fused.s" -> "s", "fused.s_untraced" -> "s", "trace_overhead_s" -> "s", "fused.rows_out" -> "count",
    "link.s" -> "s", "link_salted.s" -> "s", "link.rows_out" -> "count",
    "dedup.s" -> "s", "dedup.rows_out" -> "count",
    "layer_sum_ratio" -> "ratio",
    "partial.s" -> "s", "resume.s" -> "s", "publish.s" -> "s",
    "files_written" -> "count", "bytes_written" -> "bytes",
    "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.cpu_util" -> "ratio", "spark.task_skew" -> "ratio") ++
    Battery.Modules.map { case (m, _) => s"battery.${m}_s" -> "s" } ++
    Seq("battery.geomean_ms" -> "ms") ++
    Battery.Named.map(q => s"q.${q}_s" -> "s")
}
