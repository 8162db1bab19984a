package graft.kg

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

object SparkTestSession {
  lazy val spark: SparkSession = {
    // the battery keeps its oracle fixtures for a DuckDB compare after the
    // JVM exits; a test JVM has no such reader, so it removes its own tree
    sys.addShutdownHook(Lineage.deleteRecursively(graft.SparkEntry.OracleFixtureDir))
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}

/** Walks an executed plan into adaptive query stages. */
object PlanNodes extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

class PipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def tripleSet(df: org.apache.spark.sql.DataFrame): Set[(String, String, String, Long)] =
    df.select("subject_id", "relation", "object_id", "support").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSet

  private def nodeSet(df: org.apache.spark.sql.DataFrame): Set[(String, String)] =
    df.select("node_id", "ner").collect().map(r => (r.getString(0), r.getString(1))).toSet

  /** (path relative to triples_raw, size, mtime) of every file under the
    * given buckets' partition directories. */
  private def bucketFiles(dir: String, buckets: Seq[Int]): Set[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val base = java.nio.file.Paths.get(dir, "triples_raw")
    buckets.map(b => base.resolve(s"bucket=$b")).filter(Files.exists(_)).flatMap { d =>
      val walk = Files.walk(d)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(p =>
        (base.relativize(p).toString, Files.size(p), Files.getLastModifiedTime(p).toMillis)).toList
      finally walk.close()
    }.toSet
  }

  test("flagship pipeline extracts triples end-to-end") {
    val pages = Pipeline.generatePages(spark, 60)
    val triples = Pipeline.extractTriples(spark, pages)
    val rows = triples.collect()
    assert(rows.nonEmpty, "pipeline must emit triples")
    assert(rows.forall(_.getString(1) != "no_relation"), "P15: no_relation suppressed")
    assert(rows.forall(r => r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0))
  }

  test("pipeline output is deterministic across runs (golden-gate precondition)") {
    val t1 = tripleSet(Pipeline.extractTriples(spark, Pipeline.generatePages(spark, 80)))
    val t2 = tripleSet(Pipeline.extractTriples(spark, Pipeline.generatePages(spark, 80)))
    assert(t1 === t2)
    assert(t1.nonEmpty)
  }

  test("broadcast and salted entity linking agree (J5 skew path)") {
    val pages = Pipeline.generatePages(spark, 80)
    val a = tripleSet(Pipeline.extractTriples(spark, pages, salted = false))
    val b = tripleSet(Pipeline.extractTriples(spark, pages, salted = true))
    assert(a === b)
  }

  /** Every row in full, the confidence as its raw bits, sorted. */
  private def exactRows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, String, Long, Long)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
      java.lang.Double.doubleToRawLongBits(r.getDouble(3)), r.getLong(4))).toSeq.sorted

  test("extractTriples equals dedupTriples(linkBroadcast(scorePages)): schema, rows, raw bits") {
    val pages = Pipeline.generatePages(spark, 300)
    val scored = Pipeline.scorePages(spark, pages,
      spark.sparkContext.broadcast(Pipeline.buildBundle()))
    // the input links an ambiguous surface (one (surface, ner), several
    // ids) and the Zipf-hot key
    val ambiguous = Gen.entityDictionary.groupBy(r => (r.surface, r.ner))
      .collect { case (k, rs) if rs.size > 1 => k }.toSet
    val linkKeys = scored.collect().flatMap(p =>
      Seq((p.subjectSurface, p.subjectNer), (p.objectSurface, p.objectNer))).toSet
    assert((linkKeys & ambiguous).nonEmpty, s"no ambiguous surface among $linkKeys")
    assert(linkKeys.exists(_._1 == "united states"), "the Zipf-hot key is missing")

    val expected = Pipeline.dedupTriples(Pipeline.linkBroadcast(scored, Pipeline.entityDict(spark)))
    val got = Pipeline.extractTriples(spark, pages)
    assert(got.schema === expected.schema)
    val rows = exactRows(expected)
    assert(rows.exists(_._5 > 1L), "some triple must have several supporting sentences")
    assert(exactRows(got) === rows)
  }

  test("extractTriples(salted = false) plans no join, no aggregate and one shuffle") {
    import org.apache.spark.ShuffleDependency
    import org.apache.spark.rdd.RDD
    import org.apache.spark.sql.execution.{DeserializeToObjectExec, FileSourceScanExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import spark.implicits._
    // pages at rest, the flagship's input: its plan holds no object, so any
    // DeserializeToObject in it would decode the pages
    val dir = Files.createTempDirectory("graft-plan").toString
    try {
      Pipeline.generatePages(spark, 30).write.mode("overwrite").parquet(dir)
      val pages = spark.read.parquet(dir).as[Page]
      val df = Pipeline.extractTriples(spark, pages)
      assert(df.collect().nonEmpty) // executed, so an adaptive plan is final
      val plan = df.queryExecution.executedPlan
      val relational = PlanNodes.collect(plan) {
        case j: BaseJoinExec => j.nodeName
        case a: BaseAggregateExec => a.nodeName
      }
      assert(relational.isEmpty, s"unexpected joins or aggregates $relational in:\n$plan")
      def shuffles(rdd: RDD[_]): Seq[ShuffleDependency[_, _, _]] = rdd.dependencies.flatMap {
        case d: ShuffleDependency[_, _, _] => d +: shuffles(d.rdd)
        case d => shuffles(d.rdd)
      }
      val lineage = df.queryExecution.toRdd
      val deps = shuffles(lineage)
      assert(deps.size === 1, lineage.toDebugString)
      // the combiner already emits one partial per key and flush
      assert(!deps.head.mapSideCombine, "the shuffle combines on the map side again")
      val read = Pipeline.pageColumns(pages).queryExecution.executedPlan
      val decodes = PlanNodes.collect(read) { case d: DeserializeToObjectExec => d }
      assert(decodes.isEmpty, s"the pages are decoded in:\n$read")
      val scanned = PlanNodes.collect(read) { case f: FileSourceScanExec => f.requiredSchema.fieldNames.toSeq }
      assert(scanned === Seq(Seq("url", "html")), s"the scan reads more than (url, html) in:\n$read")
    } finally Lineage.deleteRecursively(dir)
  }

  test("extractTriples reads a parquet table off its column batches, with the row read's exact triples") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-batches").toString
    try {
      val inMemory = Pipeline.generatePages(spark, 60)
      inMemory.write.mode("overwrite").parquet(dir)
      val atRest = spark.read.parquet(dir).as[Page]
      def batches(pages: org.apache.spark.sql.Dataset[Page]) =
        Pipeline.batchScan(Pipeline.pageColumns(pages).queryExecution.executedPlan).nonEmpty
      assert(batches(atRest) && !batches(inMemory))
      def read(pages: org.apache.spark.sql.Dataset[Page]) =
        Pipeline.pageRecords(pages).collect().map { case (u, h) => (u, h.toSeq) }.sortBy(_._1).toSeq
      assert(read(atRest) === read(inMemory))
      val rows = exactRows(Pipeline.extractTriples(spark, inMemory))
      assert(rows.nonEmpty)
      assert(exactRows(Pipeline.extractTriples(spark, atRest)) === rows)
    } finally Lineage.deleteRecursively(dir)
  }

  /** Eight pages of the same html. */
  private def pagesOf(html: String): org.apache.spark.sql.Dataset[Page] = {
    import spark.implicits._
    (0 until 8).map(i => Page(s"http://example.org/$i", new java.sql.Timestamp(0L),
      html.getBytes("UTF-8"), "", "en")).toDS()
  }

  /** A bundle whose NER vocabulary has no UNK and whose gazetteer types
    * "zorblax" as ALIEN, and pages whose every pair touches "zorblax", so
    * every pair fails its NER-id lookup. */
  private def alienPages(): (Pipeline.ScoringBundle, org.apache.spark.sql.Dataset[Page]) = {
    val base = Pipeline.buildBundle()
    (base.copy(ner = base.ner.copy(unkId = -1), gazetteer = base.gazetteer + ("zorblax" -> "ALIEN")),
      pagesOf("<p>zorblax works for acme corp . james brown married zorblax in springfield .</p>"))
  }

  /** The featurize errors counted on the session's counter while `run` runs. */
  private def errorsDuring(run: => Unit): Long = {
    val errors = graft.Counters(spark, "graft.kg.featurize_errors")
    val before = errors.value
    run
    errors.value - before
  }

  test("extractTriples returns no rows, in dedupTriples' schema, when no pair links or no page comes") {
    import spark.implicits._
    // two surfaces the gazetteer knows and the entity dictionary does not:
    // their pairs score, and none links
    val base = Pipeline.buildBundle()
    val b = base.copy(gazetteer = base.gazetteer + ("zorblax" -> "PERSON") + ("quuxton" -> "ORGANIZATION"))
    val unlinked = pagesOf("<p>zorblax works for quuxton . zorblax is the chief executive of quuxton .</p>")
    assert(Pipeline.scorePages(spark, unlinked, spark.sparkContext.broadcast(b)).count() > 0L)
    for (pages <- Seq(unlinked, spark.emptyDataset[Page])) {
      val df = Pipeline.extractTriples(spark, pages, bundle = Some(b))
      assert(df.schema.toDDL ===
        "subject_id STRING,relation STRING,object_id STRING,confidence DOUBLE,support BIGINT NOT NULL")
      assert(df.collect().isEmpty)
    }
  }

  test("extractTriples counts featurize errors on graft.kg.featurize_errors as scorePages does") {
    val (b, pages) = alienPages()
    val viaScore = errorsDuring(Pipeline.scorePages(spark, pages, spark.sparkContext.broadcast(b)).collect())
    val viaExtract = errorsDuring(Pipeline.extractTriples(spark, pages, bundle = Some(b)).collect())
    assert(viaScore > 0L)
    assert(viaExtract === viaScore)
  }

  /** The columns of a linked row, in `linkBroadcast`'s order. */
  private val linkedColumns = Seq("objectSurface", "objectNer", "subjectSurface", "subjectNer",
    "url", "sentIdx", "relation", "confidence", "subject_id", "object_id")

  /** Every linked row in full, the confidence as its raw bits, sorted. */
  private def linkedRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.select(linkedColumns.map(org.apache.spark.sql.functions.col): _*).collect().map { r =>
      linkedColumns.indices.map(i =>
        if (linkedColumns(i) == "confidence")
          java.lang.Double.doubleToRawLongBits(r.getDouble(i)).toString
        else String.valueOf(r.get(i)))
    }.toSeq.sortBy(_.mkString("\t"))

  test("linkBroadcast equals linkSalted row for row: every column, raw confidence bits") {
    val pages = Pipeline.generatePages(spark, 300)
    val scored = Pipeline.scorePages(spark, pages,
      spark.sparkContext.broadcast(Pipeline.buildBundle()))
    val dict = Pipeline.entityDict(spark)
    val rows = linkedRows(Pipeline.linkBroadcast(scored, dict))
    assert(linkedRows(Pipeline.linkSalted(scored, dict)) === rows)
    // both an ambiguous (surface, ner) and the Zipf-hot key got linked
    val ambiguous = Gen.entityDictionary.groupBy(r => (r.surface, r.ner))
      .collect { case (k, rs) if rs.size > 1 => k }.toSet
    val linkedKeys = rows.flatMap(r => Seq((r(0), r(1)), (r(2), r(3)))).toSet
    assert((linkedKeys & ambiguous).nonEmpty, s"no ambiguous surface among $linkedKeys")
    assert(linkedKeys.exists(_._1 == "united states"), "the Zipf-hot key is not linked")
  }

  test("linkBroadcast keeps its output schema") {
    val scored = Pipeline.scorePages(spark, Pipeline.generatePages(spark, 10),
      spark.sparkContext.broadcast(Pipeline.buildBundle()))
    assert(Pipeline.linkBroadcast(scored, Pipeline.entityDict(spark)).schema.toDDL ===
      "objectSurface STRING,objectNer STRING,subjectSurface STRING,subjectNer STRING," +
        "url STRING,sentIdx INT NOT NULL,relation STRING,confidence DOUBLE NOT NULL," +
        "subject_id STRING,object_id STRING")
  }

  test("runCheckpointed reports the featurize errors scorePages counts") {
    val (b, alien) = alienPages()
    // plus generated pages, so that some rows link and the raw table is
    // not empty
    val pages = alien.union(Pipeline.generatePages(spark, 20))
    val viaScore = errorsDuring(Pipeline.scorePages(spark, pages, spark.sparkContext.broadcast(b)).collect())
    val dir = Files.createTempDirectory("graft-ckpt-errors").toString
    try {
      val report = Pipeline.runCheckpointed(spark, pages, dir, buckets = 4, bundle = Some(b))
      assert(report.errors > 0L)
      assert(report.errors === viaScore)
    } finally Lineage.deleteRecursively(dir)
  }

  test("runCheckpointed over pages that link no row: 0 triples, 0 nodes, scorePages' errors") {
    // every pair fails, so stage 1 writes no row
    val (b, pages) = alienPages()
    val viaScore = errorsDuring(Pipeline.scorePages(spark, pages, spark.sparkContext.broadcast(b)).collect())
    assert(viaScore > 0L)
    val dir = Files.createTempDirectory("graft-ckpt-empty").toString
    try {
      val report = Pipeline.runCheckpointed(spark, pages, dir, buckets = 4, bundle = Some(b))
      assert((report.triples, report.nodes, report.errors) === ((0L, 0L, viaScore)))
    } finally Lineage.deleteRecursively(dir)
  }

  test("hot-key skew exists by construction (united states is Zipf-hot)") {
    val pages = Pipeline.generatePages(spark, 120)
    val bundle = spark.sparkContext.broadcast(Pipeline.buildBundle())
    val scored = Pipeline.scorePages(spark, pages, bundle)
    val byObj = scored.groupBy("objectSurface").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hot = byObj.getOrElse("united states", 0L) + byObj.getOrElse("the united states", 0L)
    val coldCountries = Seq("freedonia", "sylvania", "latveria", "genosha", "wakanda")
      .map(byObj.getOrElse(_, 0L))
    assert(hot > coldCountries.max * 3, s"hot=$hot cold=$coldCountries")
  }

  test("checkpointed run resumes: second invocation processes zero buckets") {
    val dir = Files.createTempDirectory("graft-ckpt").toString
    try {
      val pages = Pipeline.generatePages(spark, 60)
      val r1 = Pipeline.runCheckpointed(spark, pages, dir, buckets = 8)
      assert(r1.bucketsProcessed.size === 8)
      assert(r1.triples > 0)
      val r2 = Pipeline.runCheckpointed(spark, pages, dir, buckets = 8)
      assert(r2.bucketsProcessed.isEmpty)
      assert(r2.bucketsSkipped.size === 8)
      assert(r2.triples === r1.triples)
    } finally Lineage.deleteRecursively(dir)
  }

  test("maxBucketsPerRun: partial run commits buckets but defers the graph; " +
      "resume completes bit-identically") {
    val dir = Files.createTempDirectory("graft-partial-knob").toString
    val fullDir = Files.createTempDirectory("graft-full-knob").toString
    try {
      val pages = Pipeline.generatePages(spark, 60)
      val full = Pipeline.runCheckpointed(spark, pages, fullDir, buckets = 8)
      // "crash" after half the buckets commit
      val half = Pipeline.runCheckpointed(spark, pages, dir, buckets = 8, maxBucketsPerRun = 4)
      assert(half.bucketsProcessed.size === 4)
      assert(half.triples === -1L && half.nodes === -1L,
        "partial run must not publish a graph snapshot")
      assert(Lineage.snapshots(dir, "edges").isEmpty)
      val committed = bucketFiles(dir, half.bucketsProcessed)
      assert(committed.nonEmpty)
      // restart: exactly the remainder runs, final graph equals uninterrupted
      val resumed = Pipeline.runCheckpointed(spark, pages, dir, buckets = 8)
      assert(resumed.bucketsSkipped.toSet === half.bucketsProcessed.toSet)
      assert(resumed.bucketsProcessed.toSet ===
        (0 until 8).toSet -- half.bucketsProcessed.toSet)
      assert(bucketFiles(dir, half.bucketsProcessed) === committed,
        "the committed buckets' files must be pruned from the resume, not rewritten")
      assert(resumed.triples === full.triples)
      assert(resumed.nodes === full.nodes)
      assert(tripleSet(Lineage.readTable(spark, dir, "edges")) ===
        tripleSet(Lineage.readTable(spark, fullDir, "edges")))
      assert(nodeSet(Lineage.readTable(spark, dir, "nodes")) ===
        nodeSet(Lineage.readTable(spark, fullDir, "nodes")))
    } finally { Lineage.deleteRecursively(dir); Lineage.deleteRecursively(fullDir) }
  }

  test("checkpointed run resumes after partial failure: only missing buckets rerun") {
    val dir = Files.createTempDirectory("graft-partial").toString
    val fullDir = Files.createTempDirectory("graft-full").toString
    try {
      val pages = Pipeline.generatePages(spark, 60)
      val full = Pipeline.runCheckpointed(spark, pages, fullDir, buckets = 8)
      Pipeline.runCheckpointed(spark, pages, dir, buckets = 8)
      // simulate a failed run: drop manifest records + data for buckets 5..7
      val keep = Lineage.read(dir, "triples_raw").filter(_.bucket < 5)
      Lineage.clear(dir, "triples_raw")
      Lineage.append(dir, "triples_raw", keep)
      (5 until 8).foreach(b => Lineage.deleteRecursively(s"$dir/triples_raw/bucket=$b"))
      val resumed = Pipeline.runCheckpointed(spark, pages, dir, buckets = 8)
      assert(resumed.bucketsProcessed === Seq(5, 6, 7))
      assert(resumed.triples === full.triples)
      val edges = tripleSet(Lineage.readTable(spark, dir, "edges"))
      val expected = tripleSet(Lineage.readTable(spark, fullDir, "edges"))
      assert(edges === expected)
    } finally { Lineage.deleteRecursively(dir); Lineage.deleteRecursively(fullDir) }
  }

  test("lineage manifest records per-bucket row counts; snapshots advance per commit") {
    val dir = Files.createTempDirectory("graft-lineage").toString
    try {
      val pages = Pipeline.generatePages(spark, 40)
      val r = Pipeline.runCheckpointed(spark, pages, dir, buckets = 4)
      val recs = Lineage.read(dir, "triples_raw")
      assert(recs.map(_.bucket).sorted === Seq(0, 1, 2, 3))
      val rawCount = spark.read.parquet(s"$dir/triples_raw").count()
      assert(recs.map(_.rowsOut).sum === rawCount)
      // Iceberg-style snapshots: edges/nodes committed as snapshot 0
      assert(Lineage.snapshots(dir, "edges") === Some(0))
      assert(Lineage.snapshots(dir, "nodes") === Some(0))
      val snap = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_manifest", "edges.snapshot-0.json")), "UTF-8")
      assert(snap.contains(s""""rows":${r.triples}"""))
      assert(snap.contains(".parquet"))
      // a second commit advances the snapshot id; BOTH snapshots stay
      // readable (copy-on-write time travel), and current == latest
      Pipeline.runCheckpointed(spark, pages, dir, buckets = 4)
      assert(Lineage.snapshots(dir, "edges") === Some(1))
      val snap0 = tripleSet(Lineage.readSnapshot(spark, dir, "edges", 0))
      val snap1 = tripleSet(Lineage.readSnapshot(spark, dir, "edges", 1))
      val current = tripleSet(Lineage.readTable(spark, dir, "edges"))
      assert(snap0 === snap1) // same input corpus → same graph
      assert(current === snap1)
      assert(snap0.nonEmpty)
    } finally Lineage.deleteRecursively(dir)
  }

  test("snapshot time travel: an overwritten table's history stays readable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-tt").toString
    try {
      // commit 1: three rows
      val id0 = Lineage.nextSnapshotId(dir, "t")
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
        .write.parquet(Lineage.snapshotDataDir(dir, "t", id0))
      Lineage.writeSnapshot(dir, "t", 3, id0)
      // commit 2: different content
      val id1 = Lineage.nextSnapshotId(dir, "t")
      Seq((9L, "z")).toDF("k", "v")
        .write.parquet(Lineage.snapshotDataDir(dir, "t", id1))
      Lineage.writeSnapshot(dir, "t", 1, id1)
      assert(id0 === 0 && id1 === 1)
      val s0 = Lineage.readSnapshot(spark, dir, "t", 0)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val s1 = Lineage.readTable(spark, dir, "t")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(s0 === Set((1L, "a"), (2L, "b"), (3L, "c")))
      assert(s1 === Set((9L, "z")))
      assertThrows[IllegalArgumentException](Lineage.snapshotFiles(dir, "t", 7))
    } finally Lineage.deleteRecursively(dir)
  }

  test("pages TABLE at rest (input-hint shape) → identical triples as in-memory corpus") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-pages-table").toString
    try {
      // write the pages table with ALL input-hint columns populated
      Pipeline.generatePages(spark, 50, withText = true)
        .write.mode("overwrite").parquet(dir)
      val onDisk = spark.read.parquet(dir)
      assert(onDisk.schema.fieldNames.toSet ===
        Set("url", "warc_ts", "html", "text", "lang"))
      val fromTable = tripleSet(Pipeline.extractTriples(spark, onDisk.as[Page]))
      val fromMemory = tripleSet(Pipeline.extractTriples(spark, Pipeline.generatePages(spark, 50)))
      assert(fromTable === fromMemory)
      // the scan is pruned: scoring consumes only url+html
      val plan = Pipeline.scorePages(spark, onDisk.as[Page],
        spark.sparkContext.broadcast(Pipeline.buildBundle()))
        .queryExecution.executedPlan.toString
      val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(plan).map(_.group(1))
      assert(read.exists(s => s.contains("url") && s.contains("html") && !s.contains("text")),
        s"pages scan must prune to url+html: $read\n$plan")
    } finally Lineage.deleteRecursively(dir)
  }

  test("streaming KG construction emits exactly the batch pipeline's triples") {
    val dir = Files.createTempDirectory("graft-stream-eq").toString
    try {
      Pipeline.generatePages(spark, 80, withText = true)
        .write.mode("overwrite").parquet(dir)
      val streamed = tripleSet(
        graft.ops.Streaming.streamingKgTriples(spark, dir, Pipeline.buildBundle()))
      val batch = tripleSet(
        Pipeline.extractTriples(spark, Pipeline.generatePages(spark, 80)))
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally Lineage.deleteRecursively(dir)
  }

  test("rate-limited stream (maxFilesPerTrigger=1) runs REAL multi-batch; triples unchanged") {
    // the micro-batch-boundary-independence claim at actual boundaries:
    // 6 source files × maxFilesPerTrigger=1 → ≥ 6 micro-batches through the
    // scoring + linking + append path, then the batch dedup compaction must
    // still emit exactly the batch pipeline's triple set
    val dir = Files.createTempDirectory("graft-stream-multibatch").toString
    try {
      Pipeline.generatePages(spark, 80, withText = true).repartition(6)
        .write.mode("overwrite").parquet(dir)
      val batches = new java.util.concurrent.atomic.AtomicInteger(0)
      val streamed = tripleSet(graft.ops.Streaming.streamingKgTriples(
        spark, dir, Pipeline.buildBundle(),
        maxFilesPerTrigger = 1, batchCounter = Some(batches)))
      assert(batches.get() >= 3,
        s"rate limit must force multiple micro-batches, got ${batches.get()}")
      val batch = tripleSet(
        Pipeline.extractTriples(spark, Pipeline.generatePages(spark, 80)))
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally Lineage.deleteRecursively(dir)
  }

  test("rate-limited streaming dedup carries state across micro-batches") {
    val dir = Files.createTempDirectory("graft-stream-dedup-multibatch").toString
    try {
      // duplicates deliberately SPREAD across files so dedup state must
      // survive batch boundaries for the result to equal SELECT DISTINCT
      spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .repartition(5).write.mode("overwrite").parquet(dir)
      val exact = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("user_id", "event_type").distinct()
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      // 1 = one file per micro-batch; 0 = no rate limit (all files at once)
      Seq(1, 0).foreach { limit =>
        val batches = new java.util.concurrent.atomic.AtomicInteger(0)
        val streamed = graft.ops.Streaming.streamingDedup(spark, dir,
          maxFilesPerTrigger = limit, batchCounter = Some(batches))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSet
        if (limit == 1) assert(batches.get() >= 3,
          s"rate limit must force multiple micro-batches, got ${batches.get()}")
        assert(streamed === exact, s"maxFilesPerTrigger = $limit")
      }
    } finally Lineage.deleteRecursively(dir)
  }

  test("rate-limited windowed agg: append-mode watermark eviction across " +
      "micro-batches equals the batch aggregation with BOUNDED state") {
    import org.apache.spark.sql.functions._
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-stream-win-multibatch").toString
    try {
      // time-ordered 5-file split (bounded disorder — the watermark
      // contract): each file covers a contiguous ts range; strictly
      // increasing mod-times make the file source replay the stream in
      // event-time order, so append mode's late-data rule drops nothing
      spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .repartitionByRange(5, col("ts")).sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(dir)
      val parts = {
        val s = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
        try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
          .toSeq.sortBy(_.getFileName.toString)
        finally s.close()
      }
      assert(parts.size == 5)
      val base = java.nio.file.Files.getLastModifiedTime(parts.head).toMillis
      def setModTimes(order: Seq[Int]): Unit = parts.zip(order).foreach { case (f, i) =>
        java.nio.file.Files.setLastModifiedTime(f,
          java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
      }
      val exact = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.get(0).toString + "/" + r.getString(1), r.getLong(2))).toMap
      // (file replay order by mod-time, maxFilesPerTrigger): time-ordered
      // one and two files per batch, and shuffled mod-times with no rate
      // limit, where every file must land in the first batch or the late
      // ones would be dropped below the watermark
      Seq((0 until 5, 1), (0 until 5, 2), (Seq(3, 0, 4, 1, 2), 0)).foreach {
        case (order, limit) =>
          setModTimes(order)
          val batches = new java.util.concurrent.atomic.AtomicInteger(0)
          val maxState = new java.util.concurrent.atomic.AtomicLong(0)
          val streamed = graft.ops.Streaming.windowedEventCounts(spark, dir,
            maxFilesPerTrigger = limit, batchCounter = Some(batches),
            stateRowsMax = Some(maxState))
            .collect().map(r => (r.get(0).toString + "/" + r.getString(1), r.getLong(2))).toMap
          assert(batches.get() >= 3,
            s"data, drain and no-data batches must all run, got ${batches.get()}")
          assert(streamed === exact, s"mod-time order $order, maxFilesPerTrigger = $limit")
          if (limit == 1) {
            // the point of append mode: finalized windows are EVICTED, so
            // peak state is far below the total window count (complete mode
            // would retain every window ever opened = exact.size rows)
            assert(maxState.get() > 0, "state metrics must be observed")
            assert(maxState.get() < exact.size / 2,
              s"state must stay bounded by eviction: peak ${maxState.get()} vs ${exact.size} total windows")
          }
      }
    } finally Lineage.deleteRecursively(dir)
  }

  test("streaming ops restore the session's shuffle width and no-data flag " +
      "and leave no temp dirs, after a run and after a failed run") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-conf").toString
    val shuffleKey = "spark.sql.shuffle.partitions"
    val noDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = (spark.conf.get(shuffleKey), spark.conf.get(noDataKey))
    // the staging and sink dirs the ops create under java.io.tmpdir
    def tempDirs(): Set[String] = {
      val s = Files.list(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("stream_src") || n.startsWith("graft-stream")).toSet
      finally s.close()
    }
    try {
      val events = s"${GoldenQueries.sfDir}/events.parquet"
      // the failing sources lack a column the op reads
      spark.read.parquet(events).drop("value", "user_id")
        .write.mode("overwrite").parquet(s"$dir/bad_events")
      val pages = Pipeline.generatePages(spark, 20, withText = true)
      pages.write.mode("overwrite").parquet(s"$dir/pages")
      pages.drop("html").write.mode("overwrite").parquet(s"$dir/bad_pages")
      spark.conf.set(shuffleKey, "7")
      spark.conf.set(noDataKey, "false")
      val ops: Seq[(String, String, String, String => Long)] = Seq(
        ("windowedEventCounts", events, s"$dir/bad_events",
          p => graft.ops.Streaming.windowedEventCounts(spark, p).count()),
        ("streamingDedup", events, s"$dir/bad_events",
          p => graft.ops.Streaming.streamingDedup(spark, p).count()),
        ("streamingKgTriples", s"$dir/pages", s"$dir/bad_pages",
          p => graft.ops.Streaming.streamingKgTriples(spark, p, Pipeline.buildBundle()).count()))
      ops.foreach { case (name, good, bad, run) =>
        val before = tempDirs()
        assert(run(good) > 0, name)
        assert((spark.conf.get(shuffleKey), spark.conf.get(noDataKey)) === (("7", "false")),
          s"$name left the session conf changed after a run")
        assert(tempDirs() === before, s"$name left temp dirs after a run")
        intercept[Exception](run(bad))
        assert((spark.conf.get(shuffleKey), spark.conf.get(noDataKey)) === (("7", "false")),
          s"$name left the session conf changed after a failed run")
        assert(tempDirs() === before, s"$name left temp dirs after a failed run")
      }
    } finally {
      spark.conf.set(shuffleKey, prev._1)
      spark.conf.set(noDataKey, prev._2)
      Lineage.deleteRecursively(dir)
    }
  }

  test("windowed agg edge cases: empty source -> typed empty result; " +
      "single event -> drain flushes the one (trailing) window") {
    val dir = Files.createTempDirectory("graft-stream-edge").toString
    try {
      val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      // empty source: zero micro-batches, nothing to drain — must return
      // the empty TYPED frame, not throw (the old memory-sink behavior)
      events.limit(0).write.mode("overwrite").parquet(s"$dir/empty")
      val empty = graft.ops.Streaming.windowedEventCounts(spark, s"$dir/empty")
      assert(empty.columns.toSeq ===
        Seq("window_start", "event_type", "n", "total_value"))
      assert(empty.count() === 0L)
      // single event: its window is open at end-of-data (watermark never
      // passes it) — ONLY the sentinel drain can flush it
      events.orderBy("event_id").limit(1).write.mode("overwrite").parquet(s"$dir/one")
      val one = graft.ops.Streaming.windowedEventCounts(spark, s"$dir/one").collect()
      assert(one.length === 1)
      assert(one(0).getLong(2) === 1L)
    } finally Lineage.deleteRecursively(dir)
  }

  test("triple P/R vs frozen reference extractions >= 0.95 (BASELINE gate)") {
    val goldenPath = getClass.getResource("/golden_triples.tsv")
    assume(goldenPath != null, "golden fixture not yet generated — run graft.kg.GoldenGen")
    val golden = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/golden_triples.tsv"), "UTF-8")
      .getLines().filter(_.nonEmpty).map { l =>
        val Array(s, r, o) = l.split("\t"); (s, r, o)
      }.toSet
    val got = Pipeline.extractTriples(spark, Pipeline.generatePages(spark, GoldenGen.N_PAGES))
      .select("subject_id", "relation", "object_id").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val tp = (got intersect golden).size.toDouble
    val precision = tp / got.size
    val recall = tp / golden.size
    assert(precision >= 0.95, s"precision $precision")
    assert(recall >= 0.95, s"recall $recall")
  }
}

/** One-time golden fixture generator: freezes the deterministic pipeline's
  * extractions as the "reference" triple set (SURVEY.md §7.3 — the reference
  * repo ships no trained weights, so reference semantics are defined by the
  * frozen fixture scorer at seed 42). */
object GoldenGen {
  val N_PAGES = 200L
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false").getOrCreate()
    val triples = Pipeline.extractTriples(spark, Pipeline.generatePages(spark, N_PAGES))
      .select("subject_id", "relation", "object_id").collect()
      .map(r => s"${r.getString(0)}\t${r.getString(1)}\t${r.getString(2)}")
      .sorted
    val out = java.nio.file.Paths.get("src/test/resources/golden_triples.tsv")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out, triples.mkString("\n").getBytes("UTF-8"))
    println(s"wrote ${triples.length} golden triples to $out")
    spark.stop()
  }
}
