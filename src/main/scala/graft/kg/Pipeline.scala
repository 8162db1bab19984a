package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.execution.{ColumnarToRowExec, SparkPlan, WholeStageCodegenExec}

/**
 * End-to-end KG-construction pipeline (north rule): pages → extract →
 * segment → mention-detect → featurize → score → link → dedup → graph.
 *
 * Scale design (SURVEY.md §7.3):
 *  - pages flow through ONE fused narrow `mapPartitions` stage (extract
 *    through score, one [[PageScorer]] per task) — zero shuffles until
 *    dedup. The reference's length-bucketed batching (kbp.py:22-33) exists
 *    only to rectangularize Theano tensors; the JVM kernel scores each
 *    sequence independently with identical no-padding math, so no
 *    repartition-by-length is needed at all — one less shuffle at 100 TB.
 *  - the entity dictionary (J5) is a broadcast side input: dictionary ≪
 *    corpus always. Every unsalted path links inside the fused stage, where
 *    each task's [[TripleCombiner]] looks both surfaces up in a broadcast
 *    (surface, ner) → ids map, rather than through two broadcast joins and
 *    an encode of every scored pair. Only the salted shuffle-join variant
 *    (`salted=true`, the dictionary-too-big-to-broadcast regime, with
 *    explicit hot-key salting) plans joins.
 *  - dedup (A9) is the single unavoidable wide shuffle. In
 *    [[extractTriples]] the map side is the combiner's one (max, count)
 *    partial per triple and task, and one hash shuffle merges the partials
 *    with [[TripleCombiner.merge]] on its reduce side, with no Catalyst
 *    aggregate and no second map-side combine; [[dedupTriples]] over linked rows gets its partial
 *    aggregation (map-side combine) from groupBy().agg(max, count).
 */
object Pipeline {

  /** Everything the scoring kernel needs, broadcast once per job. */
  final case class ScoringBundle(
      word: VocabView, ner: VocabView, rel: VocabView,
      gazetteer: Map[String, String],
      weights: ScorerWeights, typechecker: TypeChecker, scope: Int,
      pos: VocabView, dep: VocabView) extends Serializable {
    /** Frozen lookup vocabs rebuilt from the broadcast views (for code
      * paths that need the reference's Vocab API, e.g. featurizers —
      * including the pos/arc channels of the concat featurizer, which a
      * bundle without pos/dep views silently starved: every concat
      * featurization missed the empty dep vocab and was skipped). */
    def toVocabSet: VocabSet = {
      val v = new VocabSet
      rel.index2word.foreach(v.rel.add(_))
      ner.index2word.foreach(v.ner.add(_))
      word.index2word.foreach(v.word.add(_))
      pos.index2word.foreach(v.pos.add(_)) // "." already present as unk
      dep.index2word.foreach(v.dep.add(_))
      v
    }
  }

  /** Driver-side deterministic construction of all side inputs (S6/S7 +
    * gazetteer): frozen vocab, fixture weights, typecheck tensor, unlimited
    * scope. */
  def buildBundle(): ScoringBundle = {
    val vocabs = Gen.buildVocabs()
    val typechecker = TypeChecker.fromRows(Gen.typecheckRows, vocabs)
    val word = vocabs.word.view
    val weights = ScorerWeights.fixture(
      vocabSize = word.size, relSize = vocabs.rel.size)
    ScoringBundle(word, vocabs.ner.view, vocabs.rel.view,
      Gen.gazetteer, weights, typechecker, scope = -1,
      vocabs.pos.view, vocabs.dep.view)
  }

  /** Synthetic pages corpus, generated fully distributed (no driver data).
    * Partition count defaults to the session's parallelism; pass
    * `partitions` explicitly to size tasks (no shuffle either way — page i
    * is a pure function of (seed, i)). */
  def generatePages(spark: SparkSession, n: Long, seed: Long = 42L,
      partitions: Int = 0, withText: Boolean = false): Dataset[Page] = {
    import spark.implicits._
    val range = if (partitions > 0) spark.range(0L, n, 1L, partitions) else spark.range(n)
    range.map(i => Gen.page(seed, i, withText))
  }

  /**
   * The fused narrow stage: Page → scored relation candidates, consuming
   * ONLY (url, html) — Catalyst prunes every other pages column at the
   * scan, and the north-rule HTML→text extraction runs as a true pipeline
   * stage in this kernel (byte-identical per url, golden-tested). Each task
   * builds one [[PageScorer]] (the whole kernel: extraction through P15
   * `no_relation` suppression, with reusable per-task buffers and the
   * scoring memo) and streams its partition through it. Featurize failures
   * follow the 'ignore' policy (P14, kbp.py:69-70), counted as the error
   * channel on the session's `graft.kg.featurize_errors` counter.
   */
  def scorePages(spark: SparkSession, pages: Dataset[Page],
      bundleBc: Broadcast[ScoringBundle]): Dataset[ScoredPair] = {
    import spark.implicits._
    val errorCount = graft.Counters(spark, "graft.kg.featurize_errors")
    pageColumns(pages).as[(String, Array[Byte])].mapPartitions { it =>
      val kernel = new PageScorer(bundleBc.value, () => errorCount.add(1))
      it.flatMap { case (url, html) => kernel.score(url, html) }
    }
  }

  /** The only columns of `pages` the fused stage reads. */
  private[kg] def pageColumns(pages: Dataset[Page]): DataFrame = pages.select(col("url"), col("html"))

  /** Entity dictionary as a DataFrame (J5 small side). */
  def entityDict(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Gen.entityDictionary.toDF()
  }

  /**
   * J5 entity linking: canonicalize both mention surfaces against the
   * entity dictionary, the small side at any corpus scale, collected into
   * one broadcast (surface, ner) → ids map. Each task's [[TripleCombiner]]
   * emits one [[LinkedPair]] row per (subject id, object id), with the
   * inner join's meaning; over [[scorePages]] it runs in the kernel's stage.
   */
  def linkBroadcast(scored: Dataset[ScoredPair], dict: DataFrame): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val idsBc = spark.sparkContext.broadcast(
      TripleCombiner.dictionary(dict.as[EntityRecord].collect().toSeq))
    scored.mapPartitions(it => new TripleCombiner(idsBc.value).link(it)).toDF()
  }

  /** How many reducers [[linkSalted]] spreads one hot surface over. */
  private val SaltBuckets = 8

  /**
   * J5 fallback for a dictionary too big to broadcast: shuffle join with
   * EXPLICIT salting — the dict side is exploded ×[[SaltBuckets]], the big
   * side gets a deterministic per-row salt, so a Zipf-hot surface
   * ("united states") spreads over [[SaltBuckets]] reducers instead of one.
   * AQE skew-join handles moderate skew on its own; this is the
   * belt-and-braces path for pathological keys (SURVEY.md §7.7.5).
   */
  def linkSalted(scored: Dataset[ScoredPair], dict: DataFrame): DataFrame = {
    val salts = explode(sequence(lit(0), lit(SaltBuckets - 1))).as("salt")
    val subjDict = dict.select(
      col("surface").as("subjectSurface"), col("ner").as("subjectNer"),
      col("entityId").as("subject_id"), salts)
    val objDict = dict.select(
      col("surface").as("objectSurface"), col("ner").as("objectNer"),
      col("entityId").as("object_id"), salts)
    val withSalt = scored.toDF()
      .withColumn("salt", pmod(xxhash64(col("url"), col("sentIdx")), lit(SaltBuckets)).cast("int"))
    withSalt
      .hint("shuffle_merge")
      .join(subjDict, Seq("subjectSurface", "subjectNer", "salt"))
      .join(objDict.hint("shuffle_merge"), Seq("objectSurface", "objectNer", "salt"))
      .drop("salt")
  }

  /** A9 triple dedup: one triple per (subj, pred, obj), max confidence +
    * supporting-sentence count. Partial aggregation map-side for free. */
  def dedupTriples(linked: DataFrame): DataFrame =
    linked.groupBy(col("subject_id"), col("relation"), col("object_id"))
      .agg(max(col("confidence")).as("confidence"), count(lit(1)).as("support"))

  /** A10 node table: distinct entity ids with NER type. */
  def nodes(linked: DataFrame): DataFrame =
    linked.select(col("subject_id").as("node_id"), col("subjectNer").as("ner"))
      .unionByName(linked.select(col("object_id").as("node_id"), col("objectNer").as("ner")))
      .distinct()

  /** The `triples_raw` table [[runCheckpointed]] writes, partitioned on
    * `bucket`. Reads name it, since a run that links no row leaves no file
    * to infer it from. */
  private val RawSchema = StructType.fromDDL("bucket INT, subject_id STRING, relation STRING, " +
    "object_id STRING, confidence DOUBLE, subjectNer STRING, objectNer STRING, url STRING, sentIdx INT")

  final case class RunReport(bucketsProcessed: Seq[Int], bucketsSkipped: Seq[Int],
      triples: Long, nodes: Long, errors: Long)

  /**
   * Checkpointed end-to-end run with per-partition lineage (§7.5).
   * Stage 1 (extract→score→link; all the compute) is resumable at url-hash
   * bucket granularity; stage 2 (dedup + graph materialize — the one wide
   * shuffle) reruns over the full raw-triple table, which is tiny relative
   * to the page corpus.
   *
   * `maxBucketsPerRun` bounds how many uncommitted buckets ONE invocation
   * processes (the incremental-commit production knob; also how
   * PipelineSpec simulates a mid-job crash: process half, die, resume). A
   * PARTIAL run commits its buckets to the lineage log and returns with
   * `triples = nodes = -1` WITHOUT materializing a graph snapshot — the
   * graph is only published when stage 1 is complete, so readers never see
   * a half-corpus graph. The next invocation sees the committed buckets in
   * the lineage log, prunes them from the page scan, and processes only
   * the remainder.
   */
  def runCheckpointed(spark: SparkSession, pages: Dataset[Page], outDir: String,
      buckets: Int = 32, salted: Boolean = false,
      bundle: Option[ScoringBundle] = None,
      maxBucketsPerRun: Int = Int.MaxValue): RunReport = {
    import spark.implicits._
    val bundleBc = spark.sparkContext.broadcast(bundle.getOrElse(buildBundle()))
    val errorCount = graft.Counters(spark, "graft.kg.featurize_errors")
    val errorsBefore = errorCount.value
    def errors = errorCount.value - errorsBefore
    def readRaw() = spark.read.schema(RawSchema).parquet(s"$outDir/triples_raw")

    val done = Lineage.doneBuckets(outDir, "triples_raw")
    val withBucket = pages.withColumn("bucket", pmod(xxhash64(col("url")), lit(buckets)).cast("int"))
    val (remainingBuckets, leftOver) =
      (0 until buckets).filterNot(done).splitAt(math.max(1, maxBucketsPerRun))

    if (remainingBuckets.nonEmpty) {
      val remaining = withBucket
        .filter(col("bucket").isInCollection(remainingBuckets))
        .drop("bucket").as[Page]
      val scored = scorePages(spark, remaining, bundleBc)
      val dict = entityDict(spark)
      val linked = (if (salted) linkSalted(scored, dict) else linkBroadcast(scored, dict))
        .withColumn("bucket", pmod(xxhash64(col("url")), lit(buckets)).cast("int"))
        .select(RawSchema.fieldNames.map(col).toIndexedSeq: _*)
      linked.write.mode("append").partitionBy("bucket").parquet(s"$outDir/triples_raw")

      val written = readRaw()
        .filter(col("bucket").isInCollection(remainingBuckets))
        .groupBy("bucket").count().as[(Int, Long)].collect().toMap
      Lineage.append(outDir, "triples_raw",
        remainingBuckets.map(bkt => Lineage.BucketRecord(bkt, written.getOrElse(bkt, 0L), 0L)))
    }
    if (leftOver.nonEmpty) // partial run: buckets committed, graph deferred
      return RunReport(remainingBuckets, done.toSeq.sorted, -1L, -1L, errors)

    val raw = readRaw()
    // graph materialize: copy-on-write snapshot commit — data files land in
    // an immutable snap-<id>/ dir, the manifest records them, and every
    // prior snapshot stays readable (Lineage.readSnapshot time travel)
    val edgeSnap = Lineage.nextSnapshotId(outDir, "edges")
    val nodeSnap = Lineage.nextSnapshotId(outDir, "nodes")
    dedupTriples(raw).write.mode("overwrite")
      .parquet(Lineage.snapshotDataDir(outDir, "edges", edgeSnap))
    nodes(raw).write.mode("overwrite")
      .parquet(Lineage.snapshotDataDir(outDir, "nodes", nodeSnap))
    val nTriples = spark.read
      .parquet(Lineage.snapshotDataDir(outDir, "edges", edgeSnap)).count()
    val nNodes = spark.read
      .parquet(Lineage.snapshotDataDir(outDir, "nodes", nodeSnap)).count()
    Lineage.append(outDir, "graph", Seq(Lineage.BucketRecord(-1, nTriples, errors)))
    Lineage.writeSnapshot(outDir, "edges", nTriples, edgeSnap)
    Lineage.writeSnapshot(outDir, "nodes", nNodes, nodeSnap)
    RunReport(remainingBuckets, done.toSeq.sorted, nTriples, nNodes, errors)
  }

  /** A row of [[dedupTriples]] over linked rows, whose schema the unsalted
    * [[extractTriples]] keeps: `confidence` is boxed because that column is
    * nullable there. The merged triples leave the shuffle through this
    * class's encoder, inside the result's whole-stage code; `Row`s with a
    * schema needed a generic Row serializer on top, a class of its own
    * that a fresh session compiled inside a reduce task while the other
    * reduce tasks waited. */
  final case class TripleRow(subject_id: String, relation: String, object_id: String,
      confidence: java.lang.Double, support: Long)

  /** Each page's (url, html), read off `pages`' plan with no per-row
    * decode. A plan that is a columnar scan of just those two columns
    * under its row conversion (a parquet or ORC table) is read straight off
    * the scan's column batches: no row conversion copies each page, and a
    * fresh session compiles and warms no row-conversion class. Any other
    * plan is read off its rows. */
  private[kg] def pageRecords(pages: Dataset[Page]): RDD[(String, Array[Byte])] = {
    val qe = pageColumns(pages).queryExecution
    batchScan(qe.executedPlan) match {
      case Some(s) => s.executeColumnar().mapPartitions(_.flatMap { b =>
          val (url, html) = (b.column(0), b.column(1))
          Iterator.range(0, b.numRows).map(i => (if (url.isNullAt(i)) null else url.getUTF8String(i).toString,
            if (html.isNullAt(i)) null else html.getBinary(i)))
        })
      case None => qe.toRdd.map(r => (if (r.isNullAt(0)) null else r.getUTF8String(0).toString,
          if (r.isNullAt(1)) null else r.getBinary(1)))
    }
  }

  /** The columnar scan of (url, html) under `plan`'s row conversion, if
    * `plan` is just that. */
  private[kg] def batchScan(plan: SparkPlan): Option[SparkPlan] = (plan match {
    case WholeStageCodegenExec(c: ColumnarToRowExec) => Some(c.child)
    case c: ColumnarToRowExec => Some(c.child)
    case _ => None
  }).filter(_.output.map(_.name) == Seq("url", "html"))

  /** One-shot (non-checkpointed) triple extraction for benchmarks/tests:
    * the rows of `dedupTriples(link(scorePages(pages), entityDict))`, in
    * its schema. Unsalted, each task reads (url, html) off `pages`' plan
    * ([[pageRecords]]), with no per-row decode, and runs them through
    * its [[PageScorer]] into a [[TripleCombiner]] over the broadcast
    * dictionary. One hash shuffle on (subject_id, relation, object_id),
    * with min(map tasks, `spark.sql.shuffle.partitions`) reducers, merges
    * the partials with [[TripleCombiner.merge]] on its reduce side: no
    * join, no Catalyst aggregate, and no map-side combine, since each
    * combiner already emits one partial per key and flush. Like `Dataset.rdd`, reading the rows
    * prepares `pages`' plan at call time, so a pages plan with exchanges
    * of its own (a repartition, a join) runs their shuffle stages here;
    * the flagship inputs (a parquet scan, [[generatePages]]) have none.
    * `salted` takes the relational [[linkSalted]] path instead, for a
    * dictionary too big to broadcast. Featurize errors count on
    * `graft.kg.featurize_errors`, as in [[scorePages]]. `bundle` overrides
    * the fixture bundle — the deploy path, where the model comes from a
    * saved experiment (Experiments.load) and optionally a Senna-preloaded
    * embedding table (Pretrain). */
  def extractTriples(spark: SparkSession, pages: Dataset[Page], salted: Boolean = false,
      bundle: Option[ScoringBundle] = None): DataFrame = {
    val bundleBc = spark.sparkContext.broadcast(bundle.getOrElse(buildBundle()))
    if (salted) dedupTriples(linkSalted(scorePages(spark, pages, bundleBc), entityDict(spark)))
    else {
      val idsBc = spark.sparkContext.broadcast(TripleCombiner.dictionary(Gen.entityDictionary))
      val errorCount = graft.Counters(spark, "graft.kg.featurize_errors")
      val rows = pageRecords(pages)
      val partials = rows.mapPartitions { it =>
        val kernel = new PageScorer(bundleBc.value, () => errorCount.add(1))
        new TripleCombiner(idsBc.value).combine(it.flatMap { case (url, html) => kernel.score(url, html) })
      }
      val reducers = math.max(1, math.min(rows.getNumPartitions,
        spark.conf.get(SQLConf.SHUFFLE_PARTITIONS.key).toInt))
      val triples = partials.map(p => ((p.subject_id, p.relation, p.object_id), p))
        .combineByKey(identity[TriplePartial], TripleCombiner.merge, TripleCombiner.merge,
          new HashPartitioner(reducers), mapSideCombine = false)
        .map { case (_, p) => TripleRow(p.subject_id, p.relation, p.object_id, p.confidence, p.support) }
      spark.createDataset(triples)(Encoders.product[TripleRow]).toDF()
    }
  }
}
