package graft.kg

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.broadcast.Broadcast

/**
 * End-to-end KG-construction pipeline (north rule): pages → extract →
 * segment → mention-detect → featurize → score → link → dedup → graph.
 *
 * Scale design (SURVEY.md §7.3):
 *  - pages flow through ONE fused narrow `mapPartitions` stage (extract
 *    through score) — zero shuffles until linking/dedup. The reference's
 *    length-bucketed batching (kbp.py:22-33) exists only to rectangularize
 *    Theano tensors; the JVM kernel scores each sequence independently with
 *    identical no-padding math, so no repartition-by-length is needed at
 *    all — one less shuffle at 100 TB.
 *  - the entity dictionary is broadcast (J5): dictionary ≪ corpus always.
 *    A salted shuffle-join variant exists behind `salted=true` for the
 *    dictionary-too-big-to-broadcast regime, with explicit hot-key salting.
 *  - dedup (A9) is the single unavoidable wide shuffle; partial aggregation
 *    (map-side combine) comes free from groupBy().agg(max, count).
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
    * gazetteer): frozen vocab, fixture weights, typecheck tensor. */
  def buildBundle(seed: Long = 42L, scope: Int = -1): ScoringBundle = {
    val vocabs = Gen.buildVocabs()
    val typechecker = TypeChecker.fromRows(Gen.typecheckRows, vocabs)
    val word = vocabs.word.view
    val weights = ScorerWeights.fixture(
      vocabSize = word.size, relSize = vocabs.rel.size, seed = seed)
    ScoringBundle(word, vocabs.ner.view, vocabs.rel.view,
      Gen.gazetteer, weights, typechecker, scope,
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
   * stage in this kernel (byte-identical per url, golden-tested).
   * P15 (`no_relation` suppression, kbp.py:61-62) applied in-kernel.
   * Featurize failures follow the 'ignore' policy (P14, kbp.py:69-70),
   * counted on an accumulator as the error channel.
   */
  def scorePages(spark: SparkSession, pages: Dataset[Page],
      bundleBc: Broadcast[ScoringBundle],
      errorAcc: Option[org.apache.spark.util.LongAccumulator] = None): Dataset[ScoredPair] = {
    import spark.implicits._
    val errorCount = errorAcc.getOrElse(spark.sparkContext.longAccumulator("featurize_errors"))
    pages
      .select(col("url"), col("html")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        val b = bundleBc.value
        val scorer = new Scorer(b.weights, b.typechecker)
        val gazIndex = new Segment.GazetteerIndex(b.gazetteer) // once per task
        val noRelId = b.rel("no_relation")
        // Boilerplate collapse: after entity blanking + digit zeroing, web
        // sentences repeat heavily (templates, navigation, legal footers),
        // and the raw logits are a PURE function of the blanked sequence —
        // so a bounded per-task exact-match memo skips the LSTM for repeats,
        // mirror pairs (a,b)/(b,a) included; the NER-pair mask and softmax
        // run per pair and only read the cached logits. Output is
        // bit-identical (golden gate + content pins enforce it); a diverse
        // corpus mostly misses the cache. Cleared when full — O(capacity)
        // memory, no eviction bookkeeping on the hot path.
        val memoCap = 1 << 16
        val memo = new java.util.HashMap[SeqKey, Array[Float]](4096)
        it.flatMap { case (url, html) =>
          val text = TextExtract.extract(html) // north-rule extraction stage
          Segment.sentences(text).zipWithIndex.flatMap { case (sent, sentIdx) =>
            // fused tokenize+lowercase pass serves both mention matching
            // and scoring (byte-identical to tokenize + asciiLower)
            val lower = Segment.tokenizeLower(sent)
            val mentions = Segment.detectMentionsIndexed(lower, gazIndex)
            if (mentions.isEmpty) Nil
            else {
              // hoisted per-sentence work: P3 digit zeroing and word-id
              // lookup happen once, not once per candidate pair
              val words = Adaptors.zeroDigits(lower).toIndexedSeq
              val wordIds = words.map(b.word(_))
              Segment.candidatePairs(mentions).flatMap { case (s, o) =>
                try {
                  val (seq, sNer, oNer) = blankedSequence(words, wordIds, s, o, b)
                  val key = new SeqKey(seq)
                  var raw = memo.get(key)
                  if (raw == null) {
                    raw = scorer.logits(seq)
                    if (memo.size >= memoCap) memo.clear()
                    memo.put(key, raw)
                  }
                  val (relId, conf) = scorer.decide(raw, sNer, oNer)
                  if (relId == noRelId) None
                  else Some(ScoredPair(url, sentIdx, s.surface, s.ner, o.surface, o.ner,
                    b.rel.index2word(relId), conf))
                } catch {
                  case _: NoPathException => errorCount.add(1); None
                  case _: NoSuchElementException => errorCount.add(1); None
                }
              }
            }
          }
        }
      }
  }

  /** Memo key for the scoring cache: the blanked, featurized sequence. */
  private final class SeqKey(val seq: Array[Int]) {
    override val hashCode: Int = java.util.Arrays.hashCode(seq)
    override def equals(that: Any): Boolean = that match {
      case k: SeqKey => java.util.Arrays.equals(k.seq, seq)
      case _ => false
    }
  }

  /** Allocation-light sent-model featurization for the fused kernel:
    * identical math to [[SentenceFeaturizer]] (scope applied; overlap
    * rejected; spans blanked to NER-type tokens) over pre-normalized,
    * pre-id-mapped words. One int-array allocation per candidate pair. */
  private[kg] def blankedSequence(words: IndexedSeq[String], wordIds: IndexedSeq[Int],
      s: Mention, o: Mention, b: ScoringBundle): (Array[Int], Int, Int) = {
    def isBetween(x: Int, start: Int, end: Int) = x >= start && x < end
    if (isBetween(s.begin, o.begin, o.end) || isBetween(o.begin, s.begin, s.end))
      throw new NoPathException("overlapping spans")
    val subjFirst = s.begin < o.begin
    val (fBegin, fEnd, fNer) = if (subjFirst) (s.begin, s.end, s.ner) else (o.begin, o.end, o.ner)
    val (sBegin, sEnd, sNer) = if (subjFirst) (o.begin, o.end, o.ner) else (s.begin, s.end, s.ner)
    val fullLen = words.length - (fEnd - fBegin) - (sEnd - sBegin) + 2
    val firstPos = fBegin
    val secondPos = fBegin + 1 + (sBegin - fEnd)
    val (from, until) =
      if (b.scope > 0)
        (math.max(0, firstPos - b.scope), math.min(fullLen, secondPos + b.scope + 1))
      else (0, fullLen)
    val out = new Array[Int](until - from)
    var w = 0 // position in the blanked sequence
    var k = 0 // output cursor
    @inline def emit(id: Int): Unit = { if (w >= from && w < until) { out(k) = id; k += 1 }; w += 1 }
    var i = 0
    while (i < fBegin) { emit(wordIds(i)); i += 1 }
    emit(b.word(fNer))
    i = fEnd
    while (i < sBegin) { emit(wordIds(i)); i += 1 }
    emit(b.word(sNer))
    i = sEnd
    while (i < words.length) { emit(wordIds(i)); i += 1 }
    (out, b.ner(s.ner), b.ner(o.ner))
  }

  /** Entity dictionary as a DataFrame (J5 small side). */
  def entityDict(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Gen.entityDictionary.toDF()
  }

  /**
   * J5 entity linking: canonicalize both mention surfaces against the
   * entity dictionary. Broadcast hash join — the dictionary is the small
   * side by construction at any corpus scale.
   */
  def linkBroadcast(scored: Dataset[ScoredPair], dict: DataFrame): DataFrame = {
    val subjDict = broadcast(dict.select(
      col("surface").as("subjectSurface"), col("ner").as("subjectNer"),
      col("entityId").as("subject_id")))
    val objDict = broadcast(dict.select(
      col("surface").as("objectSurface"), col("ner").as("objectNer"),
      col("entityId").as("object_id")))
    scored.toDF()
      .join(subjDict, Seq("subjectSurface", "subjectNer"))
      .join(objDict, Seq("objectSurface", "objectNer"))
  }

  /**
   * J5 fallback for a dictionary too big to broadcast: shuffle join with
   * EXPLICIT salting — the dict side is exploded ×`saltBuckets`, the big
   * side gets a deterministic per-row salt, so a Zipf-hot surface
   * ("united states") spreads over `saltBuckets` reducers instead of one.
   * AQE skew-join handles moderate skew on its own; this is the
   * belt-and-braces path for pathological keys (SURVEY.md §7.7.5).
   */
  def linkSalted(scored: Dataset[ScoredPair], dict: DataFrame, saltBuckets: Int = 8): DataFrame = {
    val salts = explode(sequence(lit(0), lit(saltBuckets - 1))).as("salt")
    val subjDict = dict.select(
      col("surface").as("subjectSurface"), col("ner").as("subjectNer"),
      col("entityId").as("subject_id"), salts)
    val objDict = dict.select(
      col("surface").as("objectSurface"), col("ner").as("objectNer"),
      col("entityId").as("object_id"), salts)
    val withSalt = scored.toDF()
      .withColumn("salt", pmod(xxhash64(col("url"), col("sentIdx")), lit(saltBuckets)).cast("int"))
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
   * ResumeProbe simulates a mid-job crash: process half, die, resume). A
   * PARTIAL run commits its buckets to the lineage log and returns with
   * `triples = nodes = -1` WITHOUT materializing a graph snapshot — the
   * graph is only published when stage 1 is complete, so readers never see
   * a half-corpus graph. The next invocation sees the committed buckets in
   * the lineage log, prunes them from the page scan, and processes only
   * the remainder.
   */
  def runCheckpointed(spark: SparkSession, pages: Dataset[Page], outDir: String,
      buckets: Int = 32, salted: Boolean = false, seed: Long = 42L,
      bundle: Option[ScoringBundle] = None,
      maxBucketsPerRun: Int = Int.MaxValue): RunReport = {
    import spark.implicits._
    val bundleBc = spark.sparkContext.broadcast(bundle.getOrElse(buildBundle(seed)))
    val errorAcc = spark.sparkContext.longAccumulator("featurize_errors_total")

    val done = Lineage.doneBuckets(outDir, "triples_raw")
    val withBucket = pages.withColumn("bucket", pmod(xxhash64(col("url")), lit(buckets)).cast("int"))
    val (remainingBuckets, leftOver) =
      (0 until buckets).filterNot(done).splitAt(math.max(1, maxBucketsPerRun))

    if (remainingBuckets.nonEmpty) {
      val remaining = withBucket
        .filter(col("bucket").isInCollection(remainingBuckets))
        .drop("bucket").as[Page]
      val scored = scorePages(spark, remaining, bundleBc, Some(errorAcc))
      val dict = entityDict(spark)
      val linked = (if (salted) linkSalted(scored, dict) else linkBroadcast(scored, dict))
        .withColumn("bucket", pmod(xxhash64(col("url")), lit(buckets)).cast("int"))
        .select("bucket", "subject_id", "relation", "object_id", "confidence",
          "subjectNer", "objectNer", "url", "sentIdx")
      linked.write.mode("append").partitionBy("bucket").parquet(s"$outDir/triples_raw")

      val written = spark.read.parquet(s"$outDir/triples_raw")
        .filter(col("bucket").isInCollection(remainingBuckets))
        .groupBy("bucket").count().as[(Int, Long)].collect().toMap
      Lineage.append(outDir, "triples_raw",
        remainingBuckets.map(bkt => Lineage.BucketRecord(bkt, written.getOrElse(bkt, 0L), 0L)))
    }
    if (leftOver.nonEmpty) // partial run: buckets committed, graph deferred
      return RunReport(remainingBuckets, done.toSeq.sorted, -1L, -1L, errorAcc.value)

    val raw = spark.read.parquet(s"$outDir/triples_raw")
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
    Lineage.append(outDir, "graph", Seq(Lineage.BucketRecord(-1, nTriples, errorAcc.value)))
    Lineage.writeSnapshot(outDir, "edges", nTriples, edgeSnap)
    Lineage.writeSnapshot(outDir, "nodes", nNodes, nodeSnap)
    RunReport(remainingBuckets, done.toSeq.sorted, nTriples, nNodes, errorAcc.value)
  }

  /** One-shot (non-checkpointed) triple extraction for benchmarks/tests.
    * `bundle` overrides the fixture bundle — the deploy path, where the
    * model comes from a saved experiment (Experiments.load) and optionally
    * a Senna-preloaded embedding table (Pretrain). */
  def extractTriples(spark: SparkSession, pages: Dataset[Page], salted: Boolean = false,
      seed: Long = 42L, bundle: Option[ScoringBundle] = None): DataFrame = {
    val bundleBc = spark.sparkContext.broadcast(bundle.getOrElse(buildBundle(seed)))
    val scored = scorePages(spark, pages, bundleBc)
    val dict = entityDict(spark)
    val linked = if (salted) linkSalted(scored, dict) else linkBroadcast(scored, dict)
    dedupTriples(linked)
  }
}
