package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.kg.Pipeline
import graft.ops.{Dedup, Similarity, TextAnalysis, Multimodal, SemiStructured, Sessions, Streaming}

/**
 * Driver contract — one `queries` entry per implemented operator from
 * SURVEY.md §2, with an exact DuckDB oracle wherever the operator is
 * SQL-expressible. Column names and types are aligned between the Spark
 * plan and the oracle SQL (bigint for counts/sizes, double produced only
 * from exact-integer ratios or decimal sums, to keep cross-engine hashes
 * stable).
 */
object SparkEntry {

  /** Input tables resolve ONCE per (session, path): `spark.read.parquet`
    * re-runs file listing, schema inference and relation resolution on
    * every call, and the battery calls it a few hundred times per run over
    * the same immutable test tables. Reusing the resolved DataFrame is
    * metadata reuse only (the catalog-table behavior) — plans, scans and
    * results are byte-identical, nothing is materialized. */
  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    tableCache.get(spark, s"$dir/$name.parquet")

  /** Per-(session, dir) artifact cache, keyed by the SESSION. The weak
    * keying alone cannot evict (cached DataFrames strongly reference their
    * own session through the value side — the classic WeakHashMap
    * value-refers-to-key caveat), so `get` additionally PURGES entries
    * whose SparkContext has stopped: a stopped session's cache — and the
    * checkpointed blocks it pins — is released on the next access from any
    * live session instead of living for the JVM lifetime (multi-suite test
    * JVMs create and stop many sessions). Assumes `dir` contents are
    * immutable for the session's life — true of the driver's testdata; a
    * corpus rewritten in place mid-session would be served stale here. */
  private final class SessionDirCache[V](load: (SparkSession, String) => V) {
    private val cache = java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession,
        scala.collection.concurrent.TrieMap[String, V]]())
    def get(s: SparkSession, dir: String): V = {
      cache.synchronized {
        val it = cache.entrySet().iterator()
        while (it.hasNext) {
          val k = it.next().getKey
          if (k != null && k.sparkContext.isStopped) it.remove()
        }
      }
      val perSession = {
        val existing = cache.get(s)
        if (existing != null) existing
        else {
          val fresh = scala.collection.concurrent.TrieMap.empty[String, V]
          val raced = cache.putIfAbsent(s, fresh)
          if (raced != null) raced else fresh
        }
      }
      perSession.getOrElseUpdate(dir, load(s, dir))
    }
  }

  /** Resolved-DataFrame cache behind [[t]] (keyed by full table path). */
  private val tableCache =
    new SessionDirCache[DataFrame]((s, path) => s.read.parquet(path))

  /** The SHARED minhash signature table: computed ONCE per (session, dir)
    * and materialized (localCheckpoint), then reused by every md5-shingle
    * consumer in the battery (`q_minhash_sig`, `q_lsh_pairs`,
    * `q_dedup_clusters`, `q_curation_pipeline`) — the at-scale contract of
    * [[graft.ops.Dedup.lshCandidatePairsFromSigs]]: at 100 TB the
    * signatures are a written table, and shingle hashing happens exactly
    * once per corpus, not once per downstream query. */
  private object SigCache {
    private val cache = new SessionDirCache[DataFrame]((s, dir) =>
      Dedup.minhashSignatures(t(s, dir, "documents"), 4).localCheckpoint())
    def sigs(s: SparkSession, dir: String): DataFrame = cache.get(s, dir)
  }

  /** The SHARED 20-token span-digest table — [[SigCache]]'s contract for
    * the duplicated-span family: the exploded (doc_id, span-md5) table is
    * computed and materialized ONCE per (session, dir) and every consumer
    * (document-frequency aggregate, join-back, any future exact-substring-
    * interval operator) reads it, instead of re-running the 20-wide shingle
    * concat per query. At 100 TB this is a written table from a prior job. */
  private object SpanCache {
    private val cache = new SessionDirCache[DataFrame]((s, dir) =>
      graft.ops.TextAnalysis.spanDigests(t(s, dir, "documents"), 20).localCheckpoint())
    def spans(s: SparkSession, dir: String): DataFrame = cache.get(s, dir)
  }

  /** Fixed scratch root for ORACLE FIXTURE tables. The LSTM pipeline itself
    * is not SQL-expressible, but its RELATIONAL TAIL (entity-link join,
    * triple dedup, error aggregation) is: the battery query materializes its
    * deterministic upstream input here as parquet, consumes the READ-BACK
    * (so both engines see identical bytes), and the DuckDB oracle reads the
    * same table by absolute path — upgrading those queries from content-pin
    * to full rows+schema+hash oracle checks. The LSTM content itself stays
    * pinned in GoldenQuerySpec; this checks the join/agg semantics on top.
    *
    * The path is unique PER JVM (uuid suffix): concurrent battery runs on
    * one host get disjoint fixture trees, so one process's overwrite can
    * never race another's oracle read. Verify dumps `oracleSql` from the
    * same JVM that ran the queries, so the SQL always names this run's
    * dir. Deliberately NOT cleaned on exit — the driver's DuckDB compare
    * runs after the Spark JVM has exited. */
  val OracleFixtureDir: String = {
    val tmp = sys.props.getOrElse("java.io.tmpdir", "/tmp").stripSuffix("/")
    s"$tmp/graft_oracle_fixtures_${java.util.UUID.randomUUID().toString.take(8)}"
  }

  /** IVF centroids computed ONCE per (session, dir) — the coarse-quantizer
    * table is an index-build artifact shared by every consumer (one-shot
    * search AND index write), mirroring [[SigCache]]'s at-scale contract.
    * nlist auto-sizes from the corpus count (√n rule, `nlistForCorpus`) —
    * the oracle recomputes the identical count from COUNT(*).
    * Deterministic, so caching cannot change results. */
  private object CentroidCache {
    private val cache = new SessionDirCache[Array[Array[Double]]]((s, dir) => {
      val e = t(s, dir, "embeddings").filter(col("vec_id") =!= 0)
      graft.ops.Similarity.ivfCentroids(e,
        nlist = graft.ops.Similarity.nlistForCorpus(e.count()))
    })
    def centroids(s: SparkSession, dir: String): Array[Array[Double]] = cache.get(s, dir)
  }

  /** The SHARED verified ANN near-dup PAIR table — [[SigCache]]'s contract
    * for the banded-LSH family: banding + in-bucket expansion + exact-cosine
    * verify run ONCE per (session, dir) at the LOWEST battery threshold
    * (0.2, `q_ann_knn`'s), and every consumer reads the materialized
    * survivors. The verify threshold only gates the FINAL filter on the
    * round-4 cosine (banding/bucketing/rounding are threshold-independent),
    * so pairs(τ) ≡ pairs(0.2).filter(cosine ≥ τ) bit-exactly for any
    * τ ≥ 0.2 — `q_ann_pairs` (τ = 0.3) is that filter. At 100 TB the
    * verified pair table is a written artifact consumed by the pair report,
    * the kNN join, and any cluster build — not a per-query recompute. */
  private object AnnPairsCache {
    private val cache = new SessionDirCache[DataFrame]((s, dir) =>
      Similarity.annCandidatePairs(t(s, dir, "embeddings"), 0.2).localCheckpoint())
    def pairs(s: SparkSession, dir: String): DataFrame = cache.get(s, dir)
  }

  /** The SHARED md5-shingle LSH candidate-pair table over [[SigCache]]'s
    * signatures: the banding shuffle + bounded in-bucket expansion run ONCE
    * per (session, dir) and every consumer (`q_lsh_pairs`,
    * `q_dedup_clusters`, `q_ngram_jaccard_lsh`, `q_curation_pipeline`)
    * reads the materialized pair table — the next layer of the write-once
    * contract: at scale the candidate pairs are a written table from the
    * dedup job, not recomputed per downstream query. */
  private object LshPairsCache {
    private val cache = new SessionDirCache[DataFrame]((s, dir) =>
      Dedup.lshCandidatePairsFromSigs(
        SigCache.sigs(s, dir).select(col("doc_id"), col("h1"), col("h2")))
        .localCheckpoint())
    def pairs(s: SparkSession, dir: String): DataFrame = cache.get(s, dir)
  }

  /** The SHARED span-hash document-frequency table over [[SpanCache]]'s
    * spans — consumed by `q_dup_spans` AND `q_dup_intervals` (identical
    * distinct+groupBy in both); computed once per (session, dir). */
  private object SpanFreqCache {
    private val cache = new SessionDirCache[DataFrame]((s, dir) =>
      graft.ops.TextAnalysis.spanDocFreq(SpanCache.spans(s, dir)).localCheckpoint())
    def freq(s: SparkSession, dir: String): DataFrame = cache.get(s, dir)
  }

  /** The SHARED `(token, cnt, first_doc)` vocabulary aggregate — the
    * corpus vocabulary table every vocab consumer derives from
    * (`q_vocab_build` ranks it, `q_vocab_prune` filters + ranks,
    * `q_vocab_lookup_join` filters + ranks + probes). One explode +
    * groupBy per corpus; at 100 TB the vocabulary is a written artifact of
    * the vocab-build job, which downstream jobs read. */
  private object TokAggCache {
    private val cache = new SessionDirCache[DataFrame]((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("first_doc"))
        .localCheckpoint())
    def agg(s: SparkSession, dir: String): DataFrame = cache.get(s, dir)
  }

  /** The SHARED winnow-fingerprint table (doc_id, fingerprint) — computed
    * once per (session, dir) and consumed by both winnow queries
    * (cluster rollup + candidate-pair banding); the rolling-hash kernel
    * over the full corpus runs once, same contract as [[SigCache]]. */
  private object WinnowCache {
    private val cache = new SessionDirCache[DataFrame]((s, dir) =>
      graft.ops.TextAnalysis.winnowFingerprints(
        s, t(s, dir, "documents")).localCheckpoint())
    def fps(s: SparkSession, dir: String): DataFrame = cache.get(s, dir)
  }

  /** The SHARED synthesized-container media table and its parsed-header
    * metadata — five battery queries consume one or both
    * (`q_media_decode/frames/resize/features` the metadata,
    * `q_media_features` also the payloads). Synthesis + the header parse
    * run once per (session, dir); at scale the parsed-metadata table is a
    * written artifact of the ingest job. (`q_media_meta` keeps its own
    * mediaTable — different payloads by design.) */
  private object MediaCache {
    private val synthCache = new SessionDirCache[DataFrame]((s, dir) =>
      Multimodal.mediaTableSynth(t(s, dir, "documents")).localCheckpoint())
    private val metaCache = new SessionDirCache[DataFrame]((s, dir) =>
      Multimodal.extractMeta(s, synthCache.get(s, dir)).localCheckpoint())
    def synth(s: SparkSession, dir: String): DataFrame = synthCache.get(s, dir)
    def meta(s: SparkSession, dir: String): DataFrame = metaCache.get(s, dir)
  }

  /** The default scoring bundle, built ONCE on the driver (deterministic —
    * frozen vocab + fixture weights) and broadcast ONCE per session. A
    * dozen battery queries each rebuilt and re-broadcast the identical
    * bundle; on a cluster the side-input broadcast is shipped once per
    * application, not once per job. Queries exercising a DIFFERENT bundle
    * path (kg_senna_score's preloaded table, kg_eval_report's
    * saved+reloaded deploy round trip) keep their own. */
  private object BundleCache {
    lazy val bundle: Pipeline.ScoringBundle = Pipeline.buildBundle()
    private val cache =
      new SessionDirCache[org.apache.spark.broadcast.Broadcast[Pipeline.ScoringBundle]](
        (s, _) => s.sparkContext.broadcast(bundle))
    def bc(s: SparkSession): org.apache.spark.broadcast.Broadcast[Pipeline.ScoringBundle] =
      cache.get(s, "")
  }

  /** The SHARED full-training splits: extractSequences over the same
    * (42L-seeded) 0–200 / 200–260 example ranges feeds FOUR train queries
    * (full, gru, stack, conv) and the mut variants — featurization runs
    * once per session and each trainer consumes the materialized rows.
    * localCheckpoint preserves partition count and in-partition row order,
    * so the per-partition gradient accumulation (and thus every epoch log)
    * is bit-identical to a fresh extraction — asserted by the content pins
    * in GoldenQuerySpec. */
  private object TrainSeqCache {
    private val cache =
      new SessionDirCache[(org.apache.spark.sql.Dataset[graft.kg.Trainer.SeqRow],
                           org.apache.spark.sql.Dataset[graft.kg.Trainer.SeqRow])]((s, _) => {
        import s.implicits._
        val bundleBc = BundleCache.bc(s)
        val tr = graft.kg.Trainer.extractSequences(s,
          s.range(200).map(i => graft.kg.Gen.labeledExample(42L, i)), bundleBc)
          .localCheckpoint()
        val dv = graft.kg.Trainer.extractSequences(s,
          s.range(200, 260).map(i => graft.kg.Gen.labeledExample(42L, i)), bundleBc)
          .localCheckpoint()
        (tr, dv)
      })
    def trainDev(s: SparkSession): (org.apache.spark.sql.Dataset[graft.kg.Trainer.SeqRow],
        org.apache.spark.sql.Dataset[graft.kg.Trainer.SeqRow]) = cache.get(s, "")
  }

  /** The readout trainer's frozen-encoder feature splits (0–400 / 400–520
    * ranges; the expensive part is the frozen LSTM forward pass per
    * example) — [[TrainSeqCache]]'s contract for `kg_train_readout`:
    * extracted once per session, localCheckpoint preserves partitioning
    * and row order, so the pid-ordered gradient merge (and the pinned
    * epoch log) is bit-identical. */
  private object ReadoutFeatCache {
    private val cache =
      new SessionDirCache[(org.apache.spark.sql.Dataset[graft.kg.Trainer.FeatureRow],
                           org.apache.spark.sql.Dataset[graft.kg.Trainer.FeatureRow])]((s, _) => {
        import s.implicits._
        val bundleBc = BundleCache.bc(s)
        val tr = graft.kg.Trainer.extractFeatures(s,
          s.range(400).map(i => graft.kg.Gen.labeledExample(42L, i)), bundleBc)
          .localCheckpoint()
        val dv = graft.kg.Trainer.extractFeatures(s,
          s.range(400, 520).map(i => graft.kg.Gen.labeledExample(42L, i)), bundleBc)
          .localCheckpoint()
        (tr, dv)
      })
    def trainDev(s: SparkSession): (org.apache.spark.sql.Dataset[graft.kg.Trainer.FeatureRow],
        org.apache.spark.sql.Dataset[graft.kg.Trainer.FeatureRow]) = cache.get(s, "")
  }

  /** Flagship: the full KG-construction pipeline (pages → extract → segment
    * → mention-detect → featurize → score → mask → link → dedup) over the
    * deterministic synthetic corpus. */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.extractTriples(spark, Pipeline.generatePages(spark, 300L))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- KG pipeline (non-SQL-expressible; rows-only checks) ---------------
    "kg_flagship" -> ((s, _) => Pipeline.extractTriples(s, Pipeline.generatePages(s, 300L))),

    // the flagship over a TABLE AT REST: pages committed once through the
    // copy-on-write snapshot layer, read back via Lineage.readTable, and
    // extracted — exercising scan pruning (url+html only; all 5 input-hint
    // columns are on disk) and the snapshot read in the driver battery.
    // Content-pinned to the SAME triple set as kg_flagship (asserted in
    // GoldenQuerySpec).
    "kg_flagship_table" -> ((s, _) => {
      import s.implicits._
      val outDir = java.nio.file.Files.createTempDirectory("graft-flagship-table").toString
      try {
        val snap = graft.kg.Lineage.nextSnapshotId(outDir, "pages")
        // 4 partitions: 300 tiny pages in 32 session-parallelism files is
        // pure commit overhead (guide §6 small-files); page content is a
        // pure function of (seed, i) — partitioning never changes the rows
        Pipeline.generatePages(s, 300L, partitions = 4, withText = true)
          .write.mode("overwrite")
          .parquet(graft.kg.Lineage.snapshotDataDir(outDir, "pages", snap))
        graft.kg.Lineage.writeSnapshot(outDir, "pages", 300L, snap)
        Pipeline.extractTriples(s,
          graft.kg.Lineage.readTable(s, outDir, "pages").as[graft.kg.Page])
          .localCheckpoint() // materialize so the staging table can be removed
      } finally graft.kg.Lineage.deleteRecursively(outDir)
    }),
    // J5 salted-link + A9 dedup with a HARD oracle on the relational tail:
    // the deterministic scored pairs (pre-link) and the entity dict are
    // frozen to OracleFixtureDir, the Spark side links+dedups the READ-BACK,
    // and DuckDB recomputes the same join+aggregate over the same bytes.
    // The former content pin was REPLACED by this relational-tail oracle
    // (LSTM content stays covered by kg_flagship's pin); the output matches
    // extractTriples(salted = true) over the same pages by construction.
    "kg_salted_link" -> ((s, _) => {
      import s.implicits._
      val fix = OracleFixtureDir
      val bundleBc = BundleCache.bc(s)
      Pipeline.scorePages(s, Pipeline.generatePages(s, 120L), bundleBc)
        .toDF().coalesce(1).write.mode("overwrite").parquet(s"$fix/scored_120.parquet")
      Pipeline.entityDict(s).coalesce(1).write.mode("overwrite").parquet(s"$fix/entity_dict.parquet")
      val back = s.read.parquet(s"$fix/scored_120.parquet").as[graft.kg.ScoredPair]
      // the dict joins from its read-back too — both join inputs are the
      // exact bytes the oracle reads
      Pipeline.dedupTriples(Pipeline.linkSalted(back,
        s.read.parquet(s"$fix/entity_dict.parquet")))
    }),

    // S6 end to end: Senna-format pretrained embeddings (fixture words.lst/
    // embeddings.txt, deterministic vectors) preloaded into the embedding
    // table, round-tripped through a SAVED+RELOADED experiment (S9 deploy
    // contract), then the full extraction pipeline scored with it. The
    // output differs from kg_flagship precisely because the preloaded rows
    // overwrite the fixture init — the content pin attests the side input
    // is live in the scoring path.
    "kg_senna_score" -> ((s, _) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-senna-battery").toString
      try {
        val bundle = Pipeline.buildBundle()
        val dim = bundle.weights.embDim
        // every 7th vocab word (cap 60): hits real corpus tokens without
        // replacing the whole table
        val words = bundle.word.index2word.zipWithIndex
          .filter(_._2 % 7 == 3).map(_._1).take(60)
        val embText = words.indices.map { i =>
          (0 until dim).map(d => String.format(java.util.Locale.ROOT, "%.2f",
            Double.box((((i * dim + d) % 13) - 6) * 0.05))).mkString(" ")
        }.mkString("\n")
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/words.lst"), words.mkString("\n"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/embeddings.txt"), embText)
        val preloaded = bundle.copy(weights = graft.kg.Pretrain.loadAndPreload(
          bundle.weights, bundle.word, s"$dir/words.lst", s"$dir/embeddings.txt"))
        graft.kg.Experiments.save(dir, "senna", preloaded, preloaded.weights)
        val deployed = graft.kg.Experiments.load(dir, "senna")
        Pipeline.extractTriples(s, Pipeline.generatePages(s, 120L),
          bundle = Some(deployed)).localCheckpoint()
      } finally graft.kg.Lineage.deleteRecursively(dir)
    }),

    // A7 native form: error rate by featurized-sequence length on the eval
    // split — scored table frozen to OracleFixtureDir so the groupBy tail
    // is oracle-checked (the LSTM scoring stays content-pinned)
    "kg_error_by_length" -> ((s, _) => {
      import s.implicits._
      val bundleBc = BundleCache.bc(s)
      val examples = s.range(400).map(i => graft.kg.Gen.labeledExample(42L, i))
      graft.kg.Evaluate.scoreExamples(s, examples, bundleBc).toDF()
        .select(col("id"), col("length"), col("pred"), col("targ"))
        .coalesce(1).write.mode("overwrite").parquet(s"$OracleFixtureDir/scored_eval.parquet")
      graft.kg.Evaluate.errorByLength(
        s.read.parquet(s"$OracleFixtureDir/scored_eval.parquet"))
    }),

    // per-example error-analysis dump (analyze_errors.py print_example):
    // wrong examples with the reference's debug fields — sentence,
    // subject/object + NER, gold + pred, path length, per-token rows
    "kg_error_dump" -> ((s, _) => {
      import s.implicits._
      val bundleBc = BundleCache.bc(s)
      val examples = s.range(400).map(i => graft.kg.Gen.labeledExample(42L, i))
      graft.kg.Evaluate.errorAnalysisDump(s, examples, bundleBc).toDF()
        .select(col("id"), col("sentence"), col("subject"), col("subjectNer"),
          col("obj"), col("objectNer"), col("relation"), col("predicted"),
          col("pathLen").cast("long").as("pathLen"),
          // the driver's pandas canonicalizer sorts every column and cannot
          // hash array cells — flatten the path arrays to '|'-joined strings
          // for the battery (the typed API in Evaluate keeps the arrays)
          array_join(col("pathWords"), "|").as("pathWords"),
          array_join(col("pathArcs"), "|").as("pathArcs"),
          array_join(col("pathNers"), "|").as("pathNers"))
    }),

    // pred.py-style evaluation: per-relation P/R report over a labeled
    // split, scored from a SAVED+RELOADED experiment directory — the S9
    // deploy contract (kbp.py:38-45); the round trip is bit-exact. The
    // scored (pred, targ) table freezes to OracleFixtureDir so the A8
    // aggregation tail (full-outer per-relation join + ratios) is
    // oracle-checked; the LSTM scoring stays pinned via kg_flagship et al.
    "kg_eval_report" -> ((s, _) => {
      import s.implicits._
      val bundle = Pipeline.buildBundle()
      val root = java.nio.file.Files.createTempDirectory("graft-exp").toString
      val bundleBc = try {
        graft.kg.Experiments.save(root, "deploy", bundle, bundle.weights)
        // load is eager (everything lands in the broadcast value), so the
        // experiment dir can be removed instead of leaking per invocation
        s.sparkContext.broadcast(graft.kg.Experiments.load(root, "deploy"))
      } finally graft.kg.Lineage.deleteRecursively(root)
      val examples = s.range(400).map(i => graft.kg.Gen.labeledExample(42L, i))
      graft.kg.Evaluate.scoreExamples(s, examples, bundleBc).toDF()
        .select(col("id"), col("pred"), col("targ"))
        .coalesce(1).write.mode("overwrite").parquet(s"$OracleFixtureDir/scored_eval_deploy.parquet")
      graft.kg.Metrics.perRelationReport(
        s.read.parquet(s"$OracleFixtureDir/scored_eval_deploy.parquet"), "pred", "targ")
    }),

    // train.py lifecycle: distributed readout training (treeAggregate
    // full-batch gradients), dev metrics per epoch, reference model
    // selection (best dev precision gated on f1 > 0.3)
    "kg_train_readout" -> ((s, _) => {
      import s.implicits._
      val bundleBc = BundleCache.bc(s)
      val (trainFeat, devFeat) = ReadoutFeatCache.trainDev(s)
      val result = graft.kg.Trainer.train(s, trainFeat, devFeat, bundleBc, epochs = 8)
      result.log.toDF()
    }),

    // FULL-model training (the reference's actual training surface,
    // rmsprop + clipnorm=25 per models.py:27): BPTT through
    // embeddings+LSTM+readout, one treeAggregate per epoch, gradient
    // kernel finite-difference-checked (BackpropSpec)
    "kg_train_full" -> ((s, _) => {
      import s.implicits._
      val bundleBc = BundleCache.bc(s)
      val (trainSeq, devSeq) = TrainSeqCache.trainDev(s)
      graft.kg.Trainer.trainFull(s, graft.kg.Backprop.model(bundleBc.value.weights),
        trainSeq, devSeq, bundleBc, epochs = 5).log.toDF()
    }),

    // FULL-model training for the GRU cell (get_rnn "gru" → keras 0.x GRU,
    // models.py:29-30): BPTT through embeddings+GRU+readout, same rmsprop/
    // clipnorm-25 lifecycle, gradient kernel FD-checked (BackpropSpec)
    "kg_train_gru" -> ((s, _) => {
      import s.implicits._
      val bundleBc = BundleCache.bc(s)
      val (trainSeq, devSeq) = TrainSeqCache.trainDev(s)
      val model = graft.kg.BackpropGru.model(graft.kg.BackpropGru.layoutOf(bundleBc.value))
      graft.kg.Trainer.trainFull(s, model, trainSeq, devSeq, bundleBc, epochs = 5).log.toDF()
    }),

    // 2-layer stacked-LSTM full-model training (the reference's `single`
    // config topology): BPTT through both layers with inter-layer dropout,
    // layer 1 receiving per-timestep gradients (the one-channel
    // BackpropConcat kernel, FD-checked)
    "kg_train_stack" -> ((s, _) => {
      import s.implicits._
      val bundleBc = BundleCache.bc(s)
      val (trainSeq, devSeq) = TrainSeqCache.trainDev(s)
      val model = graft.kg.BackpropConcat.stacked(
        graft.kg.BackpropConcat.stackLayoutOf(bundleBc.value))
      graft.kg.Trainer.trainFull(s, model, trainSeq, devSeq, bundleBc, epochs = 4).log.toDF()
    }),

    // single_conv full-model training: Convolution1D + tanh + MaxPool(2) +
    // LSTM + dense, BPTT through the whole stack (BackpropConv, FD-checked
    // including the degenerate short-sequence rules)
    "kg_train_conv" -> ((s, _) => {
      import s.implicits._
      val bundleBc = BundleCache.bc(s)
      val (trainSeq, devSeq) = TrainSeqCache.trainDev(s)
      val model = graft.kg.BackpropConv.model(graft.kg.BackpropConv.layoutOf(bundleBc.value))
      graft.kg.Trainer.trainFull(s, model, trainSeq, devSeq, bundleBc, epochs = 4).log.toDF()
    }),

    // concat 4-channel full-model training — the LAST zoo config: word/
    // ner/pos/arc channel embeddings over the dependency path, 2 stacked
    // LSTM layers, trained end to end (BackpropConcat, FD-checked)
    "kg_train_concat" -> ((s, _) => {
      import s.implicits._
      val bundleBc = BundleCache.bc(s)
      val trainCh = graft.kg.Trainer.extractChannels(s,
        s.range(200).map(i => graft.kg.Gen.labeledExample(42L, i)), bundleBc)
      val devCh = graft.kg.Trainer.extractChannels(s,
        s.range(200, 260).map(i => graft.kg.Gen.labeledExample(42L, i)), bundleBc)
      val model = graft.kg.BackpropConcat.model(graft.kg.BackpropConcat.layoutOf(bundleBc.value))
      graft.kg.Trainer.trainFull(s, model, trainCh, devCh, bundleBc, epochs = 4,
        reg = graft.kg.BackpropConcat.DenseReg).log.toDF()
    }),

    // MUT1-3 (JZS) full-model training — with lstm+gru above, every
    // recurrent cell of the zoo now TRAINS (BackpropMut, FD-checked per
    // variant); one epoch-log row per (variant, epoch)
    "kg_train_mut" -> ((s, _) => {
      import s.implicits._
      val bundleBc = BundleCache.bc(s)
      val (trainSeq, devSeq) = TrainSeqCache.trainDev(s)
      // The three JZS variants are INDEPENDENT trainings over the same
      // materialized splits — submitted from a small thread pool so each
      // variant's epoch jobs back-fill executor slots freed by the others'
      // stragglers (guide §2.6 "overlap independent jobs"). Per-variant
      // results are bit-identical to the sequential run (the deterministic
      // pid-ordered gradient merge is a per-job property; job descriptions
      // are thread-local), and the union order is fixed by code, not by
      // completion order — asserted by the content pin in GoldenQuerySpec.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      try {
        // await ALL variants (Try per future) before surfacing any
        // failure: rethrowing on the first await would leave the other
        // variants' epoch jobs running unobserved into the next query
        val done = (1 to 3).map { variant =>
          val model = graft.kg.BackpropMut.model(
            graft.kg.BackpropMut.layoutOf(bundleBc.value), variant)
          scala.concurrent.Future(
            graft.kg.Trainer.trainFull(s, model, trainSeq, devSeq, bundleBc, epochs = 3)
              .log.toDF().withColumn("variant", lit(variant)))
        }.map(f => scala.util.Try(
          scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)))
        done.collectFirst { case scala.util.Failure(e) => throw e }
        done.map(_.get).reduce(_ unionByName _)
      } finally pool.shutdown()
    }),

    // M1 model-zoo dispatch: every model shape × both cell types scores the
    // same labeled split (sent channel for single*, 4-channel for concat)
    "kg_model_zoo" -> ((s, _) => {
      import s.implicits._
      val bundleBc = BundleCache.bc(s)
      val examples = s.range(150).map(i => graft.kg.Gen.labeledExample(42L, i))
      graft.kg.Evaluate.zooSummary(s, examples, bundleBc, Seq(
        graft.kg.Models.ModelConfig("single_small", "lstm"),
        graft.kg.Models.ModelConfig("single", "lstm"),
        graft.kg.Models.ModelConfig("single_conv", "gru"),
        graft.kg.Models.ModelConfig("concat", "gru"),
        graft.kg.Models.ModelConfig("single_small", "mut1"),
        graft.kg.Models.ModelConfig("single_small", "mut2"),
        graft.kg.Models.ModelConfig("single_small", "mut3")))
    }),

    // single-path dependency featurizer end-to-end (M6 + M7a): shortest
    // dependency path → interleaved sequence → LSTM → masked argmax
    "kg_singlepath" -> ((s, _) => {
      import s.implicits._
      val bundleBc = BundleCache.bc(s)
      val examples = s.range(400).map(i => graft.kg.Gen.labeledExample(42L, i))
      graft.kg.Evaluate.scoreSinglePath(s, examples, bundleBc).toDF()
        .filter(col("pred") =!= "no_relation")
        .groupBy(col("subjectId").as("subject_id"), col("pred").as("relation"),
          col("objectId").as("object_id"))
        .agg(max(col("confidence")).as("confidence"), count(lit(1)).as("support"))
    }),

    // ---- S-scans + A-aggregations over driver testdata ----------------------
    // TPC-H-ish pricing summary: sums via exact decimal, emitted as double
    "q1_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"),
          count(lit(1)).as("n_rows"))
    }),

    // A1 vocab build: token -> count, first-seen doc, insertion-ordered id.
    // The id rank is the two-phase DISTRIBUTED row_number (Rank.scala) —
    // a global Window.orderBy would drag every distinct token of the corpus
    // through one partition (billions of rows at web scale).
    "q_vocab_build" -> ((s, dir) =>
      graft.ops.Rank.globalRowNumber(TokAggCache.agg(s, dir),
        Seq(col("first_doc"), col("token")), "token_id")),

    // A2 rare-word pruning: cnt > 2, ids re-ranked in original order
    "q_vocab_prune" -> ((s, dir) =>
      graft.ops.Rank.globalRowNumber(
        TokAggCache.agg(s, dir).filter(col("cnt") > 2),
        Seq(col("first_doc"), col("token")), "token_id")),

    // A3 label histogram
    "q_label_histogram" -> ((s, dir) =>
      t(s, dir, "documents").groupBy(col("lang")).agg(count(lit(1)).as("cnt"))),

    // A4 confusion matrix (long form)
    "q_confusion" -> ((s, dir) =>
      t(s, dir, "documents").groupBy(col("lang"), col("source")).agg(count(lit(1)).as("cnt"))),

    // A4 row-normalized confusion (plot_utils.py:17-21 semantics)
    "q_confusion_norm" -> ((s, dir) => {
      val counts = t(s, dir, "documents")
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("lang"))
      counts.withColumn("rate", col("cnt").cast("double") / sum(col("cnt")).over(w))
    }),

    // A5 micro P/R/F1 excluding one label (sklearn micro semantics)
    "q_micro_prf" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("pred", when(col("value") > 100, lit("purchase")).otherwise(col("event_type")))
        .withColumn("targ", col("event_type"))
      e.agg(
        sum(when(col("pred") === col("targ") && col("targ") =!= "view", 1L).otherwise(0L)).as("tp"),
        sum(when(col("pred") =!= "view", 1L).otherwise(0L)).as("pred_pos"),
        sum(when(col("targ") =!= "view", 1L).otherwise(0L)).as("targ_pos"))
        .select(col("tp"), col("pred_pos"), col("targ_pos"),
          (col("tp").cast("double") / col("pred_pos")).as("precision"),
          (col("tp").cast("double") / col("targ_pos")).as("recall"))
    }),

    // A6 accuracy
    "q_accuracy" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("pred", when(col("value") > 100, lit("purchase")).otherwise(col("event_type")))
      e.agg(
        sum(when(col("pred") === col("event_type"), 1L).otherwise(0L)).as("correct"),
        count(lit(1)).as("total"))
        .select(col("correct"), col("total"),
          (col("correct").cast("double") / col("total")).as("accuracy"))
    }),

    // A7 error-rate-by-length histogram
    "q_error_by_length" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(floor(col("n_chars") / lit(100.0)).cast("long").as("len_bucket"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("errors"))
        .withColumn("error_rate", col("errors").cast("double") / col("cnt"))),

    // A8 per-class P/R report
    "q_per_class_report" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .withColumn("pred", when(col("value") > 100, lit("purchase")).otherwise(col("event_type")))
        .withColumn("targ", col("event_type"))
      val byTarg = e.groupBy(col("targ").as("label"))
        .agg(count(lit(1)).as("support"),
          sum(when(col("pred") === col("targ"), 1L).otherwise(0L)).as("tp"))
      val byPred = e.groupBy(col("pred").as("label")).agg(count(lit(1)).as("pred_cnt"))
      byTarg.join(byPred, Seq("label"), "left")
        .select(col("label"), col("support"), col("tp"),
          coalesce(col("pred_cnt"), lit(0L)).as("pred_cnt"),
          (col("tp").cast("double") / coalesce(col("pred_cnt"), lit(0L))).as("precision"),
          (col("tp").cast("double") / col("support")).as("recall"))
    }),

    // A9 triple-style dedup: group, max-confidence, support count
    "q_dedup_triples" -> ((s, dir) =>
      t(s, dir, "events").groupBy(col("user_id"), col("event_type"))
        .agg(max(col("value")).as("confidence"), count(lit(1)).as("support"))),

    // A10 distinct nodes from an edge list
    "q_distinct_nodes" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.select(col("o_custkey").as("node_id"))
        .unionByName(o.select(col("o_orderkey").as("node_id")))
        .distinct()
    }),

    // ---- joins --------------------------------------------------------------
    // J5-shape: fact ⨝ broadcast dims
    "q_broadcast_join" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
          count(lit(1)).as("n_orders"))),

    // big-side shuffle join
    "q_large_join" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          count(lit(1)).as("n_rows"))),

    // P12 as a left-semi join
    "q_semi_join" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").filter(col("p_size") > 40),
          col("l_partkey") === col("p_partkey"), "left_semi")
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("cnt"))),

    "q_anti_join" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").filter(col("o_orderstatus") === "F"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))),

    // J2 report alignment: left join + fill
    "q_report_align" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val all = d.groupBy(col("lang")).agg(count(lit(1)).as("cnt"))
      val sub = d.filter(col("source") === "src0").groupBy(col("lang"))
        .agg(count(lit(1)).as("src0_cnt"), sum(col("n_chars")).as("src0_chars"))
      all.join(sub, Seq("lang"), "left")
        .select(col("lang"), col("cnt"),
          coalesce(col("src0_cnt"), lit(-1L)).as("src0_cnt"),
          coalesce(col("src0_chars"), lit(-1L)).as("src0_chars"))
    }),

    // J2 in full: parse both external report text formats and align them
    // (plot_utils.py:47-64 + align_reports.py); fixed deterministic inputs,
    // oracle = the expected aligned table as SQL VALUES
    "q_report_parse" -> ((s, _) => graft.kg.Reports.align(s, SampleReports.sklearn,
      SampleReports.gabor)),

    // J3 wrong-example id join
    "q_wrongs_join" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val preds = e.select(col("event_id"),
        when(col("value") > 100, lit("purchase")).otherwise(col("event_type")).as("pred"))
      preds.join(e, Seq("event_id"))
        .filter(col("pred") =!= col("event_type"))
        .select(col("event_id"), col("event_type").as("targ"), col("pred"), col("user_id"))
    }),

    // U1 union of sources
    "q_union_sources" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.filter(col("lang") === "en")
        .unionByName(d.filter(col("source") === "src0"))
        .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("cnt"))
    }),

    // ---- window / sort / limit ----------------------------------------------
    // W1 scope window (array slice around a keyword)
    "q_scope_window" -> ((s, dir) => {
      val d = t(s, dir, "documents").withColumn("toks", split(col("text"), " "))
        .withColumn("pos", array_position(col("toks"), "spark"))
        .filter(col("pos") > 0)
      d.select(col("doc_id"),
        array_join(slice(col("toks"),
          greatest(lit(1), (col("pos") - 3).cast("int")), lit(7)), " ").as("window_text"))
    }),

    // W2/W3 top-1 per group via row_number
    "q_top_per_lang" -> ((s, dir) => {
      val w = Window.partitionBy(col("lang")).orderBy(col("n_chars").desc, col("doc_id").asc)
      t(s, dir, "documents").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("lang"), col("doc_id"), col("n_chars"))
    }),

    // window frame: per-user running sum over event time
    "q_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("running_value",
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
        .select(col("event_id"), col("user_id"), col("running_value"))
    }),

    // deterministic top-k
    "q_topk_docs" -> ((s, dir) =>
      t(s, dir, "documents").orderBy(col("n_chars").desc, col("doc_id").asc)
        .select(col("doc_id"), col("n_chars")).limit(10)),

    // B1 length-bucket histogram
    "q_length_buckets" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .agg(count(lit(1)).as("cnt"))),

    // ---- dedup family ---------------------------------------------------------
    "q_dedup_exact" -> ((s, dir) => Dedup.exact(t(s, dir, "documents"))),
    // the shared signature table itself (computed once per battery run;
    // every other md5-shingle query below reuses it via SigCache)
    "q_minhash_sig" -> ((s, dir) => SigCache.sigs(s, dir)),
    // production 64-bit form (xxhash64 slots; exact oracle via the HUGEINT
    // mod-2^64 XXH64 port in OracleHashSql)
    "q_minhash_sig64" -> ((s, dir) => Dedup.minhashSignatures64(t(s, dir, "documents"))),
    "q_lsh_pairs" -> ((s, dir) => LshPairsCache.pairs(s, dir)),
    "q_simhash_pairs" -> ((s, dir) => Dedup.simhashPairs(t(s, dir, "documents"))
      .withColumn("hamming", col("hamming").cast("long"))),
    // near-dup clusters: LSH pairs → connected components (min-label
    // propagation); exact oracle via DuckDB recursive CTE
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.nearDupClusters(t(s, dir, "documents"),
        sigs = Some(SigCache.sigs(s, dir)),
        pairs = Some(LshPairsCache.pairs(s, dir)))),
    // graph components over the customer–order bipartite graph via
    // large-star/small-star (the O(log n)-round deep-graph algorithm)
    "q_graph_components" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val pairs = o.select((col("o_custkey").cast("long") * 2).as("a"),
        (col("o_orderkey").cast("long") * 2 + 1).as("b"))
      val nodes = pairs.select(col("a").as("node"))
        .unionByName(pairs.select(col("b").as("node"))).distinct()
      Dedup.connectedComponentsStar(pairs, nodes)
    }),
    // exact-Jaccard DEMO, cap named in the query (doc_id < 200 bound on
    // the quadratic all-pairs stage); the scale path is _lsh below
    "q_ngram_jaccard_demo" -> ((s, dir) =>
      Dedup.ngramJaccard(t(s, dir, "documents"), cap = 200)),
    // the corpus-scale form: LSH banding over the shared signature table
    // generates candidates, exact shingle-hash-set Jaccard verifies them —
    // no quadratic stage, no cap
    "q_ngram_jaccard_lsh" -> ((s, dir) =>
      Dedup.ngramJaccardForPairs(t(s, dir, "documents"),
        LshPairsCache.pairs(s, dir))),
    // benchmark decontamination: every 97th doc plays the eval set; docs
    // sharing any 5-gram with it (the set itself + its near-verbatim dups)
    // are dropped before training
    "q_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.decontaminate(d, d.filter(col("doc_id") % 97 === 0), n = 5)
    }),
    // Bloom-filter decontamination: same hygiene pass in the regime where
    // the benchmark shingle set is too big to broadcast exactly — an
    // m-bit filter stands in, with false positives only (spurious drops)
    "q_bloom_decontaminate" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.decontaminateBloom(d, d.filter(col("doc_id") % 97 === 0),
        n = 3, mBits = 1L << 20, kHashes = 3)
    }),
    // Gopher-style repetition quality gates (distinct ratio, top-token and
    // top-2gram fractions)
    "q_repetition" -> ((s, dir) => TextAnalysis.repetitionStats(t(s, dir, "documents"))),
    // duplicated-span statistics: fixed-length (20-token) approximation of
    // exact substring dedup — per-doc fraction of span positions whose
    // span recurs verbatim in another document
    "q_dup_spans" -> ((s, dir) => TextAnalysis.dupSpanStatsFromSpans(
      SpanCache.spans(s, dir), docFreqOpt = Some(SpanFreqCache.freq(s, dir)))),
    // maximal duplicated-token INTERVALS (the ranges exact-substring dedup
    // would cut) — gaps-and-islands over the same shared span table
    "q_dup_intervals" -> ((s, dir) => TextAnalysis.dupSpanIntervals(
      SpanCache.spans(s, dir), docFreqOpt = Some(SpanFreqCache.freq(s, dir)))),
    // the dedup ACTION: cut every duplicated 20-token range, keep the
    // lexicographic-first occurrence; row-local splice + cleaned-text digest
    "q_dedup_cut" -> ((s, dir) =>
      TextAnalysis.cutDuplicateSpans(t(s, dir, "documents"), SpanCache.spans(s, dir))),
    // PII redaction over a deterministically PII-spiked corpus (the
    // synthetic docs carry no emails/phones, so the query injects one of
    // each — derived from doc_id — and the oracle replicates the spike)
    "q_pii_redact" -> ((s, dir) => {
      val spiked = t(s, dir, "documents").withColumn("text",
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or +1 555-01"), col("doc_id"), lit(" now")))
      TextAnalysis.redactPii(spiked)
    }),
    // deterministic mixture sampling: per-lang content-hash keep rates
    // (en 50%, es 25%, de 12.5%, fr 6.25%, zh 3.1%; everything else 0)
    "q_mixture_sample" -> ((s, dir) =>
      TextAnalysis.mixtureSample(t(s, dir, "documents"), Map(
        "en" -> "8000", "es" -> "4000", "de" -> "2000",
        "fr" -> "1000", "zh" -> "0800"))),

    // ---- similarity search -----------------------------------------------------
    "q_embed_topk" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding")).head()
        .getSeq[Float](0).toArray
      Similarity.bruteCosineTopK(e.filter(col("vec_id") =!= 0), q, 10)
    }),
    "q_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding")).head()
        .getSeq[Float](0).toArray
      Similarity.lshCosineTopK(e.filter(col("vec_id") =!= 0), q, 10)
    }),
    // IVF index family: k-means coarse quantizer, nprobe-list search.
    // The Lloyd iterations run ONCE per (session, dir) — the centroid
    // table is the index-build artifact, shared by every consumer, not a
    // per-query recompute (same contract as SigCache for signatures)
    "q_ann_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding")).head()
        .getSeq[Float](0).toArray
      val cents = CentroidCache.centroids(s, dir)
      Similarity.ivfCosineTopK(e.filter(col("vec_id") =!= 0), q, 10,
        nprobe = Similarity.nprobeForNlist(cents.length),
        precomputed = Some(cents))
    }),
    // materialized-index paths IN the battery: write the index once to a
    // staging dir, probe it through partition pruning, return the top-k
    // (results pinned equal to the in-memory/one-shot forms by ScaleOpsSpec)
    "q_ann_lsh_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding")).head()
        .getSeq[Float](0).toArray
      val idx = java.nio.file.Files.createTempDirectory("graft-lsh-idx").toString
      try {
        Similarity.writeLshIndex(e.filter(col("vec_id") =!= 0), idx)
        Similarity.queryLshIndex(s, idx, q, 10).localCheckpoint()
      } finally graft.kg.Lineage.deleteRecursively(idx)
    }),
    "q_ann_ivf_index" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding")).head()
        .getSeq[Float](0).toArray
      val idx = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
      try {
        val cents = CentroidCache.centroids(s, dir)
        Similarity.writeIvfIndex(e.filter(col("vec_id") =!= 0), idx,
          precomputed = Some(cents))
        Similarity.queryIvfIndex(s, idx, q, 10,
          nprobe = Similarity.nprobeForNlist(cents.length)).localCheckpoint()
      } finally graft.kg.Lineage.deleteRecursively(idx)
    }),
    // int8 symmetric quantization — the embedding-storage compression pass;
    // exact-integer stats + code digest make the full vector oracle-checked
    "q_embed_quantize" -> ((s, dir) => Similarity.quantizeInt8(t(s, dir, "embeddings"))),
    "q_nn_join" -> ((s, dir) => Similarity.nearestNeighborJoin(t(s, dir, "embeddings"), 100)),
    "q_embed_neardup" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), 150, 0.3)),
    // the 100 TB forms: banded sign-LSH pair generation + batch kNN over the
    // FULL table (no id cap) — no cross join anywhere in the plan
    // both ride the shared verified pair table (AnnPairsCache, built at
    // τ = 0.2): the τ = 0.3 pair report is the exact filter of it (the
    // threshold only gates the final compare on the round-4 cosine)
    "q_ann_pairs" -> ((s, dir) =>
      AnnPairsCache.pairs(s, dir).filter(col("cosine") >= 0.3)),
    "q_ann_knn" -> ((s, dir) =>
      Similarity.annTopKJoin(t(s, dir, "embeddings"), k = 1, minCosine = 0.2,
        precomputedPairs = Some(AnnPairsCache.pairs(s, dir)))),
    // SemDeDup: fixed-point k-means clusters (shared with the IVF family
    // via CentroidCache) + within-cluster cosine pruning -> keep-list
    "q_semdedup" -> ((s, dir) =>
      Similarity.semDeDup(
        t(s, dir, "embeddings").filter(col("vec_id") =!= 0),
        tau = SemDedupTau,
        precomputed = Some(CentroidCache.centroids(s, dir)))),

    // ---- text analysis -----------------------------------------------------------
    "q_lang_id" -> ((s, dir) => TextAnalysis.langId(t(s, dir, "documents"))),
    "q_quality_score" -> ((s, dir) => TextAnalysis.qualityScore(t(s, dir, "documents"))),
    "q_token_counts" -> ((s, dir) => TextAnalysis.tokenCounts(t(s, dir, "documents"))),
    "q_fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(t(s, dir, "documents"))),
    "q_hash_sample" -> ((s, dir) => TextAnalysis.hashSample(t(s, dir, "documents"))),
    // KMV distinct sketch: k smallest distinct token hashes → estimate
    "q_kmv_distinct" -> ((s, dir) => TextAnalysis.kmvDistinctTokens(t(s, dir, "documents"))),
    // composed curation pipeline: lang filter → quality gates → near-dup drop
    "q_curation_pipeline" -> ((s, dir) =>
      TextAnalysis.curationPipeline(t(s, dir, "documents"),
        sigs = Some(SigCache.sigs(s, dir)),
        pairs = Some(LshPairsCache.pairs(s, dir)))),
    // Count-Min sketch point queries for the stopword candidates
    "q_cms_estimate" -> ((s, dir) => TextAnalysis.cmsEstimate(t(s, dir, "documents"),
      TextAnalysis.stopwords.toSeq.sortBy(_._1).flatMap(_._2).distinct)),
    "q_tfidf_top_terms" -> ((s, dir) => TextAnalysis.tfidfTopTerms(t(s, dir, "documents"))),
    // winnowing (rolling-hash) fingerprint clusters over the FULL corpus:
    // docs sharing substrings of length >= w+k-1 share a fingerprint
    "q_winnow_clusters" -> ((s, dir) =>
      WinnowCache.fps(s, dir)
        .groupBy(col("fingerprint"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") > 1)
        .groupBy(col("n_docs")).agg(count(lit(1)).as("n_fingerprints"))),
    // winnow near-dup candidate pairs, full corpus, bucket-bounded kernel
    "q_winnow_pairs" -> ((s, dir) =>
      TextAnalysis.winnowCandidatePairs(s, t(s, dir, "documents"),
        fingerprints = Some(WinnowCache.fps(s, dir)))),
    // corpus-frequency rarity score (division-exact CCNet-style signal)
    "q_rarity_score" -> ((s, dir) => TextAnalysis.rarityScore(t(s, dir, "documents"))),
    // source/domain-level curation gate (RefinedWeb-style whole-source drop)
    "q_source_stats" -> ((s, dir) => TextAnalysis.sourceStats(t(s, dir, "documents"))),
    // concat-and-chunk sequence packing via the distributed prefix sum
    "q_pack_chunks" -> ((s, dir) =>
      TextAnalysis.packChunks(t(s, dir, "documents"), PackCapacity)),
    // token-distribution shift between two sources (mixture-drift signal)
    "q_token_shift" -> ((s, dir) =>
      TextAnalysis.tokenShift(t(s, dir, "documents"), ShiftSourceA, ShiftSourceB, ShiftTopK)),

    // semi-structured JSON property-bag parse + exact-int aggregate
    "q_json_props" -> ((s, dir) =>
      SemiStructured.propStats(t(s, dir, "events"), PropHiK)),

    // gap-based sessionization: gaps-and-islands in per-user windows,
    // ONE exchange end to end (plan-asserted in SessionsSpec)
    "q_sessionize" -> ((s, dir) =>
      Sessions.sessionize(t(s, dir, "events"), SessionGapSeconds)),

    // ordered funnel (windowFunnel shape): chained conditional window
    // minima over one user-keyed exchange
    "q_funnel" -> ((s, dir) =>
      Sessions.funnel(t(s, dir, "events"), FunnelSteps)),

    // deadline variant: later steps must land within FunnelWindowSeconds
    // of the step-1 anchor
    "q_funnel_window" -> ((s, dir) =>
      Sessions.funnel(t(s, dir, "events"), FunnelSteps, Some(FunnelWindowSeconds))),

    // weekly cohort retention: exact integral epoch weeks, user-keyed
    // window for the cohort, one aggregate on (cohort, offset)
    "q_retention" -> ((s, dir) =>
      Sessions.retention(t(s, dir, "events"))),

    // exact rank-pick percentiles: integer arithmetic only, per-source
    // parallel windows
    "q_length_percentiles" -> ((s, dir) =>
      TextAnalysis.lengthPercentiles(t(s, dir, "documents"), PercentileList)),

    // ---- multimodal plumbing -------------------------------------------------------
    // pure binary metadata over the opaque-payload table (no decode)
    "q_media_meta" -> ((s, dir) =>
      Multimodal.binaryMeta(s, Multimodal.mediaTable(t(s, dir, "documents")))
        .select(col("doc_id"), col("byte_len").cast("long").as("byte_len"), col("content_md5"))),
    // REAL container decode: synthesize structurally-real PNG/GIF/JPEG
    // containers, then parse the headers back with the fixed-offset byte
    // readers — the oracle recomputes format/dims/length from the content
    // length, so a wrong offset or endianness breaks the hash
    "q_media_decode" -> ((s, dir) =>
      MediaCache.meta(s, dir)
        .select(col("doc_id"), col("format"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_frames").cast("long").as("n_frames"),
          col("byte_len").cast("long").as("byte_len"))),
    "q_media_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(MediaCache.meta(s, dir))
        .select(col("doc_id"), col("n_frames").cast("long").as("n_frames"),
          col("frame_idx").cast("long").as("frame_idx"))),
    // resize planning (letterbox math) over the PARSED dims
    "q_media_resize" -> ((s, dir) =>
      Multimodal.resizePlan(MediaCache.meta(s, dir))
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("scale"),
          col("out_w").cast("long").as("out_w"),
          col("out_h").cast("long").as("out_h"))),
    // per-frame CONTENT-DERIVED feature extraction: the multimodal → vector
    // bridge into the ANN operators — every vector component comes from the
    // parsed dims + the frame's decoded payload bytes, so the oracle
    // recomputes the full 16-dim vector from the documents table
    "q_media_features" -> ((s, dir) => {
      val media = MediaCache.synth(s, dir)
      val meta = MediaCache.meta(s, dir)
      Multimodal.frameFeatures(s, Multimodal.sampleFrames(meta), media)
        .select(Seq(col("doc_id"), col("frame_idx").cast("long").as("frame_idx")) ++
          (0 until 16).map(i =>
            element_at(col("embedding"), i + 1).cast("long").as(s"e$i")): _*)
    }),

    // ---- streaming --------------------------------------------------------------------
    // statePartitions = 4 for both streaming queries: each micro-batch pays
    // one state-store commit per partition, and the grouping keys here are
    // tiny/modest (a handful of event_types; thousands of dedup keys), so a
    // narrow state shuffle is the right width — BenchExtra streamwin/
    // streamdedup minimums: 32 → 4.39/2.41 s, 8 → 2.81/1.38 s,
    // 4 → 2.30/1.26 s, 2 → 2.42/1.43 s. The knob (not the constant) is the
    // production contract: raise it with key cardinality.
    "q_stream_window" -> ((s, dir) =>
      Streaming.windowedEventCounts(s, s"$dir/events.parquet", statePartitions = 4)
        .select(col("window_start"), col("event_type"), col("n"),
          col("total_value").cast("double").as("total_value"))),

    // stateful streaming dedup (watermark-bounded state)
    "q_stream_dedup" -> ((s, dir) =>
      Streaming.streamingDedup(s, s"$dir/events.parquet", statePartitions = 4)),

    // streaming KG construction end to end: pages stream → score + link per
    // micro-batch → raw sink → batch dedup (batch-boundary independent)
    "kg_stream_triples" -> ((s, _) => {
      val pagesDir = java.nio.file.Files.createTempDirectory("graft-stream-pages").toString
      try {
        // 4 partitions (was session parallelism = 32 one-row files): fewer
        // staged files = fewer stream-source list/open costs; rows identical
        Pipeline.generatePages(s, 100, partitions = 4, withText = true)
          .write.mode("overwrite").parquet(pagesDir)
        // the stream runs synchronously (AvailableNow) and the result is
        // materialized inside streamingKgTriples — safe to clean up. The
        // raw append-only triple table lands in OracleFixtureDir so the
        // compaction/dedup stage is oracle-checked over the same bytes.
        Streaming.streamingKgTriples(s, pagesDir, BundleCache.bundle,
          rawOut = Some(s"$OracleFixtureDir/stream_kg"))
      } finally graft.kg.Lineage.deleteRecursively(pagesDir)
    }),

    // J1: vocab lookup as a left join with UNK fallback (id 0)
    "q_vocab_lookup_join" -> ((s, dir) => {
      val tok = t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
      val agg = TokAggCache.agg(s, dir).filter(col("cnt") > 30)
      val vocab = graft.ops.Rank
        .globalRowNumber(agg, Seq(col("first_doc"), col("token")), "token_id")
        .select(col("token"), col("token_id"))
      tok.join(vocab, Seq("token"), "left")
        .select(coalesce(col("token_id"), lit(0L)).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("cnt"))
    }),

    // custom Catalyst expression (codegen'd): softmax+argmax scoring tail
    "q_softmax_argmax" -> ((s, dir) => {
      graft.functions.SoftmaxArgmax.register(s)
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          graft.functions.SoftmaxArgmax.softmax_argmax(
            col("embedding").cast("array<double>")).as("sa"))
        .select(col("vec_id"), col("sa.idx").as("arg_idx"),
          round(col("sa.conf"), 6).as("conf"))
    }),
  )

  /** Testdata invariant: embeddings are 64-dim at every scale factor (the
    * oracle SQL below bakes the seeded hyperplanes in as literals, so the
    * dimension must be known without a SparkSession). */
  private val EmbeddingDim = 64

  /** SemDeDup cosine threshold — ONE constant feeds both the Spark query
    * and the oracle SQL so the two sides cannot drift. */
  private val SemDedupTau = 0.35

  /** Packing chunk capacity (tokens per training row) — shared by the
    * `q_pack_chunks` query and its oracle SQL. */
  private val PackCapacity = 1024L

  /** Token-shift comparison pair + top-k — `src0`/`src1` exist at every
    * scale factor of the driver's testdata; one set of constants feeds
    * both the Spark query and the oracle SQL. */
  private val ShiftSourceA = "src0"
  private val ShiftSourceB = "src1"
  private val ShiftTopK = 100

  /** High-`k` threshold for the JSON property-bag stats — one constant
    * feeds both the Spark query and the oracle SQL. */
  private val PropHiK = 50L

  /** Session gap (seconds of user silence that starts a new session) —
    * one constant feeds both the Spark query and the oracle SQL. */
  private val SessionGapSeconds = 1800L

  /** Funnel step sequence over the events table's type vocabulary. */
  private val FunnelSteps = Seq("view", "click", "purchase")

  /** Deadline for the windowed funnel: 24 h of the step-1 anchor (splits
    * the sf corpora into a genuine mix of depths: 9/3/3 users at
    * sf0.001). */
  private val FunnelWindowSeconds = 86400L

  /** Percentile list (integer percents) for the length-distribution
    * summary — one constant feeds both engines. */
  private val PercentileList = Seq(50, 90, 99)

  /** The banded-ANN hyperplanes as a DuckDB VALUES list `(band, bit, vec)`.
    * [[graft.ops.Similarity.hyperplanes]] is a pure function of (seed, dim),
    * so the EXACT planes the Spark plan uses are materialized into the
    * oracle SQL — shortest-round-trip Double rendering parses back to the
    * identical IEEE double in DuckDB. `bit` carries 1 << planeIndex so the
    * bucket key is a plain SUM, no shift operator needed. */
  private def annPlanesValues(bands: Int, planesPerBand: Int, seed: Long): String =
    (0 until bands).flatMap { l =>
      Similarity.hyperplanes(planesPerBand, EmbeddingDim, seed + 31L * l)
        .zipWithIndex.map { case (p, i) =>
          s"($l, ${1 << i}, [${p.map(_.toDouble.toString).mkString(", ")}]::DOUBLE[])"
        }
    }.mkString(",\n           ")

  /** Single-table LSH planes `(bit, vec)` for the top-k probe oracle. */
  private def lshPlanesValues(nPlanes: Int, seed: Long): String =
    Similarity.hyperplanes(nPlanes, EmbeddingDim, seed).zipWithIndex.map { case (p, i) =>
      s"(${1 << i}, [${p.map(_.toDouble.toString).mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n           ")

  /** Shared SQL: exact cosine between two DOUBLE[] columns, rounded to 4
    * places exactly as the Spark `cosine_sim` tail does. */
  private def cosineSql(a: String, b: String): String =
    s"""ROUND(list_dot_product($a, $b) /
        (SQRT(list_dot_product($a, $a)) * SQRT(list_dot_product($b, $b))), 4)"""

  /** `q_ann_lsh` and `q_ann_lsh_index` are defined to return the identical
    * top-k (the index path only adds partition pruning), so they share one
    * oracle: bucket = sign pattern over the 4 seeded planes, probe set =
    * query bucket + its four Hamming-1 neighbors. */
  private lazy val annLshOracle: String =
    s"""WITH planes(bit, vec) AS (VALUES
           ${lshPlanesValues(4, 7L)}),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         q AS (SELECT emb AS qe FROM e WHERE vec_id = 0),
         qb AS (SELECT CAST(SUM(CASE WHEN list_dot_product(q.qe, p.vec) > 0
                    THEN p.bit ELSE 0 END) AS INT) AS qbucket
                FROM q CROSS JOIN planes p),
         buckets AS (SELECT e.vec_id,
             CAST(SUM(CASE WHEN list_dot_product(e.emb, p.vec) > 0
                  THEN p.bit ELSE 0 END) AS INT) AS bucket
           FROM e CROSS JOIN planes p WHERE e.vec_id <> 0 GROUP BY e.vec_id)
         SELECT b.vec_id, ${cosineSql("e.emb", "q.qe")} AS cosine
         FROM buckets b JOIN e ON b.vec_id = e.vec_id CROSS JOIN q CROSS JOIN qb
         WHERE b.bucket IN (qb.qbucket, xor(qb.qbucket, 1), xor(qb.qbucket, 2),
                            xor(qb.qbucket, 4), xor(qb.qbucket, 8))
         ORDER BY cosine DESC, b.vec_id ASC LIMIT 10"""

  /** `q_ann_ivf` / `q_ann_ivf_index` share one oracle (the index path only
    * adds partition pruning — pinned equal in ScaleOpsSpec), and the oracle
    * recomputes the ENTIRE IVF family in SQL — Lloyd centroids included:
    *
    *  - the Spark accumulator is exact fixed-point (`Similarity
    *    .CentroidScale` = 2^20: `floor(v·2^20 + 0.5)` summed as Longs), so
    *    DuckDB's HUGEINT sums land on the identical integers regardless of
    *    either engine's aggregation order, and
    *    `centroid_d = sum / (count·2^20)` is one double division — bit-equal
    *    both sides;
    *  - assignments/probes compare the IDENTICAL quantity both sides: the
    *    raw SQUARED L2 sum, accumulated left-to-right ([[sqDistSql]] — a
    *    zip-lambda `list_sum`, which DuckDB folds in list order exactly like
    *    the Scala while-loop in `Similarity.nearestCentroid`). No sqrt
    *    anywhere, so there is no rounding step that could collapse two
    *    distinct squared distances into a SQL-side tie;
    *  - the final cosine is the established `list_dot_product` bridge.
    *
    * The 5 Lloyd iterations are unrolled as chained CTEs (a{i} = assignment
    * under c{i-1}, s{i} = per-(list, dim) exact sums, c{i} = new centroid
    * list with empty lists keeping their previous centroid). nlist and
    * nprobe are COUNT(*)-derived in the `param` CTE — the same
    * `nlistForCorpus` √n-with-min-population rule / `nprobeForNlist`
    * nlist/8 rule the battery applies (sqrt/ceil are correctly-rounded IEEE
    * ops, identical across engines for integer inputs). */
  private def sqDistSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> (x[1] - x[2]) * (x[1] - x[2])))"

  /** Assignment CTE: each vector of `e` to its nearest (squared-L2,
    * ties → lower list) centroid of `cents`. Shared by the IVF and
    * SemDeDup oracles. */
  private def lloydAssignSql(name: String, cents: String): String =
    s"""$name AS (SELECT vec_id, v, list FROM (
         SELECT e.vec_id, e.v, c.list,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY ${sqDistSql("e.v", "c.cent")} ASC, c.list ASC) AS rn
         FROM e CROSS JOIN $cents c) WHERE rn = 1)"""

  /** The shared Lloyd-k-means CTE chain (see [[ivfOracle]]'s doc for the
    * cross-engine exactness argument): `e` (corpus vectors, vec_id 0 is the
    * battery's held-out query vector), `param` (COUNT(*)-derived nlist via
    * the `nlistForCorpus` rule), `c0` (init = nlist smallest vec_ids), and
    * `iters` unrolled assignment/sum/recenter steps ending at `c{iters}`. */
  private def lloydCtes(iters: Int): String = {
    val scale = graft.ops.Similarity.CentroidScale
    val steps = (1 to iters).map { i =>
      s"""${lloydAssignSql(s"a$i", s"c${i - 1}")},
         s$i AS (SELECT a.list, dims.d,
             CAST(SUM(CAST(floor(a.v[dims.d] * $scale.0 + 0.5) AS BIGINT)) AS BIGINT) AS sv,
             COUNT(*) AS n
           FROM a$i a CROSS JOIN dims GROUP BY a.list, dims.d),
         c$i AS (SELECT p.list, COALESCE(nc.cent, p.cent) AS cent
           FROM c${i - 1} p LEFT JOIN (
             SELECT list, list(CAST(sv AS DOUBLE) / CAST(n * $scale AS DOUBLE) ORDER BY d) AS cent
             FROM s$i GROUP BY list) nc ON p.list = nc.list)"""
    }.mkString(",\n         ")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings WHERE vec_id <> 0),
         dims AS (SELECT UNNEST(generate_series(1, $EmbeddingDim)) AS d),
         param AS (SELECT nlist, GREATEST(2, nlist // 8) AS nprobe FROM (
             SELECT LEAST(65536,
               GREATEST(8, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)),
               GREATEST(8, COUNT(*) // 256)) AS nlist FROM e)),
         c0 AS (SELECT rn - 1 AS list, v AS cent FROM (
             SELECT v, ROW_NUMBER() OVER (ORDER BY vec_id ASC) AS rn FROM e)
           WHERE rn <= (SELECT nlist FROM param)),
         $steps"""
  }

  private def ivfOracle(iters: Int = 5, k: Int = 10): String =
    s"""WITH ${lloydCtes(iters)},
         q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
         probe AS (SELECT list FROM (
             SELECT c.list, ROW_NUMBER() OVER (
               ORDER BY ${sqDistSql("c.cent", "q.qe")} ASC, c.list ASC) AS rn
             FROM c$iters c CROSS JOIN q)
           WHERE rn <= (SELECT nprobe FROM param)),
         ${lloydAssignSql("afinal", s"c$iters")}
         SELECT a.vec_id, ${cosineSql("a.v", "q.qe")} AS cosine
         FROM afinal a CROSS JOIN q
         WHERE a.list IN (SELECT list FROM probe)
         ORDER BY cosine DESC, a.vec_id ASC LIMIT $k"""

  /** `q_semdedup`: the SAME Lloyd chain yields the cluster assignment, the
    * pairwise stage is a within-list self-join (the oracle-side mirror of
    * the cluster-keyed self-join in `Similarity.semDeDup` — quadratic only
    * within a cluster, exactly the paper's tractability bound), and a
    * vector is kept iff no lower-id vector in its cluster has round-4
    * cosine ≥ tau. The round-4 cosine is the established exact bridge, so
    * the threshold compare agrees bit-for-bit. */
  private def semDedupOracle(tau: Double, iters: Int = 5): String =
    s"""WITH ${lloydCtes(iters)},
         ${lloydAssignSql("afinal", s"c$iters")},
         dropped AS (SELECT DISTINCT b.vec_id
             FROM afinal a JOIN afinal b
               ON a.list = b.list AND a.vec_id < b.vec_id
             WHERE ${cosineSql("a.v", "b.v")} >= $tau)
         SELECT a.vec_id, CAST(a.list AS BIGINT) AS list,
                (d.vec_id IS NULL) AS kept
         FROM afinal a LEFT JOIN dropped d ON a.vec_id = d.vec_id"""

  /** The Rabin-Karp k-gram hash of `winnow` as a DuckDB expression over
    * 1-based position `i`: h = ((c_0·B + c_1)·B + c_2)… with B = 1e9+7,
    * every step reduced mod 2^64 in HUGEINT (exactly the two's-complement
    * wrap of the Scala Long arithmetic — the fresh polynomial mod 2^64
    * equals the Scala rolling recurrence mod 2^64). Testdata text is pure
    * ASCII, so `unicode(substr(...))` ≡ `charAt`. */
  private def winnowHashExpr(k: Int): String = {
    val m = "18446744073709551616::HUGEINT"
    (1 until k).foldLeft("CAST(unicode(substr(text, i, 1)) AS HUGEINT)") { (acc, j) =>
      s"(($acc * 1000000007 + unicode(substr(text, i+$j, 1))) % $m)"
    }
  }

  /** Shared winnow-fingerprint CTE (k=8, w=6): per-doc k-gram hashes →
    * signed-64 view → rightmost-min-of-each-6-window (the emitted VALUE is
    * the window minimum, so the rightmost tie-break affects only which
    * index is selected, never the value) → distinct (doc_id, fp). Short
    * hash sequences (m ≤ w) emit the single global min, which the clipped
    * frame at i=1 produces. */
  private lazy val winnowFpCte: String =
    s"""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
         g AS (SELECT doc_id, text,
             UNNEST(generate_series(1, CAST(n AS INT) - 7)) AS i
           FROM d WHERE n >= 8),
         hh AS (SELECT doc_id, i, ${winnowHashExpr(8)} AS hu FROM g),
         hs AS (SELECT doc_id, i,
             CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
                  THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS BIGINT) AS h
           FROM hh),
         cnt AS (SELECT doc_id, COUNT(*) AS m FROM hs GROUP BY doc_id),
         wm AS (SELECT doc_id, i,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN CURRENT ROW AND 5 FOLLOWING) AS fp
           FROM hs),
         fp AS (SELECT DISTINCT wm.doc_id, wm.fp
           FROM wm JOIN cnt ON wm.doc_id = cnt.doc_id
           WHERE wm.i <= GREATEST(cnt.m - 5, 1))"""

  /** Banding keys for the 12-band × 3-plane ANN family — shared CTE prefix
    * of the `q_ann_pairs` / `q_ann_knn` oracles. */
  private lazy val annKeysCte: String =
    s"""WITH planes(band, bit, vec) AS (VALUES
           ${annPlanesValues(12, 3, 7L)}),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         keys AS (SELECT e.vec_id, p.band,
             CAST(SUM(CASE WHEN list_dot_product(e.emb, p.vec) > 0
                  THEN p.bit ELSE 0 END) AS INT) AS key
           FROM e CROSS JOIN planes p GROUP BY e.vec_id, p.band)"""

  def oracleSql: Map[String, String] = Map(

    // ---- kg relational tail over OracleFixtureDir fixtures --------------------
    // the battery query froze its deterministic upstream table (and reads it
    // back itself), so DuckDB recomputes the join/agg over identical bytes

    // J5 link (salt is an implementation detail of the shuffle — the result
    // is the plain equi-join) + A9 dedup
    "kg_salted_link" ->
      s"""WITH scored AS (SELECT * FROM '$OracleFixtureDir/scored_120.parquet/*.parquet'),
         dict AS (SELECT * FROM '$OracleFixtureDir/entity_dict.parquet/*.parquet'),
         linked AS (
           SELECT sd.entityId AS subject_id, sc.relation, od.entityId AS object_id,
                  sc.confidence
           FROM scored sc
           JOIN dict sd ON sc.subjectSurface = sd.surface AND sc.subjectNer = sd.ner
           JOIN dict od ON sc.objectSurface = od.surface AND sc.objectNer = od.ner)
         SELECT subject_id, relation, object_id, MAX(confidence) AS confidence,
           COUNT(*) AS support
         FROM linked GROUP BY 1, 2, 3""",

    // A7 native: per-length error aggregation over the frozen scored split
    "kg_error_by_length" ->
      s"""SELECT "length", COUNT(*) AS cnt,
           CAST(SUM(CASE WHEN pred <> targ THEN 1 ELSE 0 END) AS BIGINT) AS errors,
           CAST(CAST(SUM(CASE WHEN pred <> targ THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
             / COUNT(*) AS error_rate
         FROM '$OracleFixtureDir/scored_eval.parquet/*.parquet' GROUP BY "length"""",

    // A8 native: the per-relation report aggregation (full-outer join of
    // by-target and by-predicted counts + ratio columns) over the frozen
    // deploy-scored split
    "kg_eval_report" ->
      s"""WITH s AS (SELECT * FROM '$OracleFixtureDir/scored_eval_deploy.parquet/*.parquet'),
         bt AS (SELECT targ AS relation, COUNT(*) AS support,
                  CAST(SUM(CASE WHEN pred = targ THEN 1 ELSE 0 END) AS BIGINT) AS tp
                FROM s GROUP BY targ),
         bp AS (SELECT pred AS relation, COUNT(*) AS pred_cnt FROM s GROUP BY pred)
         SELECT COALESCE(bt.relation, bp.relation) AS relation,
           COALESCE(support, 0) AS support, COALESCE(tp, 0) AS tp,
           COALESCE(pred_cnt, 0) AS pred_cnt,
           CASE WHEN COALESCE(pred_cnt, 0) > 0
             THEN CAST(COALESCE(tp, 0) AS DOUBLE) / pred_cnt ELSE 0.0 END AS "precision",
           CASE WHEN COALESCE(support, 0) > 0
             THEN CAST(COALESCE(tp, 0) AS DOUBLE) / support ELSE 0.0 END AS recall
         FROM bt FULL OUTER JOIN bp ON bt.relation = bp.relation""",

    // B2/A9: the streaming pipeline's compaction — dedup over the raw
    // append-only triple table the stream produced
    "kg_stream_triples" ->
      s"""SELECT subject_id, relation, object_id, MAX(confidence) AS confidence,
           COUNT(*) AS support
         FROM '$OracleFixtureDir/stream_kg/raw/*.parquet' GROUP BY 1, 2, 3""",

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         COUNT(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",

    "q_vocab_build" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
         agg AS (SELECT token, COUNT(*) AS cnt, MIN(doc_id) AS first_doc FROM tok GROUP BY token)
         SELECT token, cnt, first_doc,
           ROW_NUMBER() OVER (ORDER BY first_doc, token) AS token_id FROM agg""",

    "q_vocab_prune" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
         agg AS (SELECT token, COUNT(*) AS cnt, MIN(doc_id) AS first_doc FROM tok GROUP BY token)
         SELECT token, cnt, first_doc,
           ROW_NUMBER() OVER (ORDER BY first_doc, token) AS token_id FROM agg WHERE cnt > 2""",

    "q_label_histogram" ->
      "SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang",

    "q_confusion" ->
      "SELECT lang, source, COUNT(*) AS cnt FROM documents GROUP BY lang, source",

    "q_confusion_norm" ->
      """WITH c AS (SELECT lang, source, COUNT(*) AS cnt FROM documents GROUP BY lang, source)
         SELECT lang, source, cnt,
           CAST(cnt AS DOUBLE) / SUM(cnt) OVER (PARTITION BY lang) AS rate
         FROM c""",

    "q_micro_prf" ->
      """WITH e AS (SELECT event_type AS targ,
           CASE WHEN value > 100 THEN 'purchase' ELSE event_type END AS pred FROM events),
         m AS (SELECT
           CAST(SUM(CASE WHEN pred = targ AND targ <> 'view' THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN pred <> 'view' THEN 1 ELSE 0 END) AS BIGINT) AS pred_pos,
           CAST(SUM(CASE WHEN targ <> 'view' THEN 1 ELSE 0 END) AS BIGINT) AS targ_pos FROM e)
         SELECT tp, pred_pos, targ_pos,
           CAST(tp AS DOUBLE) / pred_pos AS precision,
           CAST(tp AS DOUBLE) / targ_pos AS recall FROM m""",

    "q_accuracy" ->
      """WITH e AS (SELECT event_type,
           CASE WHEN value > 100 THEN 'purchase' ELSE event_type END AS pred FROM events)
         SELECT CAST(SUM(CASE WHEN pred = event_type THEN 1 ELSE 0 END) AS BIGINT) AS correct,
           COUNT(*) AS total,
           CAST(SUM(CASE WHEN pred = event_type THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accuracy
         FROM e""",

    "q_error_by_length" ->
      """SELECT CAST(FLOOR(n_chars / 100.0) AS BIGINT) AS len_bucket, COUNT(*) AS cnt,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS error_rate
         FROM documents GROUP BY 1""",

    "q_per_class_report" ->
      """WITH e AS (SELECT event_type AS targ,
           CASE WHEN value > 100 THEN 'purchase' ELSE event_type END AS pred FROM events),
         bt AS (SELECT targ AS label, COUNT(*) AS support,
           CAST(SUM(CASE WHEN pred = targ THEN 1 ELSE 0 END) AS BIGINT) AS tp FROM e GROUP BY targ),
         bp AS (SELECT pred AS label, COUNT(*) AS pred_cnt FROM e GROUP BY pred)
         SELECT bt.label, bt.support, bt.tp,
           CAST(COALESCE(bp.pred_cnt, 0) AS BIGINT) AS pred_cnt,
           CAST(bt.tp AS DOUBLE) / COALESCE(bp.pred_cnt, 0) AS precision,
           CAST(bt.tp AS DOUBLE) / bt.support AS recall
         FROM bt LEFT JOIN bp ON bt.label = bp.label""",

    "q_dedup_triples" ->
      """SELECT user_id, event_type, MAX(value) AS confidence, COUNT(*) AS support
         FROM events GROUP BY user_id, event_type""",

    "q_distinct_nodes" ->
      """SELECT DISTINCT node_id FROM (
           SELECT o_custkey AS node_id FROM orders
           UNION ALL SELECT o_orderkey AS node_id FROM orders)""",

    "q_broadcast_join" ->
      """SELECT n_name,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_orders
         FROM orders JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         GROUP BY n_name""",

    "q_large_join" ->
      """SELECT o_orderpriority,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         COUNT(*) AS n_rows
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_orderpriority""",

    "q_semi_join" ->
      """SELECT l_returnflag, COUNT(*) AS cnt FROM lineitem
         WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)
         GROUP BY l_returnflag""",

    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""",

    "q_report_align" ->
      """WITH a AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
         s AS (SELECT lang, COUNT(*) AS src0_cnt,
               CAST(SUM(n_chars) AS BIGINT) AS src0_chars
               FROM documents WHERE source = 'src0' GROUP BY lang)
         SELECT a.lang, a.cnt, CAST(COALESCE(s.src0_cnt, -1) AS BIGINT) AS src0_cnt,
           CAST(COALESCE(s.src0_chars, -1) AS BIGINT) AS src0_chars
         FROM a LEFT JOIN s ON a.lang = s.lang""",

    "q_report_parse" ->
      """SELECT * FROM (VALUES
           ('no_relation','86.00%','34.00%','49.00%','6191','100.00%','0.00%','0.00%','9'),
           ('per:employee_of','50.00%','25.00%','33.00%','12','N/A','N/A','N/A','N/A'),
           ('per:spouse','75.00%','60.00%','67.00%','20','50.00%','25.00%','33.33%','3'))
         AS t(relation, nn_precision, nn_recall, nn_f1, nn_support,
              sup_precision, sup_recall, sup_f1, sup_support)""",

    "q_wrongs_join" ->
      """WITH preds AS (SELECT event_id,
           CASE WHEN value > 100 THEN 'purchase' ELSE event_type END AS pred FROM events)
         SELECT e.event_id, e.event_type AS targ, p.pred, e.user_id
         FROM preds p JOIN events e ON p.event_id = e.event_id
         WHERE p.pred <> e.event_type""",

    "q_union_sources" ->
      """SELECT lang, source, COUNT(*) AS cnt FROM (
           SELECT * FROM documents WHERE lang = 'en'
           UNION ALL SELECT * FROM documents WHERE source = 'src0')
         GROUP BY lang, source""",

    "q_scope_window" ->
      """SELECT doc_id, array_to_string(
           list_slice(string_split(text, ' '),
             GREATEST(1, list_position(string_split(text, ' '), 'spark') - 3),
             GREATEST(1, list_position(string_split(text, ' '), 'spark') - 3) + 6), ' ')
           AS window_text
         FROM documents WHERE list_position(string_split(text, ' '), 'spark') > 0""",

    "q_top_per_lang" ->
      """SELECT lang, doc_id, n_chars FROM documents
         QUALIFY ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) = 1""",

    "q_topk_docs" ->
      "SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id ASC LIMIT 10",

    "q_running_sum" ->
      """SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
             PARTITION BY user_id ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
         FROM events""",

    "q_length_buckets" ->
      """SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, COUNT(*) AS cnt
         FROM documents GROUP BY 1""",

    "q_dedup_exact" ->
      """SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_doc_id, COUNT(*) AS dup_count
         FROM documents GROUP BY md5(text)""",

    "q_minhash_sig" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         ix AS (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 2)) AS i FROM d),
         sh AS (SELECT doc_id, md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS mh FROM ix)
         SELECT doc_id,
           MIN(substr(mh, 1, 8)) AS h1, MIN(substr(mh, 9, 8)) AS h2,
           MIN(substr(mh, 17, 8)) AS h3, MIN(substr(mh, 25, 8)) AS h4
         FROM sh GROUP BY doc_id""",

    "q_lsh_pairs" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         ix AS (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 2)) AS i FROM d),
         sh AS (SELECT doc_id, md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS mh FROM ix),
         sig AS (SELECT doc_id, MIN(substr(mh, 1, 8)) AS h1, MIN(substr(mh, 9, 8)) AS h2
                 FROM sh GROUP BY doc_id)
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM sig a JOIN sig b ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id""",

    "q_dedup_clusters" ->
      """WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         ix AS (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 2)) AS i FROM d),
         sh AS (SELECT doc_id, md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS mh FROM ix),
         sig AS (SELECT doc_id, MIN(substr(mh, 1, 8)) AS h1, MIN(substr(mh, 9, 8)) AS h2
                 FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS a, b.doc_id AS b
                   FROM sig a JOIN sig b ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id),
         sym AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
         reach(node, root) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
         )
         SELECT node AS doc_id, CAST(MIN(root) AS BIGINT) AS cluster
         FROM reach GROUP BY node""",

    "q_graph_components" ->
      """WITH RECURSIVE e AS (SELECT CAST(o_custkey AS BIGINT)*2 AS a,
                                     CAST(o_orderkey AS BIGINT)*2+1 AS b FROM orders),
         n AS (SELECT DISTINCT a AS node FROM e UNION SELECT DISTINCT b FROM e),
         sym AS (SELECT a, b FROM e UNION SELECT b AS a, a AS b FROM e),
         reach(node, root) AS (
           SELECT node, node FROM n
           UNION
           SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node)
         SELECT node, CAST(MIN(root) AS BIGINT) AS cluster
         FROM reach GROUP BY node""",

    "q_ngram_jaccard_demo" ->
      """WITH docs AS (SELECT doc_id, lang, string_split(text, ' ') AS t
                       FROM documents WHERE doc_id < 200),
         ix AS (SELECT doc_id, lang, t, UNNEST(generate_series(1, len(t) - 2)) AS i FROM docs),
         tok AS (SELECT DISTINCT doc_id, lang,
                 t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS token FROM ix),
         sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM tok GROUP BY doc_id),
         inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter_size
                   FROM tok a JOIN tok b ON a.lang = b.lang AND a.token = b.token
                   AND a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
         SELECT doc_a, doc_b,
           CAST(inter_size AS DOUBLE) / (sa.set_size + sb.set_size - inter_size) AS jaccard
         FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id""",

    // scale form: LSH-banded candidates (same (h1,h2) band key as
    // q_lsh_pairs) + exact md5-shingle-set Jaccard verify — no id cap
    "q_ngram_jaccard_lsh" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         ix AS (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 2)) AS i FROM d),
         sh AS (SELECT doc_id, md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]) AS mh FROM ix),
         sig AS (SELECT doc_id, MIN(substr(mh, 1, 8)) AS h1, MIN(substr(mh, 9, 8)) AS h2
                 FROM sh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                   FROM sig a JOIN sig b ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id),
         tok AS (SELECT DISTINCT doc_id, mh FROM sh),
         sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM tok GROUP BY doc_id),
         inter AS (SELECT p.doc_a, p.doc_b, COUNT(*) AS inter_size
                   FROM pairs p
                   JOIN tok a ON a.doc_id = p.doc_a
                   JOIN tok b ON b.doc_id = p.doc_b AND b.mh = a.mh
                   GROUP BY p.doc_a, p.doc_b)
         SELECT doc_a, doc_b,
           CAST(inter_size AS DOUBLE) / (sa.set_size + sb.set_size - inter_size) AS jaccard
         FROM inter JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id""",

    "q_decontaminate" ->
      """WITH bench AS (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id % 97 = 0),
         bix AS (SELECT t, UNNEST(generate_series(1, len(t) - 4)) AS i FROM bench),
         bsh AS (SELECT DISTINCT
             md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]) AS sh
           FROM bix),
         d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         dix AS (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 4)) AS i FROM d),
         dsh AS (SELECT doc_id,
             md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]) AS sh
           FROM dix),
         bad AS (SELECT DISTINCT doc_id FROM dsh WHERE sh IN (SELECT sh FROM bsh))
         SELECT doc_id, lang, source FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM bad)""",

    "q_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         base AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                  CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct FROM d),
         tok AS (SELECT doc_id, UNNEST(t) AS token FROM d),
         t1 AS (SELECT doc_id, MAX(c) AS top1 FROM
                (SELECT doc_id, token, COUNT(*) AS c FROM tok GROUP BY 1, 2)
                GROUP BY doc_id),
         gix AS (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 1)) AS i FROM d),
         g AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS gr FROM gix),
         t2 AS (SELECT doc_id, MAX(c) AS top2 FROM
                (SELECT doc_id, gr, COUNT(*) AS c FROM g GROUP BY 1, 2)
                GROUP BY doc_id)
         SELECT b.doc_id, b.n_tokens,
           CAST(b.n_distinct AS DOUBLE) / b.n_tokens AS distinct_ratio,
           CAST(t1.top1 AS DOUBLE) / b.n_tokens AS top_token_frac,
           CAST(COALESCE(t2.top2, 0) AS DOUBLE) / GREATEST(b.n_tokens - 1, 1) AS top_2gram_frac
         FROM base b JOIN t1 USING (doc_id) LEFT JOIN t2 USING (doc_id)""",

    // 20-token spans via 1-based inclusive list slicing (t[i:i+19] = 20
    // elements), joined back by span digest — mirrors dupSpanStats exactly
    "q_dup_spans" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         ix AS (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 19)) AS i FROM d),
         sp AS (SELECT doc_id, md5(list_aggregate(t[i:i+19], 'string_agg', ' ')) AS sh FROM ix),
         df AS (SELECT sh, COUNT(DISTINCT doc_id) AS n_docs FROM sp GROUP BY sh),
         agg AS (SELECT s.doc_id, COUNT(*) AS n_spans,
                   SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS dup_spans
                 FROM sp s JOIN df USING (sh) GROUP BY s.doc_id)
         SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
           CAST(dup_spans AS BIGINT) AS dup_spans,
           CAST(dup_spans AS DOUBLE) / n_spans AS dup_frac
         FROM agg""",

    // maximal duplicated intervals: duplicated span-start positions →
    // gaps-and-islands (pos - row_number constant within a run); interval
    // covers tokens [start_pos, max pos + 19]
    "q_dup_intervals" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         ix AS (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 19)) AS i FROM d),
         sp AS (SELECT doc_id, i - 1 AS pos,
                  md5(list_aggregate(t[i:i+19], 'string_agg', ' ')) AS sh FROM ix),
         df AS (SELECT sh, COUNT(DISTINCT doc_id) AS n_docs FROM sp GROUP BY sh),
         dup AS (SELECT doc_id, pos FROM sp JOIN df USING (sh) WHERE n_docs > 1),
         g AS (SELECT doc_id, pos,
                 pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
               FROM dup)
         SELECT doc_id, MIN(pos) AS start_pos, MAX(pos) + 19 AS end_pos,
           COUNT(*) AS n_positions
         FROM g GROUP BY doc_id, grp""",

    // exact-substring cut: canonical occurrence = lexicographic-first
    // (doc_id, pos) per span hash (ROW_NUMBER here ≡ the struct-min in
    // Spark); cut positions merge into token intervals via the same
    // lag-based islands; splice = anti-join of token positions vs covered
    // positions, digest of the ordered re-join. Fully-cut docs hash ''.
    "q_dedup_cut" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         ix AS (SELECT doc_id, t, UNNEST(generate_series(1, len(t) - 19)) AS i FROM d),
         sp AS (SELECT doc_id, i - 1 AS pos,
                  md5(list_aggregate(t[i:i+19], 'string_agg', ' ')) AS sh FROM ix),
         canon AS (SELECT doc_id, pos,
                     ROW_NUMBER() OVER (PARTITION BY sh ORDER BY doc_id, pos) AS rn
                   FROM sp),
         cut AS (SELECT doc_id, pos FROM canon WHERE rn > 1),
         isl AS (SELECT doc_id, pos,
                   CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 20
                        THEN 1 ELSE 0 END AS newi
                 FROM cut),
         isl2 AS (SELECT doc_id, pos,
                   SUM(newi) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS UNBOUNDED PRECEDING) AS island
                  FROM isl),
         iv AS (SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 19 AS e
                FROM isl2 GROUP BY doc_id, island),
         ncut AS (SELECT doc_id, COUNT(*) AS n_cut_intervals FROM iv GROUP BY doc_id),
         covered AS (SELECT DISTINCT doc_id, UNNEST(generate_series(s, e)) AS cp FROM iv),
         tokpos AS (SELECT doc_id, t, UNNEST(generate_series(1, len(t))) AS i FROM d),
         kept AS (SELECT tp.doc_id, tp.i, tp.t[tp.i] AS tok
                  FROM tokpos tp LEFT JOIN covered c
                    ON tp.doc_id = c.doc_id AND tp.i - 1 = c.cp
                  WHERE c.cp IS NULL),
         cln AS (SELECT doc_id, COUNT(*) AS kept_n,
                   md5(string_agg(tok, ' ' ORDER BY i)) AS m
                 FROM kept GROUP BY doc_id)
         SELECT d.doc_id, CAST(len(d.t) AS BIGINT) AS n_tokens,
           CAST(len(d.t) - COALESCE(cln.kept_n, 0) AS BIGINT) AS cut_tokens,
           CAST(COALESCE(ncut.n_cut_intervals, 0) AS BIGINT) AS n_cut_intervals,
           COALESCE(cln.m, md5('')) AS cleaned_md5
         FROM d LEFT JOIN cln ON d.doc_id = cln.doc_id
                LEFT JOIN ncut ON d.doc_id = ncut.doc_id""",

    "q_pii_redact" ->
      """WITH spiked AS (SELECT doc_id,
           text || ' contact user' || doc_id || '@example.com or +1 555-01' || doc_id || ' now' AS text
         FROM documents),
         ne AS (SELECT doc_id, text,
           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
         FROM spiked)
         SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t1, '\+?\d[\d\- ]{6,}\d')) AS BIGINT) AS n_phones,
           md5(regexp_replace(t1, '\+?\d[\d\- ]{6,}\d', '<PHONE>', 'g')) AS redacted_md5
         FROM ne""",

    "q_mixture_sample" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE substr(md5(text), 1, 4) <
           CASE lang WHEN 'en' THEN '8000' WHEN 'es' THEN '4000'
                     WHEN 'de' THEN '2000' WHEN 'fr' THEN '1000'
                     WHEN 'zh' THEN '0800' ELSE '0000' END""",

    "q_embed_topk" ->
      """WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0)
         SELECT vec_id, ROUND(
           list_dot_product(CAST(embedding AS DOUBLE[]), q.qe) /
           (SQRT(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) *
            SQRT(list_dot_product(q.qe, q.qe))), 4) AS cosine
         FROM embeddings, q WHERE vec_id <> 0
         ORDER BY cosine DESC, vec_id ASC LIMIT 10""",

    "q_nn_join" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                    FROM embeddings WHERE vec_id < 100)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.emb, b.emb) /
             (SQRT(list_dot_product(a.emb, a.emb)) * SQRT(list_dot_product(b.emb, b.emb))), 4)
           AS cosine
         FROM e a, e b WHERE a.vec_id <> b.vec_id
         QUALIFY ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY cosine DESC, b.vec_id ASC) = 1""",

    "q_embed_neardup" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                    FROM embeddings WHERE vec_id < 150),
         pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.emb, b.emb) /
             (SQRT(list_dot_product(a.emb, a.emb)) * SQRT(list_dot_product(b.emb, b.emb))), 4)
           AS cosine
           FROM e a, e b WHERE a.vec_id < b.vec_id)
         SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.3""",

    "q_lang_id" ->
      """WITH h AS (SELECT doc_id,
           len(list_filter(string_split(text,' '), x -> x IN ('the','a','of','and','to'))) AS h_en,
           len(list_filter(string_split(text,' '), x -> x IN ('el','la','de','y','que'))) AS h_es,
           len(list_filter(string_split(text,' '), x -> x IN ('der','die','das','und','ist'))) AS h_de,
           len(list_filter(string_split(text,' '), x -> x IN ('le','la','de','et','est'))) AS h_fr,
           len(list_filter(string_split(text,' '), x -> x IN ('de5','shi4','le5','zai4','he2'))) AS h_zh
           FROM documents),
         b AS (SELECT doc_id, h_en, h_es, h_de, h_fr, h_zh,
           GREATEST(h_en, h_es, h_de, h_fr, h_zh) AS best FROM h)
         SELECT doc_id,
           CASE WHEN best = 0 THEN 'und'
                WHEN h_en = best THEN 'en' WHEN h_es = best THEN 'es'
                WHEN h_de = best THEN 'de' WHEN h_fr = best THEN 'fr'
                ELSE 'zh' END AS lang_guess,
           CAST(best AS INT) AS hits
         FROM b""",

    "q_quality_score" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS mean_token_len,
           CAST(len(list_filter(string_split(text,' '),
             x -> x IN ('the','a','of','and','to','el','la','de','y','que','der','die','das','und',
                        'ist','le','et','est','de5','shi4','le5','zai4','he2'))) AS DOUBLE)
             / len(string_split(text, ' ')) AS stopword_ratio,
           CAST(len(list_filter(string_split(text,' '), x -> length(x) >= 8)) AS DOUBLE)
             / len(string_split(text, ' ')) AS long_token_ratio
         FROM documents""",

    "q_token_counts" ->
      """SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS INT) AS re_tokens,
           CAST(length(text) AS INT) AS chars
         FROM documents""",

    "q_fingerprint" ->
      """SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint
         FROM documents""",

    "q_hash_sample" ->
      """SELECT doc_id, lang, source FROM documents
         WHERE substr(md5(text), 1, 4) < '1999'""",

    "q_curation_pipeline" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         h AS (SELECT doc_id,
           len(list_filter(tk, x -> x IN ('the','a','of','and','to'))) AS h_en,
           len(list_filter(tk, x -> x IN ('el','la','de','y','que'))) AS h_es,
           len(list_filter(tk, x -> x IN ('der','die','das','und','ist'))) AS h_de,
           len(list_filter(tk, x -> x IN ('le','la','de','et','est'))) AS h_fr,
           len(list_filter(tk, x -> x IN ('de5','shi4','le5','zai4','he2'))) AS h_zh,
           len(tk) AS n_tokens,
           len(list_filter(tk, x -> x IN ('the','a','of','and','to','el','la','de','y','que',
             'der','die','das','und','ist','le','et','est','de5','shi4','le5','zai4','he2')))
             AS stop_hits
           FROM t),
         b AS (SELECT doc_id, n_tokens, stop_hits,
           GREATEST(h_en, h_es, h_de, h_fr, h_zh) AS best,
           CASE WHEN GREATEST(h_en, h_es, h_de, h_fr, h_zh) = 0 THEN 'und'
                WHEN h_en = GREATEST(h_en, h_es, h_de, h_fr, h_zh) THEN 'en'
                WHEN h_es = GREATEST(h_en, h_es, h_de, h_fr, h_zh) THEN 'es'
                WHEN h_de = GREATEST(h_en, h_es, h_de, h_fr, h_zh) THEN 'de'
                WHEN h_fr = GREATEST(h_en, h_es, h_de, h_fr, h_zh) THEN 'fr'
                ELSE 'zh' END AS lang_guess FROM h),
         d2 AS (SELECT doc_id, string_split(text, ' ') AS t2 FROM documents),
         ix AS (SELECT doc_id, t2, UNNEST(generate_series(1, len(t2) - 2)) AS i FROM d2),
         sh AS (SELECT doc_id, md5(t2[i] || ' ' || t2[i+1] || ' ' || t2[i+2]) AS mh FROM ix),
         sig AS (SELECT doc_id, MIN(substr(mh, 1, 8)) AS h1, MIN(substr(mh, 9, 8)) AS h2
                 FROM sh GROUP BY doc_id),
         losers AS (SELECT DISTINCT b2.doc_id FROM sig a JOIN sig b2
                    ON a.h1 = b2.h1 AND a.h2 = b2.h2 AND a.doc_id < b2.doc_id)
         SELECT doc_id, lang_guess, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(CAST(stop_hits AS DOUBLE) / n_tokens, 6) AS stopword_ratio
         FROM b
         WHERE lang_guess = 'en' AND n_tokens >= 8
           AND CAST(stop_hits AS DOUBLE) / n_tokens >= 0.05
           AND doc_id NOT IN (SELECT doc_id FROM losers)""",

    "q_cms_estimate" ->
      """WITH cand AS (SELECT UNNEST(['the','a','of','and','to','el','la','de','y','que',
             'der','die','das','und','ist','le','et','est','de5','shi4','le5','zai4','he2'])
             AS token),
         tok AS (SELECT md5(UNNEST(string_split(text, ' '))) AS h FROM documents),
         cnt AS (SELECT i.g AS row,
             CAST('0x' || substr(h, 1 + 8*(i.g-1), 8) AS BIGINT) % 256 AS bucket,
             COUNT(*) AS cnt
           FROM tok, (SELECT UNNEST(generate_series(1, 4)) AS g) i
           GROUP BY 1, 2),
         probes AS (SELECT c.token, i.g AS row,
             CAST('0x' || substr(md5(c.token), 1 + 8*(i.g-1), 8) AS BIGINT) % 256 AS bucket
           FROM cand c, (SELECT UNNEST(generate_series(1, 4)) AS g) i),
         est AS (SELECT p.token, MIN(COALESCE(cnt.cnt, 0)) AS est_count
           FROM probes p LEFT JOIN cnt ON p.row = cnt.row AND p.bucket = cnt.bucket
           GROUP BY p.token),
         exact AS (SELECT token, COUNT(*) AS exact_count
           FROM (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents)
           GROUP BY token)
         SELECT e.token, e.est_count,
           CAST(COALESCE(x.exact_count, 0) AS BIGINT) AS exact_count
         FROM est e LEFT JOIN exact x ON e.token = x.token""",

    "q_kmv_distinct" ->
      """WITH tok AS (SELECT UNNEST(string_split(text, ' ')) AS token FROM documents),
         mins AS (SELECT DISTINCT md5(token) AS h FROM tok ORDER BY h LIMIT 256)
         SELECT COUNT(*) AS k_used, MAX(h) AS kth,
           CAST(COUNT(*) - 1 AS DOUBLE) * 4294967296.0 /
             CAST(CAST('0x' || substr(MAX(h), 1, 8) AS BIGINT) AS DOUBLE)
           AS distinct_estimate
         FROM mins""",

    "q_tfidf_top_terms" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
         tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
         df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token),
         n AS (SELECT COUNT(*) AS n FROM documents)
         SELECT doc_id, token, tf, df,
           CAST(tf AS DOUBLE) * n.n / df AS score
         FROM tf JOIN df USING (token), n
         QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, token ASC) <= 3""",

    "q_media_meta" ->
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
           md5(text) AS content_md5 FROM documents""",

    // the synth containers derive format/dims purely from the content byte
    // length (Multimodal.synthDims), so the oracle recomputes what the
    // Spark side must RECOVER by parsing the container bytes it built
    "q_media_decode" ->
      """WITH nb AS (SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n FROM documents)
         SELECT doc_id,
           CASE n % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg' END AS format,
           CAST(16 + n % 240 AS BIGINT) AS width,
           CAST(16 + (n * 7) % 180 AS BIGINT) AS height,
           CAST(CASE WHEN n % 3 = 1 THEN 1 + n % 40 ELSE 1 END AS BIGINT) AS n_frames,
           CAST(CASE n % 3 WHEN 0 THEN 65
                           WHEN 1 THEN 14 + 14 * (1 + n % 40)
                           ELSE 17 END AS BIGINT) AS byte_len
         FROM nb""",

    "q_media_frames" ->
      """WITH nb AS (SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n FROM documents),
         m AS (SELECT doc_id,
             CASE WHEN n % 3 = 1 THEN 1 + n % 40 ELSE 1 END AS n_frames FROM nb)
         SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
           CAST(UNNEST(generate_series(0, n_frames - 1, 10)) AS BIGINT) AS frame_idx
         FROM m""",

    "q_media_resize" ->
      """WITH nb AS (SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n FROM documents),
         m AS (SELECT doc_id, 16 + n % 240 AS w, 16 + (n * 7) % 180 AS h FROM nb),
         s AS (SELECT doc_id, w, h,
             LEAST(CAST(224 AS DOUBLE) / w, CAST(224 AS DOUBLE) / h, 1.0) AS sc FROM m)
         SELECT doc_id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
           ROUND(sc, 6) AS scale,
           CAST(FLOOR(w * sc) AS BIGINT) AS out_w,
           CAST(FLOOR(h * sc) AS BIGINT) AS out_h
         FROM s""",

    // the full 16-dim frame vector recomputed from content: dims from the
    // synthDims formulas, frame bytes per format (PNG IDAT = content head
    // padded with 0x5A=90; GIF frame f's sub-block = [f]; JPEG SOF payload
    // = [precision, h_hi, h_lo, w_hi, w_lo, 1, 1, 0x11, 0]), zero-padded.
    // ASCII-testdata invariant (same as the winnow oracle): the PNG arm
    // reads characters (unicode(substr)) where Spark reads UTF-8 HEAD
    // BYTES — equivalent only while text is ASCII, as the driver corpus is
    "q_media_features" ->
      s"""WITH nb AS (SELECT doc_id, text, octet_length(CAST(text AS BLOB)) AS n FROM documents),
         m AS (SELECT doc_id, text, n, n % 3 AS fmt,
             16 + n % 240 AS w, 16 + (n * 7) % 180 AS h,
             CASE WHEN n % 3 = 1 THEN 1 + n % 40 ELSE 1 END AS n_frames FROM nb),
         fr AS (SELECT doc_id, text, n, fmt, w, h,
             UNNEST(generate_series(0, n_frames - 1, 10)) AS frame_idx FROM m),
         fb AS (SELECT doc_id, frame_idx, w, h,
             CASE fmt
               WHEN 0 THEN list_transform(range(1, 9), i ->
                 CAST(CASE WHEN i <= n THEN unicode(substr(text, CAST(i AS INT), 1))
                      ELSE 90 END AS BIGINT))
               WHEN 1 THEN [CAST(frame_idx AS BIGINT)]
               ELSE [CAST(8 AS BIGINT), h // 256, h % 256, w // 256, w % 256, 1, 1, 17, 0]
             END AS b
           FROM fr)
         SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(w AS BIGINT) AS e0, CAST(h AS BIGINT) AS e1,
           ${(1 to 14).map(i => s"CAST(COALESCE(b[$i], 0) AS BIGINT) AS e${i + 1}")
             .mkString(",\n           ")}
         FROM fb""",

    "q_stream_window" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2""",

    "q_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",

    "q_vocab_lookup_join" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
         agg AS (SELECT token, COUNT(*) AS cnt, MIN(doc_id) AS first_doc
                 FROM tok GROUP BY token),
         vocab AS (SELECT token,
             ROW_NUMBER() OVER (ORDER BY first_doc, token) AS token_id
           FROM agg WHERE cnt > 30)
         SELECT COALESCE(v.token_id, 0) AS id, COUNT(*) AS cnt
         FROM tok LEFT JOIN vocab v ON tok.token = v.token
         GROUP BY COALESCE(v.token_id, 0)""",

    "q_softmax_argmax" ->
      """SELECT vec_id,
           CAST(list_position(CAST(embedding AS DOUBLE[]),
                list_max(CAST(embedding AS DOUBLE[]))) - 1 AS INT) AS arg_idx,
           ROUND(1.0 / list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                x -> exp(x - list_max(CAST(embedding AS DOUBLE[]))))), 6) AS conf
         FROM embeddings""",

    // ---- 64-bit hash kernels: EXACT oracles (XXH64 and FNV-1a recomputed
    // in DuckDB with HUGEINT mod-2^64 arithmetic — see OracleHashSql)
    "q_minhash_sig64" -> OracleHashSql.minhash64Oracle(),
    "q_simhash_pairs" -> OracleHashSql.simhashPairsOracle(),
    "q_bloom_decontaminate" -> OracleHashSql.bloomDecontaminateOracle(),

    // ---- winnowing: EXACT oracles (Rabin-Karp polynomial recomputed in
    // HUGEINT mod-2^64 arithmetic — bit-parity with the Scala Long wrap)
    "q_winnow_clusters" ->
      s"""$winnowFpCte,
         cl AS (SELECT fp AS fingerprint, COUNT(DISTINCT doc_id) AS n_docs
                FROM fp GROUP BY fp)
         SELECT n_docs, COUNT(*) AS n_fingerprints
         FROM cl WHERE n_docs > 1 GROUP BY n_docs""",

    // stop-fingerprint rule mirrored exactly, INCLUDING the corpus-sized
    // cap: maxDf = clamp(ceil(1% of docs), 50, 100000) — the same
    // TextAnalysis.maxDfForCorpus formula, recomputed here from COUNT(*)
    "q_winnow_pairs" ->
      s"""$winnowFpCte,
         cap AS (SELECT LEAST(100000, GREATEST(50,
                   CAST(CEIL(COUNT(*) * 0.01) AS BIGINT))) AS max_df
                 FROM documents),
         keep AS (SELECT doc_id, fp FROM fp
           QUALIFY COUNT(*) OVER (PARTITION BY fp) <= (SELECT max_df FROM cap))
         SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM keep a JOIN keep b ON a.fp = b.fp AND a.doc_id < b.doc_id""",

    // corpus-frequency rarity: exact-long cf sums, ONE double division
    "q_rarity_score" ->
      """WITH tok AS (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents),
         cf AS (SELECT token, COUNT(*) AS cf FROM tok GROUP BY token),
         agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(cf) AS BIGINT) AS cf_sum
                 FROM tok JOIN cf USING (token) GROUP BY doc_id)
         SELECT doc_id, n_tokens, cf_sum,
           CAST(cf_sum AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS mean_cf
         FROM agg""",

    // token-distribution shift: relative-frequency difference — each term
    // ONE division of exact longs, so the double (and the ordering it
    // induces) is bit-identical cross-engine; ties broken by token ASC
    "q_token_shift" ->
      s"""WITH tok AS (SELECT source, UNNEST(string_split(text, ' ')) AS token
           FROM documents WHERE source IN ('$ShiftSourceA', '$ShiftSourceB')),
         cnt AS (SELECT token,
             CAST(SUM(CASE WHEN source = '$ShiftSourceA' THEN 1 ELSE 0 END) AS BIGINT) AS cf_a,
             CAST(SUM(CASE WHEN source = '$ShiftSourceB' THEN 1 ELSE 0 END) AS BIGINT) AS cf_b
           FROM tok GROUP BY token),
         tot AS (SELECT CAST(SUM(cf_a) AS DOUBLE) AS n_a,
                        CAST(SUM(cf_b) AS DOUBLE) AS n_b FROM cnt)
         SELECT token, cf_a, cf_b,
           ABS(CAST(cf_a AS DOUBLE) / (SELECT n_a FROM tot)
             - CAST(cf_b AS DOUBLE) / (SELECT n_b FROM tot)) AS shift
         FROM cnt
         ORDER BY shift DESC, token ASC LIMIT $ShiftTopK""",

    // JSON property-bag extraction: DuckDB's json_extract mirrors Spark's
    // from_json(k BIGINT); every output column is an exact integer
    "q_json_props" ->
      s"""SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(CAST(json_extract(props, '$$.k') AS BIGINT)) AS n_parsed,
           CAST(SUM(CAST(json_extract(props, '$$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(MIN(CAST(json_extract(props, '$$.k') AS BIGINT)) AS BIGINT) AS k_min,
           CAST(MAX(CAST(json_extract(props, '$$.k') AS BIGINT)) AS BIGINT) AS k_max,
           CAST(COUNT(DISTINCT CASE WHEN CAST(json_extract(props, '$$.k') AS BIGINT) > $PropHiK
                      THEN user_id END) AS BIGINT) AS n_users_hi
         FROM events GROUP BY event_type""",

    // sessionization: identical gaps-and-islands in DuckDB window SQL;
    // epoch_us mirrors unix_micros (exact BIGINT), value sums in
    // DECIMAL(18,2) then casts to double
    "q_sessionize" ->
      s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ep, value FROM events),
         m AS (SELECT user_id, event_id, ep, value,
             CASE WHEN lag(ep) OVER w IS NULL THEN 1
                  WHEN ep - lag(ep) OVER w > $SessionGapSeconds * 1000000 THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ep ASC, event_id ASC)),
         s AS (SELECT user_id, ep, value,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ep ASC, event_id ASC
                              ROWS UNBOUNDED PRECEDING) AS session_idx
           FROM m)
         SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           CAST(MIN(ep) AS BIGINT) AS start_us, CAST(MAX(ep) AS BIGINT) AS end_us,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
         FROM s GROUP BY user_id, session_idx""",

    // ordered funnel: identical chained conditional window minima; the
    // step columns are per-user constants, so MIN in the final group is
    // exact pass-through
    "q_funnel" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ep FROM events),
         w1 AS (SELECT user_id, event_type, ep,
             MIN(CASE WHEN event_type = '${FunnelSteps(0)}' THEN ep END)
               OVER (PARTITION BY user_id) AS s1 FROM e),
         w2 AS (SELECT *, MIN(CASE WHEN event_type = '${FunnelSteps(1)}' AND ep > s1 THEN ep END)
               OVER (PARTITION BY user_id) AS s2 FROM w1),
         w3 AS (SELECT *, MIN(CASE WHEN event_type = '${FunnelSteps(2)}' AND ep > s2 THEN ep END)
               OVER (PARTITION BY user_id) AS s3 FROM w2)
         SELECT user_id,
           CAST(MIN(s1) AS BIGINT) AS step1_us,
           CAST(MIN(s2) AS BIGINT) AS step2_us,
           CAST(MIN(s3) AS BIGINT) AS step3_us,
           CAST(CASE WHEN MIN(s3) IS NOT NULL THEN 3
                     WHEN MIN(s2) IS NOT NULL THEN 2
                     WHEN MIN(s1) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS reached
         FROM w3 GROUP BY user_id""",

    // deadline funnel: the same chain with the step-1-anchor window bound
    // on every later step
    "q_funnel_window" ->
      s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ep FROM events),
         w1 AS (SELECT user_id, event_type, ep,
             MIN(CASE WHEN event_type = '${FunnelSteps(0)}' THEN ep END)
               OVER (PARTITION BY user_id) AS s1 FROM e),
         w2 AS (SELECT *, MIN(CASE WHEN event_type = '${FunnelSteps(1)}' AND ep > s1
                 AND ep <= s1 + ${FunnelWindowSeconds}::BIGINT * 1000000 THEN ep END)
               OVER (PARTITION BY user_id) AS s2 FROM w1),
         w3 AS (SELECT *, MIN(CASE WHEN event_type = '${FunnelSteps(2)}' AND ep > s2
                 AND ep <= s1 + ${FunnelWindowSeconds}::BIGINT * 1000000 THEN ep END)
               OVER (PARTITION BY user_id) AS s3 FROM w2)
         SELECT user_id,
           CAST(MIN(s1) AS BIGINT) AS step1_us,
           CAST(MIN(s2) AS BIGINT) AS step2_us,
           CAST(MIN(s3) AS BIGINT) AS step3_us,
           CAST(CASE WHEN MIN(s3) IS NOT NULL THEN 3
                     WHEN MIN(s2) IS NOT NULL THEN 2
                     WHEN MIN(s1) IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS reached
         FROM w3 GROUP BY user_id""",

    // weekly cohort retention: exact integral epoch-week division both
    // engines (// in DuckDB, div in Spark), distinct users per cell
    "q_retention" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
         w AS (SELECT user_id, week,
             MIN(week) OVER (PARTITION BY user_id) AS cohort_week FROM e)
         SELECT cohort_week, week - cohort_week AS week_offset,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
         FROM w GROUP BY cohort_week, week - cohort_week""",

    // rank-pick percentiles: the identical integer formulation — element
    // at rank (pct*n + 99) // 100 in (n_chars, doc_id) order
    "q_length_percentiles" ->
      s"""WITH d AS (SELECT source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars ASC, doc_id ASC) AS rn,
             COUNT(*) OVER (PARTITION BY source) AS n_docs
           FROM documents),
         p AS (SELECT UNNEST([${PercentileList.mkString(", ")}]) AS pct)
         SELECT d.source, CAST(p.pct AS BIGINT) AS pct, d.n_chars AS value,
           CAST(d.n_docs AS BIGINT) AS n_docs
         FROM d JOIN p ON d.rn = (p.pct * d.n_docs + 99) // 100""",

    // source-level gate: exact-int aggregates, division-exact ratios, and
    // the same threshold compare both engines
    "q_source_stats" ->
      """WITH s AS (SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok_sum,
             CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_uniq
           FROM documents GROUP BY source)
         SELECT source, n_docs, tok_sum, n_uniq,
           CAST(tok_sum AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tokens,
           CAST(n_docs - n_uniq AS DOUBLE) / CAST(n_docs AS DOUBLE) AS dup_frac,
           (CAST(tok_sum AS DOUBLE) / CAST(n_docs AS DOUBLE) < 50.0
            OR CAST(n_docs - n_uniq AS DOUBLE) / CAST(n_docs AS DOUBLE) > 0.2) AS flagged
         FROM s""",

    // concat-and-chunk packing: the oracle USES the single-partition window
    // form (fine at oracle scale; the Spark side runs the distributed
    // prefix sum) — all-integer, so the manifests match exactly
    "q_pack_chunks" ->
      s"""WITH d AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
           FROM documents WHERE len(string_split(text, ' ')) > 0),
         o AS (SELECT doc_id, n,
             CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
           FROM d),
         x AS (SELECT doc_id, s, s + n AS e,
             UNNEST(generate_series(s // $PackCapacity, (s + n - 1) // $PackCapacity)) AS chunk_id
           FROM o)
         SELECT chunk_id, COUNT(*) AS n_docs,
           CAST(SUM(LEAST(e, (chunk_id + 1) * $PackCapacity) - GREATEST(s, chunk_id * $PackCapacity)) AS BIGINT) AS n_tokens,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         FROM x GROUP BY chunk_id""",

    // ---- banded-ANN family: EXACT oracles (the seeded hyperplanes are a
    // pure function of the seed — materialized above as VALUES literals,
    // so DuckDB recomputes the same banding keys, candidate set and
    // verified cosines the Spark kernel produces). maxBucket=10000 never
    // binds at oracle scale, so the bounded window equals all in-bucket
    // pairs here.
    "q_ann_lsh" -> annLshOracle,
    "q_ann_lsh_index" -> annLshOracle,

    // int8 quantization: all-integer code stats + the digest of the exact
    // code string — a wrong rounding mode or scale breaks the hash
    "q_embed_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM e),
         q AS (SELECT vec_id, mx,
                 list_transform(v, x -> CASE WHEN mx > 0
                   THEN CAST(round(x * 127.0 / mx) AS INT) ELSE 0 END) AS ql
               FROM m)
         SELECT vec_id, mx AS amax,
           CAST(len(ql) AS BIGINT) AS n_dims,
           CAST(list_sum(ql) AS BIGINT) AS q_sum,
           CAST(list_min(ql) AS BIGINT) AS q_min,
           CAST(list_max(ql) AS BIGINT) AS q_max,
           md5(list_aggregate(list_transform(ql, x -> CAST(x AS VARCHAR)),
             'string_agg', ',')) AS q_md5
         FROM q""",

    // IVF family: full Lloyd-kmeans recompute in SQL (exact fixed-point
    // centroid sums — see ivfOracle's doc for the cross-engine argument)
    "q_ann_ivf" -> ivfOracle(),
    "q_ann_ivf_index" -> ivfOracle(),
    // SemDeDup: same Lloyd chain + within-cluster cosine pruning
    "q_semdedup" -> semDedupOracle(SemDedupTau),

    "q_ann_pairs" ->
      s"""$annKeysCte,
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM keys a JOIN keys b
             ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id),
         pairs AS (SELECT c.id_a, c.id_b,
             ${cosineSql("ea.emb", "eb.emb")} AS cosine
           FROM cand c JOIN e ea ON c.id_a = ea.vec_id
                       JOIN e eb ON c.id_b = eb.vec_id)
         SELECT DISTINCT id_a, id_b, cosine FROM pairs
         WHERE cosine >= 0.3 AND NOT isnan(cosine)""",

    "q_ann_knn" ->
      s"""$annKeysCte,
         cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
           FROM keys a JOIN keys b
             ON a.band = b.band AND a.key = b.key AND a.vec_id <> b.vec_id),
         pairs AS (SELECT c.id_a, c.id_b,
             ${cosineSql("ea.emb", "eb.emb")} AS cosine
           FROM cand c JOIN e ea ON c.id_a = ea.vec_id
                       JOIN e eb ON c.id_b = eb.vec_id),
         surv AS (SELECT DISTINCT id_a, id_b, cosine FROM pairs
                  WHERE cosine >= 0.2 AND NOT isnan(cosine))
         SELECT id_a, id_b, cosine,
           ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY cosine DESC, id_b ASC) AS rn
         FROM surv
         QUALIFY rn <= 1""",
  )
}

/** Fixed report-text inputs for `q_report_parse` — format examples straight
  * from the reference's comments (plot_utils.py:51,61). */
private[graft] object SampleReports {
  val sklearn: String =
    """             precision    recall  f1-score   support
      |
      |         no_relation       0.86      0.34      0.49      6191
      |     per:employee_of       0.50      0.25      0.33        12
      |          per:spouse       0.75      0.60      0.67        20
      |
      |         avg / total       0.80      0.30      0.44      6223""".stripMargin

  val gabor: String =
    """[no_relation]  #: 9  P: 100.00%  R: 0.00%  F1: 0.00%
      |[per:spouse]  #: 3  P: 50.00%  R: 25.00%  F1: 33.33%
      |[org:founded_by]  #: 2  P: 10.00%  R: 5.00%  F1: 6.67%""".stripMargin
}
