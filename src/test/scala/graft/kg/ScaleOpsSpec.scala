package graft.kg

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Scale-path operators: the distributed global rank (replaces the
  * single-partition Window), banded sign-LSH ANN pair generation (replaces
  * the cross joins), capped simhash banding, and 64-bit minhash. */
class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  test("globalRowNumber equals the single-window row_number (same oracle)") {
    val tok = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
    val agg = tok.groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("first_doc"))
    val expected = agg.withColumn("token_id",
      row_number().over(Window.orderBy(col("first_doc"), col("token"))).cast("long"))
      .select("token", "token_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = graft.ops.Rank
      .globalRowNumber(agg, Seq(col("first_doc"), col("token")), "token_id")
      .select("token", "token_id").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === expected)
    assert(got.values.toSeq.sorted === (1L to got.size).toSeq) // contiguous from 1
  }

  test("globalRowNumber plan contains no single-partition exchange") {
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b"), (5L, "e"), (4L, "d"))
      .toDF("k", "v")
    val ranked = graft.ops.Rank.globalRowNumber(df, Seq(col("k")), "rank", partitions = 3)
    val plan = ranked.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), s"global rank must stay distributed:\n$plan")
    assert(ranked.orderBy("k").select("rank").as[Long].collect().toSeq === Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("vocab queries keep no single-partition exchange end to end") {
    Seq("q_vocab_build", "q_vocab_prune").foreach { name =>
      val plan = graft.SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"), s"$name:\n$plan")
    }
  }

  test("annCandidatePairs: recall >= 0.9 vs exact pairs, precision == 1.0, no cross join") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val exact = graft.ops.Similarity.cosineNearDupPairs(emb, cap = 1000000, minCosine = 0.3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = graft.ops.Similarity.annCandidatePairs(emb, minCosine = 0.3)
    val plan = ann.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"ANN pair generation must not cross-join:\n$plan")
    val got = ann.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert((got -- exact).isEmpty, "every ANN pair must be cosine-verified (precision 1.0)")
    val recall = (got intersect exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"ANN recall $recall over ${exact.size} exact pairs")
  }

  test("annTopKJoin: one row per vector with candidates; cosine matches exact") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 100)
    val knn = graft.ops.Similarity.annTopKJoin(emb, k = 1, minCosine = 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(knn.map(_._1).distinct.length === knn.length, "k=1 → one row per id")
    val exact = graft.ops.Similarity.nearestNeighborJoin(emb, cap = 100).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // the approximate neighbor can never beat the exact one, and whenever it
    // picks the same neighbor the cosine must agree exactly
    knn.foreach { case (a, b, c) =>
      val (eb, ec) = exact(a)
      assert(c <= ec + 1e-9, s"ann cosine $c beats exact $ec for $a")
      if (b == eb) assert(math.abs(c - ec) < 1e-9)
    }
    // and it should agree with the exact top-1 most of the time
    val agree = knn.count { case (a, b, _) => exact(a)._1 == b }
    assert(agree.toDouble / knn.length >= 0.8, s"$agree/${knn.length} top-1 agreement")
  }

  test("annCandidatePairs bucket cap bounds in-bucket expansion") {
    // 40 identical vectors: every band puts all of them in one bucket;
    // cap 5 keeps the 5 smallest ids → C(5,2)=10 pairs, never C(40,2)
    val rows = (0L until 40L).map(i => (i, Array.fill(8)(0.5f)))
    val emb = rows.toDF("vec_id", "embedding")
    val capped = graft.ops.Similarity
      .annCandidatePairs(emb, minCosine = 0.9, maxBucket = 5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === (for (a <- 0L until 5L; b <- (a + 1) until 5L) yield (a, b)).toSet)
  }

  test("annCandidatePairs: no aggregation buffer over embeddings; drops are counted") {
    // the 100 TB guarantee: the physical plan must contain NO collect_list /
    // object-hash aggregation (the expansion is a sorted streaming window),
    // and a mega-bucket's overflow is COUNTED, never silently absorbed
    val rows = (0L until 2000L).map(i => (i, Array.fill(8)(0.5f)))
    val emb = rows.toDF("vec_id", "embedding")
    val dropped = graft.Counters(spark, "graft.ann.dropped_ids")
    val before = dropped.value
    val pairs = graft.ops.Similarity.annCandidatePairs(emb, minCosine = 0.9, maxBucket = 50)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list") && !plan.contains("ObjectHashAggregate"),
      s"bucket expansion must not aggregate embeddings into a buffer:\n$plan")
    val got = pairs.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === (for (a <- 0L until 50L; b <- (a + 1) until 50L) yield (a, b)).toSet)
    // every band's single bucket drops the 1950 ids past the cap
    assert(dropped.value - before === 12L * (2000 - 50),
      s"dropped ids must be counted: ${dropped.value - before}")
  }

  test("duplicate ids in a bucket never self-pair (strict-< parity with the old form)") {
    val emb = Seq((7L, Array.fill(8)(0.5f)), (7L, Array.fill(8)(0.5f)),
      (9L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding")
    val pairs = graft.ops.Similarity.annCandidatePairs(emb, minCosine = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((7L, 9L)), s"no (7,7) self-pair: $pairs")
    val d = Seq((7L, "w0 w1 w2 w3 w4", "en"), (7L, "w0 w1 w2 w3 w4", "en"),
      (9L, "w0 w1 w2 w3 w4", "en")).toDF("doc_id", "text", "lang")
    val lsh = graft.ops.Dedup.lshCandidatePairs(d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === Set((7L, 9L)), s"no (7,7) self-pair: $lsh")
  }

  test("planesForCorpus targets a constant bucket population as n grows") {
    import graft.ops.Similarity.planesForCorpus
    assert(planesForCorpus(1000L, 10000) === 1)           // tiny corpus → min 1
    assert(planesForCorpus(80000L, 10000) === 3)          // 8 buckets of ~10k
    assert(planesForCorpus(1000000000L, 10000) === 17)    // 1B/10k → 2^17
    assert(planesForCorpus(Long.MaxValue, 1) === 30)      // clamped
  }

  test("quantizeInt8: codes bounded to [-127,127], dequantization error " +
      "within half a step, zero vectors get zero codes") {
    val e = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f), 0),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f), 0),   // zero vector
      (3L, Array(2.0f, 2.0f, 2.0f, 2.0f), 0))   // constant → all ±127
      .toDF("vec_id", "embedding", "label")
    val got = graft.ops.Similarity.quantizeInt8(e).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // doc 1: mx=1.0, codes = round([0.5,-1,0.25,0]*127) = [64,-127,32,0]
    assert(got(1L)._2 === -31L) // q_sum = 64 - 127 + 32 + 0
    assert(got(1L)._3 === -127L && got(1L)._4 === 64L)
    assert(got(1L)._1 === 1.0) // amax is exact
    // zero vector: zero amax, all-zero code
    assert(got(2L) === ((0.0, 0L, 0L, 0L)))
    // constant vector: every code saturates at 127 exactly
    assert(got(3L)._2 === 4 * 127L && got(3L)._3 === 127L && got(3L)._4 === 127L)
    assert(got(3L)._1 === 2.0)
    // dequantization error bound over a real slice: |v - q*scale| <= scale/2
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50)
    val rows = emb.select(col("vec_id"), col("embedding").cast("array<double>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    graft.ops.Similarity.quantizeInt8(emb)
      .select(col("vec_id"), col("amax")).collect().foreach { r =>
        val v = rows(r.getLong(0))
        val mx = v.map(math.abs).max
        if (mx > 0) {
          val scale = mx / 127.0
          v.foreach { x =>
            val q = math.rint(x * 127.0 / mx)
            assert(math.abs(x - q * scale) <= scale / 2 + 1e-12)
          }
          assert(r.getDouble(1) === mx) // amax is the exact max-abs double
        }
      }
  }

  test("nlistForCorpus / nprobeForNlist follow the √n and fixed-fraction rules") {
    import graft.ops.Similarity.{nlistForCorpus, nprobeForNlist}
    assert(nlistForCorpus(0L) === 8)            // floor
    assert(nlistForCorpus(64L) === 8)           // √64 = floor boundary
    assert(nlistForCorpus(499L) === 8)          // population term: 499/256 < 8
    assert(nlistForCorpus(1999L) === 8)         // sf0.1: √n=45 clamped to 8 (lists ≥ ~256 vecs)
    assert(nlistForCorpus(20000L) === 78)       // √n=142 vs n/256=78 — population-bound
    assert(nlistForCorpus(65536L) === 256)      // crossover: population term = √n
    assert(nlistForCorpus(1000000L) === 1000)   // at scale: pure √n
    assert(nlistForCorpus(Long.MaxValue / 4) === 65536) // ceiling
    assert(nprobeForNlist(8) === 2)             // probe floor
    assert(nprobeForNlist(45) === 5)            // 12.5 % of lists
    assert(nprobeForNlist(65536) === 8192)
  }

  test("maxDfForCorpus keeps stop-fingerprint semantics a corpus FRACTION") {
    import graft.ops.TextAnalysis.maxDfForCorpus
    // sandbox scales sit on the floor — historical fixed-50 behavior intact
    assert(maxDfForCorpus(500L) === 50)
    assert(maxDfForCorpus(5000L) === 50)
    assert(maxDfForCorpus(0L) === 50)
    // beyond the floor: 1% of the corpus…
    assert(maxDfForCorpus(1000000L) === 10000)
    // …until the task-memory ceiling binds
    assert(maxDfForCorpus(100000000L) === 100000)
    assert(maxDfForCorpus(Long.MaxValue / 4) === 100000)
    // the auto default (maxDf=0) wires the count-derived cap into the plan:
    // with the floor active at test scale it must equal the explicit 50
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val auto = graft.ops.TextAnalysis.winnowCandidatePairs(spark, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fixed = graft.ops.TextAnalysis.winnowCandidatePairs(spark, docs, maxDf = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === fixed)
  }

  test("streaming bucket expansion ≡ capped sorted all-pairs model on random inputs") {
    // the kernel's contract, checked against a plain-Scala reference: per
    // bucket, keep the first maxBucket ids in sorted order (duplicates
    // consume capacity like the collect_list form did), emit every strict
    // a<b pair among them — across random keys, caps, and collision rates
    val rng = new Gen.Rng(123L)
    (1 to 5).foreach { trial =>
      val maxBucket = 1 + rng.nextInt(6)
      val rows = (0 until 300).map { _ =>
        (s"k${rng.nextInt(5)}", s"k${rng.nextInt(3)}", rng.nextInt(40).toLong)
      }
      val sig = rows.toDF("h1", "h2", "doc_id")
      val got = graft.ops.Dedup.lshCandidatePairsFromSigs(sig, maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // NOTE .values.toSeq first: flatMap on a Map with tuple results
      // would rebuild a Map and collapse pairs sharing a first element
      val expected = rows.groupBy(r => (r._1, r._2)).values.toSeq.flatMap { rs =>
        val kept = rs.map(_._3).sorted.take(maxBucket)
        for {
          i <- kept.indices
          j <- (i + 1) until kept.length
          if kept(i) < kept(j)
        } yield (kept(i), kept(j))
      }.toSet
      assert(got === expected, s"trial $trial maxBucket=$maxBucket")
    }
  }

  test("lshCandidatePairsFromSigs: mega-bucket bounded, overflow counted") {
    val text = (0 until 20).map(i => s"w$i").mkString(" ")
    val d = (0L until 40L).map(i => (i, text, "en")).toDF("doc_id", "text", "lang")
    val dropped = graft.Counters(spark, "graft.lsh.dropped_ids")
    val before = dropped.value
    val pairs = graft.ops.Dedup.lshCandidatePairsFromSigs(
      graft.ops.Dedup.minhashSignatures(d, 2), maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === (for (a <- 0L until 5L; b <- (a + 1) until 5L) yield (a, b)).toSet)
    assert(dropped.value - before === 35L,
      s"35 overflow ids must be counted: ${dropped.value - before}")
  }

  test("materialized LSH index: partition pruning on bucket, same results as in-memory") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding")).head()
      .getSeq[Float](0).toArray
    val rest = emb.filter(col("vec_id") =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-index").toString
    try {
      graft.ops.Similarity.writeLshIndex(rest, dir)
      val fromIndex = graft.ops.Similarity.queryLshIndex(spark, dir, q)
      // the bucket predicate must land on the PARTITION column (pruned scan,
      // not a post-scan filter over all buckets)
      val plan = fromIndex.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") &&
        plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)].*", "$1").contains("bucket"),
        s"bucket probe must prune partitions:\n$plan")
      val a = fromIndex.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = graft.ops.Similarity.lshCosineTopK(rest, q).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a === b, "index query must match the in-memory LSH search")
    } finally Lineage.deleteRecursively(dir)
  }

  test("IVF ANN: deterministic centroids; results are cosine-exact within probed lists") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding")).head()
      .getSeq[Float](0).toArray
    val rest = emb.filter(col("vec_id") =!= 0)
    val c1 = graft.ops.Similarity.ivfCentroids(rest, nlist = 8, iters = 5)
    val c2 = graft.ops.Similarity.ivfCentroids(rest, nlist = 8, iters = 5)
    assert(c1.map(_.toSeq).toSeq === c2.map(_.toSeq).toSeq, "Lloyd must be deterministic")
    val ivf = graft.ops.Similarity.ivfCosineTopK(rest, q, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val exact = graft.ops.Similarity.bruteCosineTopK(rest, q, k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivf.length === 10)
    // every IVF result's cosine matches the exact computation for that id
    val exactAll = graft.ops.Similarity.bruteCosineTopK(rest, q, k = 1000000).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    ivf.foreach { case (id, c) => assert(math.abs(exactAll(id) - c) < 1e-9) }
    // no IVF cosine beats the exact best; probing 2/8 lists finds a
    // meaningful share of the true top-10
    assert(ivf.head._2 <= exact.head._2 + 1e-9)
    val hit = ivf.map(_._1).toSet.intersect(exact.map(_._1).toSet).size
    assert(hit >= 2, s"IVF recall@10 too low: $hit/10")
  }

  test("materialized IVF index: partition pruning on list, same results as one-shot") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.filter(col("vec_id") === 0).select(col("embedding")).head()
      .getSeq[Float](0).toArray
    val rest = emb.filter(col("vec_id") =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-index").toString
    try {
      graft.ops.Similarity.writeIvfIndex(rest, dir, nlist = 8, iters = 5)
      val fromIndex = graft.ops.Similarity.queryIvfIndex(spark, dir, q, k = 10, nprobe = 2)
      // the list probe must land on the PARTITION column (pruned scan)
      val plan = fromIndex.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") &&
        plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)].*", "$1").contains("list"),
        s"list probe must prune partitions:\n$plan")
      val a = fromIndex.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = graft.ops.Similarity.ivfCosineTopK(rest, q, k = 10, nlist = 8,
        nprobe = 2, iters = 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a === b, "index query must match the one-shot IVF search")
    } finally Lineage.deleteRecursively(dir)
  }

  test("minhash64: identical docs identical sigs; jaccard estimate sane; k respected") {
    def doc(id: Long, text: String) = (id, text, "en")
    // two docs sharing ~half their 3-shingles
    val common = (0 until 40).map(i => s"w$i").mkString(" ")
    val a = common + " " + (0 until 38).map(i => s"a$i").mkString(" ")
    val b = common + " " + (0 until 38).map(i => s"b$i").mkString(" ")
    val d = Seq(doc(1, a), doc(2, a), doc(3, b)).toDF("doc_id", "text", "lang")
    val k = 64
    val sig = graft.ops.Dedup.minhashSignatures64(d, k).collect()
      .map(r => r.getLong(0) -> (1 to k).map(i => r.getLong(i))).toMap
    assert(sig(1L) === sig(2L))
    val matching = sig(1L).zip(sig(3L)).count { case (x, y) => x == y }.toDouble / k
    // true shingle jaccard ≈ 38/118 ≈ 0.32; estimate within wide bounds
    assert(matching > 0.1 && matching < 0.6, s"jaccard estimate $matching")
    assert(sig(1L).distinct.size > k / 2, "slots must be independent hashes")
  }

  test("large-star/small-star CC equals min-label propagation on random graphs") {
    val rng = new Gen.Rng(99L)
    (1 to 5).foreach { _ =>
      val n = 60
      val pairs = (0 until 80).map { _ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
      }.filter(p => p._1 != p._2).toDF("a", "b")
      val nodes = (0L until n.toLong).toDF("node")
      val star = graft.ops.Dedup.connectedComponentsStar(pairs, nodes)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val prop = graft.ops.Dedup.connectedComponents(pairs, nodes, maxIter = 60)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star === prop)
    }
  }

  test("star CC collapses a 200-node chain in O(log n) rounds (the deep-graph path)") {
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("a", "b")
    val nodes = (0L until 200L).toDF("node")
    // min-label propagation needs ~200 (diameter) rounds; star needs ~log n
    val star = graft.ops.Dedup.connectedComponentsStar(pairs, nodes, maxIter = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star.values.toSet === Set(0L), "every chain node must label to 0")
    val prop = graft.ops.Dedup.connectedComponents(pairs, nodes, maxIter = 15)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prop.values.toSet !== Set(0L),
      "diameter-bound propagation cannot finish a 200-chain in 15 rounds")
  }

  test("CMS never underestimates; exact for tokens without collisions") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val byTok = graft.ops.TextAnalysis
      .cmsEstimate(docs, Seq("the", "spark", "und", "zzz_absent"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    byTok.foreach { case (t, (est, exact)) =>
      assert(est >= exact, s"CMS underestimated $t: $est < $exact")
    }
    assert(byTok("zzz_absent")._2 === 0L)
  }

  test("KMV sketch estimates distinct tokens within ~3/sqrt(k) at k=256") {
    // 4000 distinct tokens spread over 40 docs, every token repeated twice
    val docs = (0 until 40).map { d =>
      val toks = (0 until 100).flatMap(i => Seq(s"tok_${d}_$i", s"tok_${d}_$i"))
      (d.toLong, toks.mkString(" "), "en")
    }.toDF("doc_id", "text", "lang")
    val row = graft.ops.TextAnalysis.kmvDistinctTokens(docs, k = 256).head()
    assert(row.getLong(0) === 256L)
    val est = row.getDouble(2)
    assert(math.abs(est - 4000.0) / 4000.0 < 0.2, s"KMV estimate $est for 4000 distinct")
    // deterministic across runs
    val again = graft.ops.TextAnalysis.kmvDistinctTokens(docs, k = 256).head()
    assert(again.getDouble(2) === est && again.getString(1) === row.getString(1))
  }

  test("multimodal → ANN bridge: duplicate payloads surface as near-dup frame pairs") {
    val docs = Seq(
      (1L, "identical media payload content here", "en"),
      (2L, "identical media payload content here", "en"), // same payload as 1
      (3L, "a completely different media payload", "en")
    ).toDF("doc_id", "text", "lang")
    val meta = graft.ops.Multimodal.extractMeta(spark, graft.ops.Multimodal.mediaTableSynth(docs))
    // resize planning: aspect preserved, never upscaled beyond 1.0
    val rp = graft.ops.Multimodal.resizePlan(meta, 224, 224).collect()
    rp.foreach { r =>
      val (w, h, scale, ow, oh) =
        (r.getInt(1), r.getInt(2), r.getDouble(3), r.getInt(4), r.getInt(5))
      assert(scale <= 1.0 && ow <= 224 && oh <= 224)
      assert(math.abs(ow.toDouble / w - oh.toDouble / h) < 0.02, "aspect preserved")
    }
    val frames = graft.ops.Multimodal.sampleFrames(meta)
    val feats = graft.ops.Multimodal.frameFeatures(spark, frames,
      graft.ops.Multimodal.mediaTableSynth(docs))
      .withColumn("vec_id", col("doc_id") * 1000 + col("frame_idx"))
    val pairs = graft.ops.Similarity
      .annCandidatePairs(feats.select(col("vec_id"), col("embedding")), minCosine = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "identical payloads must produce identical frame features")
    assert(pairs.forall { case (a, b) => a % 1000 == b % 1000 && a / 1000 == 1 && b / 1000 == 2 },
      s"only docs 1 and 2 share frames: ${pairs.toSeq}")
  }

  test("tokenizeLower == tokenize + asciiLower (fused kernel pass)") {
    // the kernel's token scan against the String spec: its word ids are
    // tokenizeLower's tokens, digit-zeroed, through the word vocabulary
    val b = Pipeline.buildBundle()
    val kernel = new PageScorer(b, () => ())
    def check(s: String): Unit = {
      val lower = Segment.tokenizeLower(s)
      assert(lower === Segment.tokenize(s).map(Adaptors.asciiLower), s)
      assert(kernel.frontEnd(s)._1 === Adaptors.zeroDigits(lower).map(b.word(_)), s)
    }
    (0L until 50L).foreach { i =>
      Segment.sentences(TextExtract.extract(Gen.page(42L, i, withText = false).html)).foreach(check)
    }
    Seq("", "A", "A.", "HeLLo, WoRLD!", "x  Y\tZ.", "..", "a.b", "ÜPPER X,", "Born 1984.", ". ,").foreach(check)
  }

  test("nearDupClusters default path collapses a deep boilerplate chain (star CC)") {
    // a multi-band signature table (one row per doc per band — the shape a
    // prior signature job materializes) whose pair graph is a 41-node CHAIN:
    // band A buckets pair (2k, 2k+1), band B buckets pair (2k+1, 2k+2).
    // Diameter 40 > min-label propagation's default 20 rounds — only the
    // star default converges; every label must be the component minimum 0.
    val n = 41
    val sigs = (0 until n).flatMap { i =>
      Seq((i.toLong, "A", (i - i % 2).toString),
          (i.toLong, "B", (i - (i + 1) % 2).toString))
    }.toDF("doc_id", "h1", "h2")
    val docs = (0 until n).map(i => (i.toLong, s"doc $i", "en"))
      .toDF("doc_id", "text", "lang")
    val labels = graft.ops.Dedup.nearDupClusters(docs, sigs = Some(sigs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size === n)
    assert(labels.values.toSet === Set(0L),
      "the default CC path must fully collapse a 40-deep chain")
  }

  test("ANN broadcast-verify path is bit-identical to the join-back path") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def run(limit: Long) = graft.ops.Similarity
      .annCandidatePairs(e, 0.3, vectorBroadcastLimit = limit)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val viaBroadcast = run(1000000L) // 500 vectors -> kernel verify
    val viaJoin = run(0L)            // forced join-back path
    assert(viaBroadcast.nonEmpty)
    assert(viaBroadcast === viaJoin,
      "in-kernel BigDecimal rounding must equal Spark's round() bit-exactly")
  }

  test("ANN paths agree on zero vectors: NaN cosine pairs are dropped by BOTH") {
    // two identical vectors (cosine 1) plus a zero vector whose cosine is
    // NaN against everything — the pair sets must match across paths and
    // contain no zero-vector pair (Spark SQL would otherwise keep NaN
    // through a bare >= filter; the kernel never emits it)
    val v = Array.tabulate(8)(i => 0.1f * (i + 1))
    val rows = Seq((1L, v, 0), (2L, v, 0), (3L, Array.fill(8)(0f), 0))
    val e = rows.toDF("vec_id", "embedding", "label")
    def run(limit: Long) = graft.ops.Similarity
      .annCandidatePairs(e, 0.3, vectorBroadcastLimit = limit)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val broadcastPairs = run(1000000L)
    val joinPairs = run(0L)
    assert(broadcastPairs === joinPairs)
    assert(broadcastPairs === Set((1L, 2L)), s"got $broadcastPairs")
  }

  test("winnow pairs: stop-fingerprint df cap drops whole mega-buckets, keeps small ones") {
    // 8 docs all sharing one long boilerplate substring (>= w+k-1 chars,
    // so they share its winnow fingerprints); docs 1 and 2 additionally
    // share a UNIQUE long substring no other doc has
    val boiler = "this exact boilerplate footer appears on every single page of the site"
    val rare = "zq unique shared incident paragraph only here zq"
    def pad(i: Int) = s"doc $i body ${("x" + i.toString) * 6}"
    val docs = (1 to 8).map { i =>
      val extra = if (i <= 2) s" $rare" else ""
      (i.toLong, s"${pad(i)} $boiler$extra", "en")
    }.toDF("doc_id", "text", "lang")
    val dropped = graft.Counters(spark, "graft.winnow.dropped_ids")
    val before = dropped.value
    // maxDf = 4 < 8: the boilerplate buckets must vanish, the rare-substring
    // bucket (df = 2) must survive -> exactly the (1,2) pair
    val pairs = graft.ops.TextAnalysis.winnowCandidatePairs(spark, docs, maxDf = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)), s"got $pairs")
    assert(dropped.value - before > 0, "dropped mega-bucket ids must be counted")
    // with the cap lifted the boilerplate cluster fully connects
    val all = graft.ops.TextAnalysis.winnowCandidatePairs(spark, docs, maxDf = 1000)
      .count()
    assert(all === 28L, s"8 docs sharing boilerplate give C(8,2) pairs, got $all")
  }

  test("simhashPairs bucket cap bounds in-bucket expansion") {
    val rows = (1L to 6L).map(i => (i, "alpha beta gamma delta epsilon zeta", "en"))
    val d = rows.toDF("doc_id", "text", "lang")
    val capped = graft.ops.Dedup.simhashPairs(d, maxHamming = 3, maxBucket = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical docs all share every band bucket; cap 2 keeps ids (1,2) only
    assert(capped === Set((1L, 2L)))
    val uncapped = graft.ops.Dedup.simhashPairs(d, maxHamming = 3).collect()
    assert(uncapped.length === 15) // C(6,2)
  }

  // A precomputed shared table carries its build parameters as column
  // metadata (through localCheckpoint); a consumer asked for other
  // parameters rejects it instead of returning rows for the table's.
  private def rejects(f: => Any): String = intercept[IllegalArgumentException](f).getMessage

  test("nearDupClusters rejects a precomputed pair table built with another maxBucket") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sigs = graft.ops.Dedup.minhashSignatures(docs, 2).localCheckpoint()
    val pairs = graft.ops.Dedup.lshCandidatePairsFromSigs(sigs, maxBucket = 50).localCheckpoint()
    assert(rejects(graft.ops.Dedup.nearDupClusters(docs, pairs = Some(pairs)))
      .contains("lsh_max_bucket=50"))
    val reused = graft.ops.Dedup.nearDupClusters(docs, maxBucket = 50, pairs = Some(pairs))
    val built = graft.ops.Dedup.nearDupClusters(docs, maxBucket = 50, sigs = Some(sigs))
    assert(reused.collect().toSet === built.collect().toSet)
  }

  test("annTopKJoin rejects precomputed pairs built with other ANN parameters") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 100)
    val pairs = graft.ops.Similarity.annCandidatePairs(emb, minCosine = 0.2).localCheckpoint()
    def knn(minCosine: Double = 0.2, bands: Int = 12, planesPerBand: Int = 3,
        maxBucket: Int = 10000, seed: Long = 7L) =
      graft.ops.Similarity.annTopKJoin(emb, 1, minCosine, bands, planesPerBand, maxBucket, seed,
        precomputedPairs = Some(pairs))
    assert(rejects(knn(minCosine = 0.3)).contains("ann_min_cosine=0.2"))
    assert(rejects(knn(bands = 8)).contains("ann_bands=12"))
    assert(rejects(knn(planesPerBand = 4)).contains("ann_planes_per_band=3"))
    assert(rejects(knn(maxBucket = 50)).contains("ann_max_bucket=10000"))
    assert(rejects(knn(seed = 8L)).contains("ann_seed=7"))
    assert(knn().collect().toSet ===
      graft.ops.Similarity.annTopKJoin(emb, k = 1, minCosine = 0.2).collect().toSet)
  }

  test("winnowCandidatePairs rejects precomputed fingerprints built with another k or w") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").filter(col("doc_id") < 200)
    val fps = graft.ops.TextAnalysis.winnowFingerprints(spark, docs, k = 5, w = 4)
      .localCheckpoint()
    def pairs(k: Int, w: Int) = graft.ops.TextAnalysis.winnowCandidatePairs(spark, docs,
      k = k, w = w, maxDf = 50, fingerprints = Some(fps))
    assert(rejects(pairs(8, 4)).contains("winnow_k=5"))
    assert(rejects(pairs(5, 6)).contains("winnow_w=4"))
    assert(pairs(5, 4).collect().toSet === graft.ops.TextAnalysis.winnowCandidatePairs(spark,
      docs, k = 5, w = 4, maxDf = 50).collect().toSet)
  }
}
