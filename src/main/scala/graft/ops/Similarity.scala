package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorOps.{cosine_sim, dot_product}

/**
 * Similarity search over an embedding column (`embeddings(vec_id,
 * embedding: array<float>, label)`).
 *
 * Two paths, per the scale playbook:
 *  - [[bruteCosineTopK]]: exact baseline — a broadcast of the query vector,
 *    one narrow pass, one small top-k. O(N·d), embarrassingly parallel.
 *  - [[lshCosineTopK]]: sign-random-projection LSH — each vector is hashed
 *    to a bucket by the sign pattern of `nPlanes` fixed pseudo-random
 *    hyperplanes; search touches only the query's bucket (and Hamming-1
 *    neighbors), so the candidate set shrinks ~2^nPlanes-fold. At 100 TB
 *    the bucket id becomes the partition key and only candidate buckets
 *    are scanned (partition pruning on bucket).
 *
 * Dot products and cosines run through the NATIVE codegen'd Catalyst
 * expressions `dot_product` / `cosine_sim` (graft.functions.VectorOps) —
 * tight primitive loops inside whole-stage codegen, bit-identical to the
 * `aggregate`/`zip_with` higher-order-function forms they replaced (same
 * left-to-right summation), several times faster per pair.
 */
object Similarity {

  /** cosine(embedding, queryVec) as a native codegen'd expression. */
  private def cosineCol(queryVec: Array[Float]) =
    cosine_sim(col("embedding"), array(queryVec.toIndexedSeq.map(v => lit(v.toDouble)): _*))

  /** All math in double (matches the DuckDB oracle's DOUBLE[] cast). */
  private def asDouble(embeddings: DataFrame): DataFrame =
    embeddings.withColumn("embedding", col("embedding").cast("array<double>"))

  /** The ranked tail of every top-k search: round-4 cosine to the query,
    * best first, vec_id breaking ties. */
  private def topK(candidates: DataFrame, queryVec: Array[Float], k: Int): DataFrame =
    candidates.select(col("vec_id"), round(cosineCol(queryVec), 4).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)

  /** Exact brute-force cosine top-k against one query vector. */
  def bruteCosineTopK(embeddings: DataFrame, queryVec: Array[Float], k: Int = 10): DataFrame = {
    graft.functions.VectorOps.register(embeddings.sparkSession)
    topK(asDouble(embeddings), queryVec, k)
  }

  /** Deterministic pseudo-random hyperplanes (pure function of seed). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 7L): Array[Array[Float]] = {
    val rng = new graft.kg.Gen.Rng(seed)
    Array.fill(nPlanes)(Array.fill(dim)((rng.nextDouble() * 2 - 1).toFloat))
  }

  /** Sign-LSH bucket id of the embedding column: bit i = sign(v · planes(i)). */
  private def signBucket(planes: Array[Array[Float]]) =
    planes.zipWithIndex.map { case (p, i) =>
      val dot = dot_product(col("embedding"), array(p.toIndexedSeq.map(v => lit(v.toDouble)): _*))
      when(dot > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Sign-LSH bucket id per vector: bit p = sign(v · plane_p). */
  def withLshBucket(embeddings: DataFrame, planes: Array[Array[Float]]): DataFrame = {
    graft.functions.VectorOps.register(embeddings.sparkSession)
    embeddings.withColumn("bucket", signBucket(planes))
  }

  /** The buckets an LSH search probes: the query's own sign bucket and its
    * Hamming-1 neighbors (the recall knob). */
  private def probeBuckets(planes: Array[Array[Float]], queryVec: Array[Float]): Seq[Int] = {
    var qBucket = 0
    planes.zipWithIndex.foreach { case (p, i) =>
      val dot = p.zip(queryVec).map { case (a, b) => a.toDouble * b }.sum
      if (dot > 0) qBucket |= (1 << i)
    }
    qBucket +: planes.indices.map(p => qBucket ^ (1 << p))
  }

  /** ANN top-k: search only the query's LSH bucket and its Hamming-1
    * neighbor buckets (recall knob). */
  def lshCosineTopK(embeddings: DataFrame, queryVec: Array[Float], k: Int = 10,
      nPlanes: Int = 4, seed: Long = 7L): DataFrame = {
    val planes = hyperplanes(nPlanes, queryVec.length, seed)
    topK(withLshBucket(asDouble(embeddings), planes)
      .filter(col("bucket").isInCollection(probeBuckets(planes, queryVec))), queryVec, k)
  }

  /** Materialize the LSH index AS A TABLE partitioned by bucket — the
    * at-scale form of [[lshCosineTopK]]'s claim: a query then reads ONLY
    * its candidate buckets via partition pruning (asserted on the physical
    * plan in ScaleOpsSpec). */
  def writeLshIndex(embeddings: DataFrame, path: String,
      nPlanes: Int = 4, seed: Long = 7L): Unit = {
    val dim = embeddings.select(size(col("embedding")).as("d")).head().getInt(0)
    withLshBucket(asDouble(embeddings), hyperplanes(nPlanes, dim, seed))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)
  }

  /** Query a materialized LSH index: same bucket+Hamming-1 probe set as
    * [[lshCosineTopK]], but the bucket filter lands on the PARTITION
    * column, so non-candidate buckets are never read from storage. */
  def queryLshIndex(spark: SparkSession, path: String, queryVec: Array[Float],
      k: Int = 10, nPlanes: Int = 4, seed: Long = 7L): DataFrame = {
    graft.functions.VectorOps.register(spark)
    val planes = hyperplanes(nPlanes, queryVec.length, seed)
    topK(spark.read.parquet(path)
      .filter(col("bucket").isInCollection(probeBuckets(planes, queryVec))), queryVec, k)
  }

  /** planesPerBand sized for a corpus: ceil(log2(n / targetBucketSize))
    * bits per band keeps the EXPECTED bucket population near
    * `targetBucketSize` (each plane halves it), so the in-bucket expansion
    * stays bounded as n grows — at 1B vectors and target 10k this yields
    * 17 planes, not the test-scale default of 3. Clamped to [1, 30]. */
  def planesForCorpus(n: Long, targetBucketSize: Int = 10000): Int = {
    require(targetBucketSize > 0)
    val ratio = math.max(1.0, n.toDouble / targetBucketSize)
    math.min(30, math.max(1, math.ceil(math.log(ratio) / math.log(2.0)).toInt))
  }

  /**
   * Banded sign-LSH near-dup pair generation — the 100 TB form that
   * replaces the all-pairs cross joins as the default batch operator.
   *
   * OR-amplified LSH: `bands` independent hash tables, each keyed by the
   * sign pattern of `planesPerBand` hyperplanes. Two vectors at angle θ
   * agree on one plane with p = 1 − θ/π, so a pair survives banding with
   * 1 − (1 − p^b)^L — at the defaults (b=3, L=12) a cosine-0.3 pair is
   * found with ~0.96 probability and higher-cosine pairs with ~1. Size
   * `planesPerBand` with [[planesForCorpus]] so expected bucket population
   * stays near a constant as the corpus grows.
   *
   * Scale shape — embeddings NEVER enter the bucket expansion:
   *  1. banding is a narrow projection; the one banding shuffle carries
   *     (band, key, vec_id) — 16 bytes/row, `bands`× the corpus row count
   *     and independent of embedding width;
   *  2. pairs expand in-bucket in the shared window bounded at
   *     `maxBucket` ids ([[BucketWindow.expand]]) — no `collect_list`
   *     aggregation buffer anywhere, overflow ids are counted on a named
   *     accumulator ("graft.ann.dropped_ids") and logged, and the kept set
   *     (the `maxBucket` smallest ids per bucket) is deterministic;
   *  3. the exact-cosine verify runs where the corpus size dictates:
   *     vector tables up to `vectorBroadcastLimit` rows are collected once
   *     and BROADCAST, and the verify is the window's per-pair step — a
   *     candidate that fails the threshold dies in the partition that
   *     generated it, so nothing but survivors is ever materialized (no
   *     join stages at all). Bigger tables take the join-back path:
   *     candidates flow straight into two hash joins against the
   *     embedding table and the verify is the codegen'd `cosine_sim`
   *     expression. Either way pairs dedup ONCE over the SURVIVORS —
   *     cross-band duplication is bounded by `bands` and measures ~2×, so
   *     re-verifying duplicates is cheaper than a dedicated ids-only
   *     distinct (a full extra shuffle of the candidate stream).
   * The two verify paths are BIT-IDENTICAL (same accumulation order, and
   * the kernel replicates Spark's `round` via BigDecimal.valueOf HALF_UP)
   * — asserted in ScaleOpsSpec.
   */
  def annCandidatePairs(embeddings: DataFrame, minCosine: Double = 0.3,
      bands: Int = 12, planesPerBand: Int = 3, maxBucket: Int = 10000,
      seed: Long = 7L, vectorBroadcastLimit: Long = 200000): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    graft.functions.VectorOps.register(spark)
    val dim = embeddings.select(size(col("embedding")).as("d")).head().getInt(0)
    val e = asDouble(embeddings)
    val bandStructs = (0 until bands).map(l => struct(lit(l).as("band"),
      signBucket(hyperplanes(planesPerBand, dim, seed + 31L * l)).as("key")))
    val banded = e.select(col("vec_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"), col("vec_id"))
      .as[(Int, Int, Long)]
    def expand[U: org.apache.spark.sql.Encoder](step: (Long, Long) => Option[U]) =
      BucketWindow.expand(banded, "vec_id", maxBucket, wholeBucket = false,
        "graft.ann.dropped_ids")((a, b) => step(a._3, b._3))

    // O(limit) path decision: scan at most limit+1 rows instead of a full
    // count — the 100 TB corpus must not pay a complete pass just to learn
    // "it's big"
    val fitsBroadcast =
      embeddings.limit(math.min(vectorBroadcastLimit + 1, Int.MaxValue.toLong).toInt)
        .count() <= vectorBroadcastLimit
    val pairs = if (fitsBroadcast) {
      // broadcast-verify: ~16 + 8·dim bytes per vector on the driver and
      // each executor (200k × 64-dim ≈ 110 MB cap); norms precomputed once
      // per vector. A duplicate vec_id keeps its last row here (a
      // duplicate id with a DIFFERENT embedding is a data error; the join
      // path fans such rows out instead — both shapes end distinct).
      val vecs = e.select(col("vec_id"), col("embedding")).as[(Long, Array[Double])]
        .collect().map { case (id, v) =>
          var sa = 0.0
          var i = 0
          while (i < v.length) { sa += v(i) * v(i); i += 1 }
          id -> (v, math.sqrt(sa))
        }.toMap
      val bc = spark.sparkContext.broadcast(vecs)
      expand { (ia, ib) =>
        val m = bc.value
        val (va, na) = m(ia)
        val (vb, nb) = m(ib)
        var dot = 0.0
        var i = 0
        while (i < va.length) { dot += va(i) * vb(i); i += 1 }
        val cos = dot / (na * nb)
        // 1e-3 guard: a 4-decimal HALF_UP round moves a value by at
        // most 5e-5, so anything below threshold−1e-3 (or NaN from a
        // zero vector) can never round up past the threshold
        if (java.lang.Double.isNaN(cos) || cos < minCosine - 1e-3) None
        else {
          val r = java.math.BigDecimal.valueOf(cos)
            .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
          if (r >= minCosine) Some((ia, ib, r)) else None
        }
      }
        .toDF("id_a", "id_b", "cosine")
        .distinct()
    } else {
      expand((ia, ib) => Some((ia, ib)))
        .toDF("id_a", "id_b")
        .join(e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), Seq("id_a"))
        .join(e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          round(cosine_sim(col("emb_a"), col("emb_b")), 4).as("cosine"))
        // NaN (a zero vector has no defined cosine) is EXCLUDED explicitly:
        // Spark's SQL comparison treats NaN as greater than any value, so a
        // bare >= filter would keep NaN pairs here while the kernel path
        // drops them — the isnan guard keeps both paths bit-identical
        .filter(col("cosine") >= minCosine && !isnan(col("cosine")))
        // the one distinct, over SURVIVORS only: collapses cross-band
        // duplicates and the fan-out of duplicate vec_id rows
        .distinct()
    }
    pairs.select(col("id_a"), col("id_b"),
      BuildParams.tag(col("cosine"), "cosine", annParams(minCosine, bands, planesPerBand,
        maxBucket, seed): _*))
  }

  /** The parameters an [[annCandidatePairs]] table is built with. */
  private def annParams(minCosine: Double, bands: Int, planesPerBand: Int, maxBucket: Int,
      seed: Long): Seq[(String, Any)] =
    Seq("ann_min_cosine" -> minCosine, "ann_bands" -> bands,
      "ann_planes_per_band" -> planesPerBand, "ann_max_bucket" -> maxBucket, "ann_seed" -> seed)

  /** Batch approximate kNN join over the banded-LSH candidate pairs: every
    * vector's top-k neighbors among its LSH candidates above `minCosine`.
    * The ranking window is PARTITIONED by vector id — parallel, never a
    * global sort. This is the scale path for "nearest neighbor per row";
    * [[nearestNeighborJoin]] stays as the exact bounded oracle.
    *
    * The expensive part — banding + in-bucket expansion + cosine verify —
    * runs ONCE: the surviving pairs (a tiny fraction of the candidate
    * stream) are materialized with localCheckpoint, then symmetrized by a
    * cheap self-union and ranked per id. Running the kernel in a
    * both-orientations mode instead was measured ~2× slower end to end:
    * it doubles the verify work (the dominant stage) to save a
    * materialization of the small survivor set. cosine(a,b) ≡ cosine(b,a)
    * bit-exactly, so either form gives identical results.
    *
    * `precomputedPairs` supplies an already-materialized verified pair
    * table for the SAME (embeddings, minCosine, banding) parameters
    * (required of the table's [[BuildParams]]) — the
    * shared-artifact contract of `Dedup.lshCandidatePairsFromSigs`: at
    * corpus scale the verified near-dup pair table is written once and
    * every consumer (pair report, kNN join, cluster build) reads it. */
  def annTopKJoin(embeddings: DataFrame, k: Int = 1, minCosine: Double = 0.2,
      bands: Int = 12, planesPerBand: Int = 3, maxBucket: Int = 10000,
      seed: Long = 7L, precomputedPairs: Option[DataFrame] = None): DataFrame = {
    precomputedPairs.foreach(BuildParams.check(_, "cosine", "annTopKJoin",
      annParams(minCosine, bands, planesPerBand, maxBucket, seed): _*))
    val pairs = precomputedPairs.getOrElse(
      annCandidatePairs(embeddings, minCosine, bands, planesPerBand, maxBucket, seed)
        .localCheckpoint())
    val sym = pairs.unionByName(pairs.select(
      col("id_b").as("id_a"), col("id_a").as("id_b"), col("cosine")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a")).orderBy(col("cosine").desc, col("id_b").asc)
    sym.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("id_a"), col("id_b"), col("cosine"), col("rn").cast("long").as("rn"))
  }

  /** IVF list count sized from the corpus — the standard √n rule (lists ~
    * √n balances the coarse-quantizer scan against the in-list scan), with
    * a MIN-LIST-POPULATION term so lists hold ≥ ~256 vectors at any n:
    * min(⌈√n⌉, max(8, n/256), 65536). For n ≥ 256² = 65536 the population
    * term exceeds √n, so the rule is exactly ⌈√n⌉ at scale; below that it
    * stops √n from fragmenting a toy corpus into dozens of near-empty
    * partition files (n = 2k would otherwise make 45 lists of ~44 vectors —
    * measurable per-file overhead locally, no recall benefit). The floor
    * keeps the historical nlist = 8; the 65536 ceiling bounds the broadcast
    * centroid table (65536 × dim doubles ≈ 32 MB at dim 64). Same
    * corpus-count-parameterization contract as [[planesForCorpus]] and
    * `TextAnalysis.maxDfForCorpus`; SQL-expressible, so the DuckDB oracle
    * computes the identical count from COUNT(*). */
  def nlistForCorpus(n: Long): Int =
    math.min(65536L,
      math.min(math.max(8L, math.ceil(math.sqrt(n.toDouble)).toLong),
               math.max(8L, n / 256L))).toInt

  /** Probe width for an nlist-sized index: max(2, nlist/8) — a constant
    * FRACTION of the lists (12.5 %), so recall stays stable as nlist grows
    * with √n instead of collapsing toward probing 2 of 65536. */
  def nprobeForNlist(nlist: Int): Int = math.max(2, nlist / 8)

  /** Fixed-point scale for the Lloyd accumulator: a power of two, so
    * `v * CentroidScale` is EXACT in IEEE double (pure exponent shift) and
    * `floor(x + 0.5)` is the only rounding step — identical in any engine.
    * 2^20 leaves ~2^43 of headroom in the Long sum at |v| ≤ 1000 and
    * corpus sizes beyond 10^9 rows per list. */
  val CentroidScale: Long = 1L << 20

  /**
   * IVF coarse quantizer: deterministic Lloyd k-means over the corpus
   * (init = the `nlist` smallest vec_ids — data-dependent but replayable;
   * each iteration is ONE treeAggregate of per-centroid (sum, count), so
   * driver↔executor traffic is nlist×dim values regardless of corpus
   * size). Returns the centroid table; at scale it is computed once per
   * index build, and vectors are written PARTITIONED by their list id so a
   * query's `nprobe` lists prune to `nprobe` partitions at the scan.
   *
   * The per-list accumulator is EXACT fixed-point: each component is
   * quantized once to `floor(v·2^20 + 0.5)` and summed as a Long — integer
   * addition is associative, so the centroid is bit-identical no matter
   * how treeAggregate orders its combines (float sums reassociate in
   * task-completion order — nondeterministic ulps). That makes the whole
   * IVF family reproducible run-to-run, across partitionings, AND across
   * engines: the DuckDB oracle recomputes the identical centroids with
   * HUGEINT sums (centroid_d = sum/(count·2^20) as one double division).
   */
  def ivfCentroids(embeddings: DataFrame, nlist: Int = 8, iters: Int = 5): Array[Array[Double]] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val vecs = asDouble(embeddings).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Double])].cache()
    var centroids = vecs.orderBy(col("vec_id").asc).limit(nlist)
      .collect().map(_._2)
    val dim = centroids(0).length
    val scale = CentroidScale
    for (_ <- 1 to iters) {
      val bc = spark.sparkContext.broadcast(centroids)
      val zero = (Array.ofDim[Long](nlist * dim), new Array[Long](nlist))
      val (sums, counts) = vecs.rdd.treeAggregate(zero)(
        seqOp = { case ((s, n), (_, v)) =>
          val c = nearestCentroid(v, bc.value)
          var d = 0
          while (d < dim) { s(c * dim + d) += math.floor(v(d) * scale + 0.5).toLong; d += 1 }
          n(c) += 1
          (s, n)
        },
        combOp = { case ((s1, n1), (s2, n2)) =>
          var i = 0
          while (i < s1.length) { s1(i) += s2(i); i += 1 }
          i = 0
          while (i < n1.length) { n1(i) += n2(i); i += 1 }
          (s1, n1)
        })
      bc.destroy()
      centroids = Array.tabulate(nlist)(c =>
        if (counts(c) == 0) centroids(c) // empty list keeps its centroid
        else Array.tabulate(dim)(d => sums(c * dim + d).toDouble / (counts(c) * scale).toDouble))
    }
    vecs.unpersist()
    centroids
  }

  /** Index of the L2-nearest centroid (first wins ties — deterministic). */
  private def nearestCentroid(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      var d2 = 0.0
      var d = 0
      while (d < v.length) { val x = v(d) - cent(d); d2 += x * x; d += 1 }
      if (d2 < bestD) { bestD = d2; best = c }
      c += 1
    }
    best
  }

  /** The IVF list assignment: each vector, as (vec_id, embedding in
    * double, list), under its L2-nearest broadcast centroid. */
  private def assignLists(embeddings: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(centroids)
    asDouble(embeddings).select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val cents = bc.value
        it.map { case (id, v) => (id, v, nearestCentroid(v, cents)) }
      }.toDF("vec_id", "embedding", "list")
  }

  /** The `nprobe` list ids whose centroids are L2-nearest the query
    * (deterministic: distance, then list id, breaks ties). */
  private def nearestLists(centroids: Array[Array[Double]], queryVec: Array[Float],
      nprobe: Int): Seq[Int] = {
    val q = queryVec.map(_.toDouble)
    centroids.zipWithIndex.map { case (cent, i) =>
      var d2 = 0.0
      var d = 0
      while (d < q.length) { val x = q(d) - cent(d); d2 += x * x; d += 1 }
      (d2, i)
    }.sortBy(p => (p._1, p._2)).take(nprobe).map(_._2).toSeq
  }

  /** Materialize the IVF index AS A TABLE partitioned by list id — the
    * at-scale form [[ivfCentroids]]' doc promises: vectors land under their
    * assigned coarse-quantizer list, and a query's `nprobe` probe lands on
    * the PARTITION column, so only nprobe/nlist of the corpus is ever read
    * (asserted on the physical plan in ScaleOpsSpec). The centroid table
    * rides along under `_centroids/` — underscore-prefixed, so a plain
    * parquet read of `path` never sees it. */
  def writeIvfIndex(embeddings: DataFrame, path: String,
      nlist: Int = 8, iters: Int = 5,
      precomputed: Option[Array[Array[Double]]] = None): Unit = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val centroids = precomputed.getOrElse(ivfCentroids(embeddings, nlist, iters))
    assignLists(embeddings, centroids)
      .write.mode("overwrite").partitionBy("list").parquet(path)
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("list", "centroid")
      .write.mode("overwrite").parquet(s"$path/_centroids")
  }

  /** Query a materialized IVF index: pick the `nprobe` nearest lists from
    * the stored centroid table, then scan ONLY those partitions (the list
    * probe is partition pruning, not a post-scan filter). Results are
    * identical to [[ivfCosineTopK]] at the same (nlist, nprobe, iters). */
  def queryIvfIndex(spark: SparkSession, path: String, queryVec: Array[Float],
      k: Int = 10, nprobe: Int = 2): DataFrame = {
    graft.functions.VectorOps.register(spark)
    import spark.implicits._
    val centroids = spark.read.parquet(s"$path/_centroids")
      .select(col("list"), col("centroid")).as[(Int, Array[Double])]
      .collect().sortBy(_._1).map(_._2)
    topK(spark.read.parquet(path)
      .filter(col("list").isInCollection(nearestLists(centroids, queryVec, nprobe))), queryVec, k)
  }

  /** IVF ANN top-k in one shot (centroids built in-query): probe only the
    * `nprobe` lists whose centroids are nearest the query, exact cosine
    * inside them. For an index serving MANY queries use [[writeIvfIndex]] /
    * [[queryIvfIndex]], where the probe prunes partitions at the scan
    * instead of re-assigning the corpus per query. */
  def ivfCosineTopK(embeddings: DataFrame, queryVec: Array[Float], k: Int = 10,
      nlist: Int = 8, nprobe: Int = 2, iters: Int = 5,
      precomputed: Option[Array[Array[Double]]] = None): DataFrame = {
    graft.functions.VectorOps.register(embeddings.sparkSession)
    val centroids = precomputed.getOrElse(ivfCentroids(embeddings, nlist, iters))
    topK(assignLists(embeddings, centroids)
      .filter(col("list").isInCollection(nearestLists(centroids, queryVec, nprobe))), queryVec, k)
  }

  /** Symmetric int8 quantization of the embedding column — the storage
    * compression an embedding corpus runs before indexing (4×
    * smaller than float32; recall loss negligible at 8 bits):
    * `q_d = round(v_d · 127 / max|v|)` per vector, with the per-vector
    * max-abs (`amax`) kept alongside for dequantization (scale = amax/127,
    * derived by the consumer — emitting the float-EXACT amax instead of a
    * decimal-rounded quotient keeps the column bit-comparable across
    * engines; abs and max are exact IEEE ops). Pure codegen'd HOF chain —
    * narrow, shuffle-free, linear. The digest + the exact-integer stats
    * (sum/min/max of the quantized values) make the full quantized vector
    * oracle-checkable without hauling arrays through the harness; zero
    * vectors keep a zero amax and an all-zero code. */
  def quantizeInt8(embeddings: DataFrame): DataFrame = {
    val v = col("embedding").cast("array<double>")
    val mx = array_max(transform(v, x => abs(x)))
    val q = transform(v, x =>
      when(mx > 0, round(x * lit(127.0) / mx).cast("int")).otherwise(lit(0)))
    embeddings
      .withColumn("amax", mx)
      .withColumn("q", q)
      .select(col("vec_id"), col("amax"),
        size(col("q")).cast("long").as("n_dims"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        array_min(col("q")).cast("long").as("q_min"),
        array_max(col("q")).cast("long").as("q_max"),
        md5(array_join(transform(col("q"), _.cast("string")), ",")).as("q_md5"))
  }

  /** Embedding-cosine near-duplicate pairs: all pairs above a cosine
    * threshold within a bounded id range (the exact, oracle-checkable form
    * kept as the recall oracle for [[annCandidatePairs]], which is the
    * default at corpus scale). */
  def cosineNearDupPairs(embeddings: DataFrame, cap: Int = 150, minCosine: Double = 0.3): DataFrame = {
    graft.functions.VectorOps.register(embeddings.sparkSession)
    val e = asDouble(embeddings).filter(col("vec_id") < cap)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine_sim(col("emb_a"), col("emb_b")), 4).as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** SemDeDup — SEMANTIC deduplication through embedding clusters (Abbas
    * et al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    * semantic deduplication"): cluster the embedding space with the
    * deterministic fixed-point k-means ([[ivfCentroids]] — exact Long
    * accumulator, bit-identical under any combine order), then compare
    * vectors ONLY within their cluster and drop every vector that has a
    * lower-id semantic duplicate (round-4 cosine ≥ `tau`) in the same
    * cluster — the same deterministic keep-the-smaller-id policy as
    * `TextAnalysis.curationPipeline`'s near-dup stage. Returns one row per
    * vector `(vec_id, list, kept)` — the keep-list the corpus rewrite
    * consumes (filter `kept`, join back on `vec_id`).
    *
    * Scale shape — the tractability argument is the paper's own: the
    * quadratic comparison never leaves a cluster. Assignment is one
    * broadcast-centroid narrow pass; the pairwise stage is a self-join
    * keyed by the cluster id, so its one shuffle carries (list, vec_id,
    * embedding) and the expansion is bounded per cluster
    * ([[nlistForCorpus]] keeps the expected cluster population near
    * max(256, √n)). No global stage, no driver data beyond the nlist×dim
    * centroid table. */
  def semDeDup(embeddings: DataFrame, tau: Double = 0.35,
      precomputed: Option[Array[Array[Double]]] = None,
      nlist: Int = 0, iters: Int = 5): DataFrame = {
    graft.functions.VectorOps.register(embeddings.sparkSession)
    val centroids = precomputed.getOrElse {
      val k = if (nlist > 0) nlist else nlistForCorpus(embeddings.count())
      ivfCentroids(embeddings, k, iters)
    }
    // materialized once: the assignment feeds both self-join sides AND the
    // output row set (at 100 TB this is the written IVF index table itself)
    val assigned = assignLists(embeddings, centroids).localCheckpoint()
    val a = assigned.select(col("list"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"))
    val b = assigned.select(col("list"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"))
    val dropped = a.join(b, Seq("list"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(cosine_sim(col("emb_a"), col("emb_b")), 4) >= tau)
      .select(col("id_b").as("vec_id")).distinct()
    assigned.join(dropped.withColumn("dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("list").cast("long").as("list"),
        col("dup").isNull.as("kept"))
  }

  /** All-pairs exact top-1 neighbor per vector, bounded demo (vec_id < cap):
    * the oracle-checkable all-pairs form. */
  def nearestNeighborJoin(embeddings: DataFrame, cap: Int = 100): DataFrame = {
    graft.functions.VectorOps.register(embeddings.sparkSession)
    val e = asDouble(embeddings).filter(col("vec_id") < cap)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val pairs = a.crossJoin(b).filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(cosine_sim(col("emb_a"), col("emb_b")), 4).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id_a")).orderBy(col("cosine").desc, col("id_b").asc)
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }
}
