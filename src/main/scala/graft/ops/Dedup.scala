package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for large-scale training-data pipelines, over a
 * `documents(doc_id, text, lang, source, n_chars)` table.
 *
 * Scale notes:
 *  - exact dedup is one hash-groupBy (partial agg map-side; the only shuffle
 *    moves 16-byte digests, not documents);
 *  - MinHash signatures are computed via explode+groupBy on tokens — linear,
 *    shuffle carries (doc_id, band-key) pairs only;
 *  - LSH candidate pairs expand only INSIDE band buckets, never across the
 *    full corpus (the whole point of LSH at 100 TB), via one shuffle keyed
 *    by band plus a memory-bounded streaming window — no aggregation buffer
 *    ever holds a mega-bucket;
 *  - SimHash is a single narrow projection (no shuffle at all) — near-dup
 *    detection then expands within the 16-bit band buckets the same way.
 *
 * The signature/banding math is pure `functions._` — Catalyst codegen — and
 * each query has an exact DuckDB oracle; the in-bucket expansion is the
 * shared sorted window [[BucketWindow.expand]], so its memory is
 * O(maxBucket).
 */
object Dedup {

  private def tokens(c: Column): Column = split(c, " ")

  /** n-token shingles as a Column (pure HOFs — codegen'd): shingle i joins
    * tokens i..i+n-1; trailing positions yield null and are filtered.
    *
    * The token array is BOUND ONCE per row through an outer
    * `transform(array(split(...)), t => ...)` lambda variable: if the
    * inner lambda referenced the raw `split` expression directly, every
    * element would re-tokenize the whole document (size + n element_at
    * each re-evaluating split → O(n²) re-splits per doc; measured 8×
    * slower on the corpus — BASELINE.md, round 3). With the lambda binding,
    * `element_at`/`size` hit the evaluated array in O(1). */
  def shingles(c: Column, n: Int = 3): Column =
    flatten(transform(array(tokens(c)), t =>
      filter(
        transform(t, (_, i) =>
          when(i <= size(t) - n,
            concat_ws(" ", (0 until n).map(j => element_at(t, i + j + 1)): _*))),
        x => x.isNotNull)))

  /** Exact dedup (A9 analog): one representative per distinct text digest. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("dup_count"))

  /** MinHash signature over the 3-token shingle set, k ≤ 4 permutation-free
    * hashes: ONE md5 per shingle, with h_i = the i-th disjoint 8-hex-char
    * slice (independent 32-bit hashes — fine at these doc counts; at true
    * web scale widen to two 64-bit slices of xxhash64 pairs).
    * NO distinct before the groupBy: min over the shingle MULTISET equals
    * min over the set, so deduplicating first would only add a full
    * shuffle — the partial min aggregates map-side instead. */
  def minhashSignatures(documents: DataFrame, k: Int = 4): DataFrame = {
    require(k <= 4, "md5 yields four 8-hex-char slices")
    val sigs = (1 to k).map(i =>
      min(substring(col("mh"), 1 + 8 * (i - 1), 8)).as(s"h$i"))
    documents
      .select(col("doc_id"), explode(shingles(col("text"))).as("shingle"))
      .select(col("doc_id"), md5(col("shingle")).as("mh"))
      .groupBy(col("doc_id"))
      .agg(sigs.head, sigs.tail: _*)
  }

  /** LSH banding: candidate near-dup pairs sharing band (h1, h2).
    *
    * One pass: group signatures by band key and expand pairs inside each
    * bucket — no self-join (which would recompute the signature subplan on
    * both sides) and exactly one shuffle, keyed by band. Bucket size is
    * capped at `maxBucket` (a true near-dup cluster bigger than that wants
    * representative-dedup, not all-pairs); the cap never binds on sane data
    * and is a guard against boilerplate mega-clusters at web scale. */
  def lshCandidatePairs(documents: DataFrame, maxBucket: Int = 10000): DataFrame =
    lshCandidatePairsFromSigs(minhashSignatures(documents, 2), maxBucket) // band = (h1, h2)

  /** Banding over a PRECOMPUTED signature table — at scale the signatures
    * are materialized once and shared by every consumer (candidate pairs,
    * clustering, curation) instead of recomputing the shingle hashes per
    * query; pass `minhashSignatures(docs, 2)` (or a table written by a
    * prior job) here.
    *
    * Scale shape: ONE shuffle keyed by the band key carrying
    * (key, doc_id) only; pairs expand in the shared bounded bucket window
    * ([[BucketWindow.expand]], first `maxBucket` ids kept) — the
    * aggregation-buffer blow-up of a `collect_list` over a boilerplate
    * mega-bucket cannot happen, and overflow is counted
    * ("graft.lsh.dropped_ids") instead of silently shaping the result. */
  def lshCandidatePairsFromSigs(sig: DataFrame, maxBucket: Int = 10000): DataFrame = {
    val spark = sig.sparkSession
    import spark.implicits._
    // the 0x01 separator never occurs in md5-hex or decimal-rendered hash
    // slots, so the joined key has no boundary-shift collisions for either
    // signature width
    BucketWindow.expand(
      sig.select(concat_ws("\u0001", col("h1"), col("h2")).as("bkey"), col("doc_id"))
        .as[(String, Long)],
      "doc_id", maxBucket, wholeBucket = false, "graft.lsh.dropped_ids")(
      (a, b) => Some((a._2, b._2)))
      .select(BuildParams.tag(col("_1"), "doc_a", "lsh_max_bucket" -> maxBucket),
        col("_2").as("doc_b"))
  }

  /** 64-bit SimHash over unigram tokens (weights = term frequency).
    * Pure-Scala kernel (bit twiddling has no SQL-oracle form); narrow map. */
  def simhash64(text: String): Long = {
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    text.split(" ").foreach(t => if (t.nonEmpty) counts(t) = counts.getOrElse(t, 0) + 1)
    val acc = new Array[Long](64)
    counts.foreach { case (tok, w) =>
      // deterministic 64-bit hash: FNV-1a then xorshift finalize
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < tok.length) { h ^= tok.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
      var b = 0
      while (b < 64) { acc(b) += (if (((h >>> b) & 1L) == 1L) w.toLong else -w.toLong); b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def simhash(documents: DataFrame): DataFrame = {
    val sim = udf((t: String) => simhash64(t))
    documents.select(col("doc_id"), sim(col("text")).as("simhash"))
  }

  /** SimHash near-dup pairs: same 16-bit band in any of 4 bands →
    * candidate; verified by Hamming distance <= maxHamming.
    *
    * Scale shape (same memory-bounded design as
    * [[lshCandidatePairsFromSigs]]): ONE shuffle keyed by (band, key)
    * carrying (doc_id, simhash) — 16 bytes of payload; pairs expand inside
    * each bucket in the shared bounded window ([[BucketWindow.expand]]:
    * buffer ≤ `maxBucket` rows per task, overflow counted on
    * "graft.simhash.dropped_ids" and logged — a boilerplate-heavy web
    * corpus makes 16-bit-band mega-buckets explode quadratically
    * otherwise). The Hamming filter is the window's per-pair step, on the
    * simhash carried beside each id, so it runs BEFORE the cross-band
    * pair dedup, so the `.distinct()` shuffle only ever moves true
    * near-dup pairs, not the full banding blow-up. */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 12,
      maxBucket: Int = 10000): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val banded = simhash(documents).select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"), shiftrightunsigned(col("simhash"), b * 16)
          .bitwiseAND(lit(0xFFFFL)).as("key"))): _*)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.key").as("key"),
        col("doc_id"), col("simhash"))
      .as[(Int, Long, Long, Long)]
    BucketWindow.expand(banded, "doc_id", maxBucket, wholeBucket = false,
      "graft.simhash.dropped_ids") { (a, b) =>
      val h = java.lang.Long.bitCount(a._4 ^ b._4)
      if (h <= maxHamming) Some((a._3, b._3, h)) else None
    }
      .toDF("doc_a", "doc_b", "hamming")
      .distinct()
  }

  /** 64-bit MinHash — the web-scale variant of [[minhashSignatures]]
    * (which slices one md5 into k 32-bit hashes: collision hygiene too
    * thin at billions of documents). The STRING is hashed once per
    * shingle (the expensive part — proportional to shingle bytes); each
    * of the k slots then re-hashes that fixed 8-byte value with the slot
    * index (`xxhash64(i, h)`) — constant-cost per slot, so k slots cost
    * ~1 string hash + k tiny long hashes instead of k string hashes
    * (~4× cheaper at k=8), with per-slot collisions still ~2^-64 and
    * independent slot estimates (asserted in ScaleOpsSpec).
    * Same scale shape: explode + min-agg with map-side partials, NO
    * pre-distinct (min over the shingle multiset equals min over the
    * set). The md5 form stays the DuckDB oracle default; this is the
    * production path behind a separate entry point. */
  def minhashSignatures64(documents: DataFrame, k: Int = 8): DataFrame = {
    val sigs = (1 to k).map(i => min(xxhash64(lit(i), col("h"))).as(s"h$i"))
    documents
      .select(col("doc_id"), explode(shingles(col("text"))).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("h"))
      .groupBy(col("doc_id"))
      .agg(sigs.head, sigs.tail: _*)
  }

  /** Order-independent content signature of a two-column DISTINCT-row
    * table: (row count, XOR of xxhash64 over both columns). ONE
    * partial-aggregated scan — map-side combine, a single row moves — vs
    * the except-join a set-equality check costs. The iterative CC loops
    * use signature equality as their convergence check; a false
    * "converged" needs a 64-bit xor collision between consecutive rounds
    * (~2^-64 per comparison — far below any practical noise floor). */
  private def tableSignature(df: DataFrame, c1: String, c2: String): (Long, Long) = {
    val r = df.agg(count(lit(1)), expr(s"bit_xor(xxhash64($c1, $c2))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /**
   * Connected components over an undirected pair graph — near-dup CLUSTERS:
   * every document labeled with the smallest doc id reachable through
   * candidate-pair edges (then "keep one per cluster" is a trivial groupBy).
   *
   * Iterative min-label propagation: each round joins labels to the
   * symmetric edge list, takes the per-node neighborhood minimum, and
   * stops as soon as a round changes nothing (component diameter bounds
   * the round count; LSH near-dup clusters are shallow). Every round is
   * `localCheckpoint`ed — lineage stays O(1) instead of growing by two
   * joins per round, which is what kills iterative DataFrame jobs at
   * scale. For web-scale graphs with deep components swap the inner step
   * for the large-star/small-star rounds (Kiveris et al., "Connected
   * Components in MapReduce and Beyond", SoCC'14) — same driver loop,
   * same convergence check.
   */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame, maxIter: Int = 20): DataFrame = {
    val sym = pairs.select(col("a"), col("b"))
      .unionByName(pairs.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    var labels = nodes.select(col("node"), col("node").as("cluster")).localCheckpoint()
    var converged = false
    var it = 0
    // one content signature per round, previous round's memoized: the
    // convergence check costs ONE partial-aggregated scan, not a join
    var sig = tableSignature(labels, "node", "cluster")
    while (!converged && it < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("node").as("b"), col("cluster").as("nbr_cluster")), Seq("b"))
        .groupBy(col("a").as("node"))
        .agg(min(col("nbr_cluster")).as("nbr_min"))
      val updated = labels
        .join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("cluster"), coalesce(col("nbr_min"), col("cluster"))).as("cluster"))
        .localCheckpoint()
      val newSig = tableSignature(updated, "node", "cluster")
      labels = updated
      converged = newSig == sig
      sig = newSig
      it += 1
    }
    if (!converged)
      System.err.println(s"[graft.cc] connectedComponents exited at maxIter=$maxIter " +
        "WITHOUT converging — labels may span multiple rounds of propagation short " +
        "of the true component minimum (deep component diameter; use " +
        "connectedComponentsStar for deep graphs)")
    labels
  }

  /** Canonical orientation of an (a, b) edge list: u > v (hi points to lo),
    * self-loops and duplicates dropped. */
  private def canon(df: DataFrame): DataFrame =
    df.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()

  /** One large-star + small-star round of [[connectedComponentsStar]] over
    * canonical (u, v) edges, returned unmaterialized. */
  private[ops] def starRound(edges: DataFrame): DataFrame = {
    val byU = org.apache.spark.sql.expressions.Window.partitionBy(col("u"))
    // large-star: m(u) = min(N(u) ∪ {u}); for (u,v) with v > u: edge (v, m).
    // The per-neighborhood minimum is a window min over ONE u-keyed
    // exchange — the groupBy + join form paid two exchanges of the
    // symmetric edge list per star step (guide §2.4: two operations keyed
    // the same way share one exchange). min is duplicate-insensitive and
    // the round's output passes through canon's distinct, so the emitted
    // edge SET is identical; the intermediate needs no distinct. For
    // (u, v > u): m ≤ u < v, so (v, m) is already canonically oriented and
    // never a self-loop.
    val sym = edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    val large = sym
      .withColumn("m", least(min(col("v")).over(byU), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
    // small-star over canonical (u, v < u): m = min(los ∪ {u}) = min(v)
    // within the u-window (every v < u); attach u and every lo to m.
    // withM feeds both union branches; the planner builds its u-keyed
    // exchange once and the second branch reads it as a ReusedExchange
    // (asserted in StarRoundSpec), so the large-star is not recomputed.
    val withM = large.withColumn("m", min(col("v")).over(byU))
    canon(withM.select(col("v").as("a"), col("m").as("b"))
      .unionByName(withM.select(col("u").as("a"), col("m").as("b"))))
  }

  /**
   * Connected components via alternating LARGE-STAR / SMALL-STAR rounds
   * (Kiveris et al., "Connected Components in MapReduce and Beyond",
   * SoCC'14) — the deep-graph path: converges in O(log n) rounds where
   * [[connectedComponents]]' min-label propagation needs diameter rounds
   * (a 200-node chain: ~8 star rounds vs 200 propagation rounds — see
   * ScaleOpsSpec).
   *
   *  - large-star: every node's strictly-larger neighbors re-attach to the
   *    minimum of its neighborhood (including itself);
   *  - small-star: every node and its smaller-or-equal neighbors re-attach
   *    to the minimum among them.
   *
   * Each star step computes the per-neighborhood minimum as a WINDOW min
   * over one u-keyed exchange (the former groupBy-min + join paid two
   * exchanges of the symmetric edge list per step — and its join probe
   * side already routed a hub node's full adjacency to one reduce
   * partition, so the skew posture is unchanged: a hub key lands in one
   * task either way, with the window buffering through Spark's spillable
   * row array rather than an in-memory collect_list). Rounds are
   * localCheckpoint-ed (O(1) lineage); convergence = canonical edge set
   * unchanged. At the fixed point every component is a star on its
   * minimum id, so the label join is exact.
   */
  def connectedComponentsStar(pairs: DataFrame, nodes: DataFrame,
      maxIter: Int = 50): DataFrame = {
    var edges = canon(pairs).localCheckpoint()
    var sig = tableSignature(edges, "u", "v")
    var converged = sig._1 == 0L
    var it = 0
    while (!converged && it < maxIter) {
      val small = starRound(edges).localCheckpoint()
      val newSig = tableSignature(small, "u", "v")
      edges = small
      converged = newSig == sig
      sig = newSig
      it += 1
    }
    if (!converged)
      System.err.println(s"[graft.cc] connectedComponentsStar exited at maxIter=$maxIter " +
        "WITHOUT reaching the star fixed point — the label join below may emit " +
        "duplicate/incorrect cluster rows")
    // fixed point = stars: every non-center u has exactly one edge (u, center)
    nodes.select(col("node"))
      .join(edges.select(col("u").as("node"), col("v").as("c")), Seq("node"), "left")
      .select(col("node"), coalesce(col("c"), col("node")).as("cluster"))
  }

  /** Near-dup clusters of a documents table: LSH candidate pairs → connected
    * components; singletons keep their own id as cluster. Pass `sigs` (a
    * precomputed [[minhashSignatures]] table with h1/h2) to reuse a shared
    * signature table instead of recomputing the shingle hashes, or `pairs`
    * (a [[lshCandidatePairsFromSigs]] table, whose [[BuildParams]] must
    * match `maxBucket`) to reuse the candidate pairs too.
    *
    * Components run through [[connectedComponentsStar]] (O(log n) rounds)
    * by DEFAULT: a web-scale boilerplate chain deeper than any fixed
    * diameter bound must converge, not exit at maxIter with wrong labels.
    * Labels are identical to min-label propagation at the fixed point
    * (both emit the component-minimum id — asserted in ScaleOpsSpec). */
  def nearDupClusters(documents: DataFrame, maxBucket: Int = 10000,
      sigs: Option[DataFrame] = None,
      pairs: Option[DataFrame] = None): DataFrame = {
    pairs.foreach(BuildParams.check(_, "doc_a", "nearDupClusters", "lsh_max_bucket" -> maxBucket))
    val pairEdges = pairs
      .orElse(sigs.map(sg => lshCandidatePairsFromSigs(
        sg.select(col("doc_id"), col("h1"), col("h2")), maxBucket)))
      .getOrElse(lshCandidatePairs(documents, maxBucket))
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val nodes = documents.select(col("doc_id").as("node"))
    connectedComponentsStar(pairEdges, nodes)
      .select(col("node").as("doc_id"), col("cluster"))
  }

  /**
   * Benchmark DECONTAMINATION: drop every document sharing at least one
   * n-token shingle with a benchmark/eval table — the standard
   * n-gram-overlap hygiene pass a training corpus runs against its eval
   * benchmarks before training.
   *
   * Scale shape: the benchmark is tiny next to the corpus, so its distinct
   * shingle-hash set BROADCASTS and the corpus-side probe (one narrow
   * shingle explode + broadcast left-semi) never shuffles the corpus. The
   * final anti-join is keyed by doc_id against the FLAGGED ids only — NOT
   * broadcast-hinted, because on a heavily contaminated corpus that set
   * scales with the corpus (AQE broadcasts it when it is actually small).
   * Exact DuckDB oracle (same md5 shingle construction both engines).
   */
  def decontaminate(documents: DataFrame, benchmark: DataFrame, n: Int = 5): DataFrame = {
    val benchShingles = benchmark
      .select(explode(shingles(col("text"), n)).as("shingle"))
      .select(md5(col("shingle")).as("sh")).distinct()
    val docShingles = documents
      .select(col("doc_id"), explode(shingles(col("text"), n)).as("shingle"))
      .select(col("doc_id"), md5(col("shingle")).as("sh"))
    val contaminated = docShingles
      .join(broadcast(benchShingles), Seq("sh"), "left_semi")
      .select(col("doc_id")).distinct()
    documents.join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /**
   * BLOOM-FILTER decontamination — the regime [[decontaminate]]'s exact
   * broadcast cannot reach: when the benchmark/eval shingle SET is too
   * large to broadcast, an m-bit Bloom filter (m/8 bytes, independent of
   * benchmark cardinality) stands in. A document is dropped when ANY of
   * its n-gram shingles has all `kHashes` filter bits set — false
   * positives cause spurious drops at the classic Bloom rate
   * ((1−e^(−kn/m))^k), the safe direction for decontamination hygiene;
   * false negatives cannot happen, so nothing contaminated survives that
   * exact matching would have caught.
   *
   * Scale shape: the filter builds from ONE pass over the benchmark
   * (bit positions via the codegen'd `xxhash64(i, shingle)` chain,
   * distinct over ≤ m positions), collects to an m/64-long word array
   * and BROADCASTS; the corpus-side probe is a narrow mapPartitions bit
   * test — the corpus is never shuffled, exactly like the exact variant.
   * Bit positions use Spark's signed `pmod`, mirrored by the oracle.
   */
  def decontaminateBloom(documents: DataFrame, benchmark: DataFrame, n: Int = 3,
      mBits: Long = 1L << 20, kHashes: Int = 3): DataFrame = {
    require(mBits > 0 && mBits % 64 == 0, "mBits must be a positive multiple of 64")
    val spark = documents.sparkSession
    import spark.implicits._
    def positions(c: Column): Column =
      array((1 to kHashes).map(i => pmod(xxhash64(lit(i), c), lit(mBits))): _*)
    val words = new Array[Long]((mBits / 64).toInt)
    benchmark
      .select(explode(shingles(col("text"), n)).as("item"))
      .select(explode(positions(col("item"))).as("pos")).distinct()
      .collect()
      .foreach { r => val p = r.getLong(0); words((p >>> 6).toInt) |= (1L << (p & 63)) }
    val bc = spark.sparkContext.broadcast(words)
    val flagged = documents
      .select(col("doc_id"), explode(shingles(col("text"), n)).as("item"))
      .select(col("doc_id"), positions(col("item")).as("ps"))
      .as[(Long, Seq[Long])]
      .mapPartitions { it =>
        val w = bc.value
        it.filter { case (_, ps) =>
          ps.forall(p => (w((p >>> 6).toInt) & (1L << (p & 63))) != 0)
        }.map(_._1)
      }
      .toDF("doc_id").distinct()
    documents.join(flagged, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** Exact n-gram-set Jaccard for a CANDIDATE pair table — the corpus-scale
    * form of [[ngramJaccard]]: pair GENERATION is delegated to LSH banding
    * over the shared signature table ([[lshCandidatePairsFromSigs]]), so no
    * quadratic stage exists anywhere; this stage joins the distinct
    * shingle-HASH sets (16-byte md5s, never shingle strings) of candidate
    * documents only. Shuffles: one distinct over (doc_id, sh), one hash
    * join keyed by doc_a, one keyed by (doc_b, sh), one pair-keyed groupBy
    * — each carries ids+digests, all linear in candidate volume. Pairs
    * with an empty intersection drop out (inner join); LSH candidates
    * virtually always intersect, and a zero-overlap pair carries no dedup
    * signal. The pair table is deduplicated defensively (ids-only
    * distinct): a duplicated (doc_a, doc_b) row — e.g. from a multi-band
    * candidate source — would otherwise multiply inter_size and push
    * jaccard past 1. */
  def ngramJaccardForPairs(documents: DataFrame, pairs: DataFrame,
      minJaccard: Double = 0.0): DataFrame = {
    // shingle-explode ONLY candidate documents: at corpus scale the docs
    // appearing in any LSH pair are a small fraction of the table, and the
    // semi-join that prunes them moves ids alone
    val candDocs = pairs.select(col("doc_a").as("doc_id"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"))).distinct()
    val tok = documents.join(candDocs, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(shingles(col("text"))).as("shingle"))
      .select(col("doc_id"), md5(col("shingle")).as("sh")).distinct()
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("set_size"))
    val inter = pairs.select(col("doc_a"), col("doc_b")).distinct()
      .join(tok.select(col("doc_id").as("doc_a"), col("sh")), Seq("doc_a"))
      .join(tok.select(col("doc_id").as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter_size"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("set_size").as("size_a")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("set_size").as("size_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("inter_size").cast("double") /
          (col("size_a") + col("size_b") - col("inter_size")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** N-gram (3-shingle-set) Jaccard similarity for candidate pairs within
    * the same lang, restricted to doc_id < cap (the quadratic demo is
    * bounded; the scale path is [[ngramJaccardForPairs]] over LSH
    * candidates). */
  def ngramJaccard(documents: DataFrame, cap: Int = 200, minJaccard: Double = 0.0): DataFrame = {
    val docs = documents.filter(col("doc_id") < cap)
    val tok = docs.select(col("doc_id"), col("lang"), explode(shingles(col("text"))).as("token")).distinct()
    val sizes = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("set_size"))
    val a = tok.select(col("doc_id").as("doc_a"), col("lang"), col("token"))
    val b = tok.select(col("doc_id").as("doc_b"), col("lang"), col("token"))
    val inter = a.join(b, Seq("lang", "token"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter_size"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("set_size", "size_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("set_size", "size_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (col("inter_size").cast("double") /
          (col("size_a") + col("size_b") - col("inter_size")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }
}
