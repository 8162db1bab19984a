package graft.kg

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Dedup-operator correctness on constructed duplicates (the driver tables
  * contain none), plus physical-strategy and skew-spreading assertions. */
class DedupOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def docs(rows: (Long, String, String)*) =
    rows.toSeq.toDF("doc_id", "text", "lang")
      .withColumn("source", lit("t")).withColumn("n_chars", length(col("text")).cast("long"))

  private val d = docs(
    (1L, "alpha beta gamma delta epsilon zeta", "en"),
    (2L, "alpha beta gamma delta epsilon zeta", "en"),   // exact dup of 1
    (3L, "alpha beta gamma delta epsilon eta", "en"),    // near dup (1 token off)
    (4L, "completely different words entirely here now", "en"),
    (5L, "alpha beta gamma delta epsilon zeta", "de"))   // exact dup, other lang

  test("exact dedup groups identical texts, keeps min doc_id") {
    val got = graft.ops.Dedup.exact(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 3)
    val dupGroup = got.find(_._3 == 3L).get
    assert(dupGroup._2 === 1L) // keeper is the smallest id
  }

  test("minhash: identical docs get identical signatures; near-dups share band") {
    val sig = graft.ops.Dedup.minhashSignatures(d).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getString(3), r.getString(4))).toMap
    assert(sig(1L) === sig(2L))
    assert(sig(1L) === sig(5L))
    assert(sig(1L) !== sig(4L))
    val pairs = graft.ops.Dedup.lshCandidatePairs(d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 5L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("shingle jaccard: identical docs = 1.0; near dups high; distinct docs absent") {
    val j = graft.ops.Dedup.ngramJaccard(d, cap = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) === 1.0)
    assert(j((1L, 3L)) > 0.5)
    assert(!j.contains((1L, 4L))) // no shared shingles
    // lang-restricted: doc 5 (de) never pairs with en docs
    assert(!j.keys.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("ngramJaccardForPairs (scale form) verifies LSH candidates with the " +
      "exact set Jaccard") {
    val pairs = graft.ops.Dedup.lshCandidatePairs(d)
      .select(col("doc_a"), col("doc_b"))
    val j = graft.ops.Dedup.ngramJaccardForPairs(d, pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // identical docs: Jaccard exactly 1.0, regardless of lang (no lang gate
    // in the scale form — LSH banding is content-only)
    assert(j((1L, 2L)) === 1.0)
    assert(j((1L, 5L)) === 1.0)
    assert(j((2L, 5L)) === 1.0)
    // the unrelated doc is never a candidate, so never verified
    assert(!j.keys.exists(p => p._1 == 4L || p._2 == 4L))
    // values agree with the exact quadratic demo on shared (same-lang) pairs
    val demo = graft.ops.Dedup.ngramJaccard(d, cap = 100).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    j.keys.filter(demo.contains).foreach(k => assert(j(k) === demo(k), s"pair $k"))
  }

  test("simhash: identical text hamming 0 → pair found; distinct text far") {
    val pairs = graft.ops.Dedup.simhashPairs(d, maxHamming = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(!pairs.exists(p => (p._1, p._2) == ((1L, 4L))))
  }

  test("connected components: chains collapse to min id, singletons keep their own") {
    // graph: 1-2-3-4 chain (diameter 3), 5-6 pair, 7 singleton, 8-9 + 9-10 triangle-ish
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L), (8L, 9L), (9L, 10L), (8L, 10L))
      .toDF("a", "b")
    val nodes = (1L to 10L).toDF("node")
    val got = graft.ops.Dedup.connectedComponents(pairs, nodes).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L, 9L -> 8L, 10L -> 8L))
  }

  test("nearDupClusters groups exact/near duplicates via the LSH pair graph") {
    val clusters = graft.ops.Dedup.nearDupClusters(d).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) === clusters(2L)) // exact dups share a cluster
    assert(clusters(1L) === clusters(5L))
    assert(clusters(4L) === 4L)           // unrelated doc is a singleton
    assert(clusters.size === 5)
  }

  test("decontamination drops every doc sharing an n-gram with the benchmark") {
    // benchmark = doc 1; docs 2 and 5 are verbatim copies, doc 3 shifts one
    // token but still shares 5-grams with the head of doc 1; doc 4 is clean
    val bench = d.filter(col("doc_id") === 1)
    val kept = graft.ops.Dedup.decontaminate(d, bench, n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept === Set(4L), s"only the clean doc survives: $kept")
    // a shorter n catches nothing extra here; a benchmark with no overlap
    // drops nothing
    val cleanBench = docs((99L, "totally unrelated benchmark text rows here", "en"))
    val keptAll = graft.ops.Dedup.decontaminate(d, cleanBench, n = 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptAll === Set(1L, 2L, 3L, 4L, 5L))
    // the corpus is never shuffled: benchmark probe and anti-join broadcast
    val plan = graft.ops.Dedup.decontaminate(d, bench, n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"benchmark side must broadcast:\n$plan")
  }

  test("dupSpanStats: shared 20-token runs count as duplicated positions, " +
      "unique docs read zero") {
    val run = (1 to 25).map(i => s"tok$i").mkString(" ") // 25 shared tokens
    val dd = docs(
      (1L, s"$run alpha beta gamma", "en"),
      (2L, s"prefix words here $run", "en"),    // shares the 25-token run
      (3L, (1 to 30).map(i => s"uniq$i").mkString(" "), "en"), // no overlap
      (4L, "short doc", "en"))                   // < 20 tokens → no spans
    val got = graft.ops.TextAnalysis.dupSpanStats(dd).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // doc 1: 28 tokens → 9 span positions; positions 1..6 start inside the
    // shared run (25-token run → 25-20+1 = 6 shared spans); positions 7-9
    // include the alpha/beta/gamma tail → unique
    assert(got(1L) === ((9L, 6L, 6.0 / 9)))
    // doc 2: 28 tokens → 9 spans; the shared run occupies the TAIL → its 6
    // spans are the last ones
    assert(got(2L) === ((9L, 6L, 6.0 / 9)))
    // doc 3: 30 unique tokens → 11 spans, none duplicated
    assert(got(3L) === ((11L, 0L, 0.0)))
    // doc 4: under the span length → absent entirely
    assert(!got.contains(4L))
  }

  test("dupSpanIntervals: maximal consecutive duplicated runs, correct " +
      "token coverage, separate runs stay separate") {
    val run = (1 to 25).map(i => s"tok$i").mkString(" ")   // 25 shared tokens
    val run2 = (1 to 22).map(i => s"dup$i").mkString(" ")  // 22 shared tokens
    val dd = docs(
      (1L, s"$run alpha beta gamma", "en"),                // run at HEAD
      (2L, s"prefix words here $run", "en"),               // run at TAIL
      // doc 5/6 share run2 → doc 5 has TWO separate duplicated regions
      (5L, s"$run2 " + (1 to 10).map(i => s"mid$i").mkString(" ") + s" $run", "en"),
      (6L, s"$run2 tail filler words", "en"),
      (3L, (1 to 30).map(i => s"uniq$i").mkString(" "), "en"))
    val got = graft.ops.TextAnalysis.dupSpanIntervals(
      graft.ops.TextAnalysis.spanDigests(dd)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // doc 1: span starts 0..5 duplicated (25-20+1=6) → interval [0, 24]
    // doc 2: 3 prefix tokens → starts 3..8 → interval [3, 27]
    // doc 5 (57 tokens): run2 at 0..21 → starts 0..2 dup (22-20+1=3),
    //   interval [0, 21]; run at 32..56 → starts 32..37, interval [32, 56];
    //   the mid tokens break the runs into TWO intervals
    // doc 3: no duplicated positions → absent
    assert(got === Set(
      (1L, 0L, 24L, 6L),
      (2L, 3L, 27L, 6L),
      (5L, 0L, 21L, 3L),
      (5L, 32L, 56L, 6L),
      (6L, 0L, 21L, 3L))) // 25 tokens: starts 0..2 inside run2 → [0, 21]
  }

  test("cutDuplicateSpans: canonical occurrence kept, replicas fully cut, " +
      "splice reconstructs the expected cleaned text") {
    val run = (1 to 25).map(i => s"tok$i").mkString(" ")
    val tail = "alpha beta gamma"
    val uniq = (1 to 30).map(i => s"uniq$i").mkString(" ")
    val dd = docs(
      (1L, s"$run $tail", "en"),   // canonical owner of the run (28 tokens)
      (2L, run, "en"),             // exact replica of the run → fully cut
      (3L, s"prefix words here $run", "en"), // run at tail → cut, prefix kept
      (4L, uniq, "en"),            // untouched
      (7L, "short doc", "en"))     // < 20 tokens → untouched
    val got = graft.ops.TextAnalysis.cutDuplicateSpans(
      dd, graft.ops.TextAnalysis.spanDigests(dd).localCheckpoint()).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    def md5(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 1 owns every span of the run (lexicographic-first) → untouched
    assert(got(1L) === ((28L, 0L, 0L, md5(s"$run $tail"))))
    // doc 2: its 6 span positions all lose to doc 1 → covered [0, 24] = all
    assert(got(2L) === ((25L, 25L, 1L, md5(""))))
    // doc 3: 28 tokens, cut positions 3..8 → interval [3, 27]; kept = prefix
    assert(got(3L) === ((28L, 25L, 1L, md5("prefix words here"))))
    // untouched docs: zero cuts, digest of the original text
    assert(got(4L) === ((30L, 0L, 0L, md5(uniq))))
    assert(got(7L) === ((2L, 0L, 0L, md5("short doc"))))
  }

  test("mixture sampling: deterministic, per-group rates, absent groups dropped") {
    val many = docs((1L to 400L).map(i => (i, s"doc number $i payload", if (i % 2 == 0) "en" else "fr")): _*)
    val sampled = graft.ops.TextAnalysis.mixtureSample(many,
      Map("en" -> "8000", "fr" -> "2000"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // deterministic: same input → same sample
    val again = graft.ops.TextAnalysis.mixtureSample(many,
      Map("en" -> "8000", "fr" -> "2000"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(sampled.toSeq.sorted === again.toSeq.sorted)
    val en = sampled.count(_._2 == "en").toDouble / 200
    val fr = sampled.count(_._2 == "fr").toDouble / 200
    assert(math.abs(en - 0.5) < 0.15, s"en keep rate $en should be ~0.5")
    assert(math.abs(fr - 0.125) < 0.1, s"fr keep rate $fr should be ~0.125")
    // group without a rate vanishes
    val noFr = graft.ops.TextAnalysis.mixtureSample(many, Map("en" -> "8000"))
      .collect().map(r => r.getString(1)).toSet
    assert(noFr === Set("en"))
  }

  test("repetition stats: hand-checked ratios on a known document") {
    val one = docs((1L, "a a a b", "en"), (2L, "x", "en"))
    val got = graft.ops.TextAnalysis.repetitionStats(one)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // doc 1: 4 tokens, 2 distinct; top token 'a'×3; 2-grams "a a"×2,"a b"×1
    assert(got(1L) === ((4L, 0.5, 0.75, 2.0 / 3.0)))
    // doc 2: single token, no 2-grams → top_2gram_frac 0 with the n=1 guard
    assert(got(2L) === ((1L, 1.0, 1.0, 0.0)))
  }

  test("winnowing fingerprints: shared substrings yield shared fingerprints") {
    import graft.ops.TextAnalysis.winnow
    val a = "the quick brown fox jumps over the lazy dog near the river bank today"
    val b = "yesterday the quick brown fox jumps over the lazy dog went home early"
    val c = "completely unrelated content with no overlap whatsoever in this doc"
    assert(winnow(a) === winnow(a)) // deterministic
    val shared = winnow(a).toSet intersect winnow(b).toSet
    assert(shared.nonEmpty, "long shared substring must produce shared fingerprints")
    assert((winnow(a).toSet intersect winnow(c).toSet).isEmpty)
    // guarantee: any match of length >= w + k - 1 is caught
    assert(winnow("x" * 5) === Seq.empty) // below k
    assert(winnow("abcdefghij", k = 8, w = 6).nonEmpty)
  }

  test("linkBroadcast links in the kernel's stage; linkSalted plans a shuffle join") {
    import org.apache.spark.sql.execution.MapPartitionsExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val pages = Pipeline.generatePages(spark, 30)
    val bundle = spark.sparkContext.broadcast(Pipeline.buildBundle())
    val scored = Pipeline.scorePages(spark, pages, bundle)
    val dict = Pipeline.entityDict(spark)
    val linked = Pipeline.linkBroadcast(scored, dict)
    assert(linked.collect().nonEmpty) // executed, so an adaptive plan is final
    val bPlan = linked.queryExecution.executedPlan
    assert(PlanNodes.collect(bPlan) { case j: BaseJoinExec => j }.isEmpty, s"unexpected join in:\n$bPlan")
    assert(PlanNodes.collect(bPlan) { case e: Exchange => e }.isEmpty, s"unexpected exchange in:\n$bPlan")
    // the link's MapPartitions reads the kernel's objects: no decode between
    val linkOverKernel = PlanNodes.collect(bPlan) { case MapPartitionsExec(_, _, k: MapPartitionsExec) => k }
    assert(linkOverKernel.size === 1, s"expected MapPartitions over MapPartitions in:\n$bPlan")
    val sPlan = Pipeline.linkSalted(scored, dict).queryExecution.executedPlan.toString
    assert(sPlan.contains("SortMergeJoin") || sPlan.contains("ShuffledHashJoin"),
      s"expected shuffle join in:\n$sPlan")
  }

  test("salting spreads the Zipf-hot key across all salt buckets") {
    val pages = Pipeline.generatePages(spark, 200)
    val bundle = spark.sparkContext.broadcast(Pipeline.buildBundle())
    val scored = Pipeline.scorePages(spark, pages, bundle)
    val hot = scored.filter(col("objectSurface") === "united states")
      .withColumn("salt", pmod(xxhash64(col("url"), col("sentIdx")), lit(8)).cast("int"))
    val saltCount = hot.select("salt").distinct().count()
    assert(hot.count() > 20, "need enough hot-key rows for the spread test")
    assert(saltCount >= 6, s"hot key must spread over most salt buckets, got $saltCount")
  }

  test("decontaminateBloom: superset of exact drops, clean docs survive") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "en", "web"),
      (2L, "unrelated prefix alpha beta gamma suffix tokens here", "en", "web"), // shares a 3-gram with 1
      (3L, "completely different token stream with nothing shared", "en", "web"),
      (4L, "another clean document of fresh words entirely disjoint", "en", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val bench = docs.filter(col("doc_id") === 1L)
    val bloom = graft.ops.Dedup.decontaminateBloom(docs, bench, n = 3,
      mBits = 1L << 20, kHashes = 3).collect().map(_.getLong(0)).toSet
    // no false negatives: everything the EXACT n-gram pass drops, the
    // Bloom pass drops too (Bloom survivors are a subset of exact ones)
    val exact = graft.ops.Dedup.decontaminate(docs, bench, n = 3)
      .collect().map(_.getLong(0)).toSet
    assert(bloom.subsetOf(exact), s"bloom=$bloom exact=$exact")
    assert(!bloom.contains(1L) && !bloom.contains(2L), "true contamination must drop")
    // at m = 2^20 with a handful of shingles the FP probability is ~0:
    // the clean docs survive
    assert(bloom === Set(3L, 4L))
    // a tiny filter saturates: every doc drops (all-FP regime, the safe
    // direction), never the reverse
    val tiny = graft.ops.Dedup.decontaminateBloom(docs, bench, n = 3,
      mBits = 64, kHashes = 3).collect().map(_.getLong(0)).toSet
    assert(tiny.subsetOf(bloom))
  }

  test("redactPii: emails first, phone runs second, counts and digest exact") {
    val docs = Seq(
      (1L, "mail a1.b-c%d@ex-ample.co.uk now and call +1 555-123 4567 ok", "en"),
      (2L, "two mails x@y.io z@w.ai and 0123456789", "en"),
      (3L, "clean text with no pii at all", "en"),
      (4L, "not-an-email @ nor a phone 12-34", "en")
    ).toDF("doc_id", "text", "lang")
    val r = graft.ops.TextAnalysis.redactPii(docs).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(r(1L)._1 === 1L && r(1L)._2 === 1L)
    assert(r(2L)._1 === 2L && r(2L)._2 === 1L)
    assert(r(3L) === ((0L, 0L, md5Hex("clean text with no pii at all"))))
    assert(r(4L)._1 === 0L && r(4L)._2 === 0L)
    // the digest is of the REDACTED text — replacements verified literally
    assert(r(2L)._3 === md5Hex("two mails <EMAIL> <EMAIL> and <PHONE>"))
    assert(r(1L)._3 === md5Hex("mail <EMAIL> now and call <PHONE> ok"))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
