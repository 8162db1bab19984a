package graft.ops

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/**
 * Text-analysis operators for training-data curation over `documents`.
 * All pure `functions._` chains (whole-stage codegen; no UDFs), each with an
 * exact DuckDB oracle — narrow, shuffle-free projections that scale linearly.
 */
object TextAnalysis {

  private def toks(c: Column): Column = split(c, " ")

  /** Tiny per-language stopword lists for the n-gram/stopword language-ID
    * heuristic (deterministic, self-contained). */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "de", "et", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2"))

  /** The language-ID languages, in tie-break order. */
  private val langs = Seq("en", "es", "de", "fr", "zh")

  /** One `hits_<lang>` column per language: its stopword count in `text`. */
  private def stopwordHits: Seq[Column] = langs.map { l =>
    val set = stopwords(l)
    size(filter(toks(col("text")), t => t.isInCollection(set))).as(s"hits_$l")
  }

  /** (lang, hits) argmax over the [[stopwordHits]] columns: ties go to the
    * earlier language, all-zero → ("und", 0) (undetermined). It folds over
    * cheap column references, so each count is computed once. */
  private def langArgmax: (Column, Column) =
    langs.foldLeft((lit("und"), lit(0))) { case ((bestLang, bestHits), l) =>
      val hits = col(s"hits_$l")
      (when(hits > bestHits, lit(l)).otherwise(bestLang),
        when(hits > bestHits, hits).otherwise(bestHits))
    }

  /** Language-ID: argmax of stopword hits; ties broken by fixed lang order;
    * all-zero → "und" (undetermined). */
  def langId(documents: DataFrame): DataFrame = {
    val (lang, hits) = langArgmax
    documents.select((col("doc_id") +: stopwordHits): _*)
      .select(col("doc_id"), lang.as("lang_guess"), hits.as("hits"))
  }

  /** Quality score from exact-integer features → ratios of ints (identical
    * float64 in any engine): token count, mean token length, stopword ratio,
    * long-token ratio. */
  def qualityScore(documents: DataFrame): DataFrame = {
    val t = toks(col("text"))
    val nTok = size(t)
    val allStop = stopwords.values.flatten.toSeq.distinct
    val nStop = size(filter(t, x => x.isInCollection(allStop)))
    val nLong = size(filter(t, x => length(x) >= 8))
    documents.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      (length(col("text")).cast("double") / nTok.cast("double")).as("mean_token_len"),
      (nStop.cast("double") / nTok.cast("double")).as("stopword_ratio"),
      (nLong.cast("double") / nTok.cast("double")).as("long_token_ratio"))
  }

  /** Token counting: whitespace tokens + a BPE-ish regex token count
    * (runs of lowercase letters or digits). */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      size(toks(col("text"))).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+"), lit(0))).as("re_tokens"),
      length(col("text")).as("chars"))

  /** Duplicated-span statistics — the fixed-length approximation of exact
    * substring dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better": drop/penalize text whose long token spans
    * recur verbatim across the corpus). For every `n`-token span position,
    * the span is duplicated when its hash occurs in MORE THAN ONE document;
    * the per-document output is (span count, duplicated-span count, their
    * ratio) — the filterable signal, with ratios of exact ints (identical
    * float64 cross-engine).
    *
    * Scale shape: one explode to (doc_id, span-md5) — 16-byte digests, never
    * span text; a distinct + groupBy(hash) for the document frequency
    * (map-side partial agg); one hash join back (linear, keyed by digest);
    * one groupBy(doc). No quadratic stage — the classic suffix-array
    * construction is replaced by the hash multiset, which loses only
    * span-boundary precision (positions, not intervals, are counted).
    * The span-digest table feeds BOTH the document-frequency aggregate and
    * the join back, so it follows the shared-signature-table contract of
    * `Dedup.lshCandidatePairsFromSigs`: [[spanDigests]] is the write-once
    * per-corpus table (SpanCache in the battery; a prior job's output at
    * 100 TB — also the substrate for an exact-substring-INTERVAL operator),
    * and [[dupSpanStatsFromSpans]] consumes it without re-running the
    * n-wide shingle concat. */
  def dupSpanStats(documents: DataFrame, n: Int = 20): DataFrame =
    dupSpanStatsFromSpans(spanDigests(documents, n).localCheckpoint())

  /** The POSITIONAL (doc_id, pos, span-md5) table for every `n`-token span
    * start position — one 16-byte digest per position, never span text.
    * Write once per corpus, reuse across every duplicated-span consumer
    * ([[dupSpanStatsFromSpans]] drops `pos`; [[dupSpanIntervals]] needs it). */
  def spanDigests(documents: DataFrame, n: Int = 20): DataFrame = {
    // the span width travels WITH the table ([[BuildParams]]) so interval
    // consumers cannot silently disagree about it
    documents
      .select(col("doc_id"),
        posexplode(Dedup.shingles(col("text"), n)).as(Seq("pos", "span")))
      .select(col("doc_id"), BuildParams.tag(col("pos").cast("long"), "pos", "span_n" -> n),
        md5(col("span")).as("sh"))
  }

  /** Span-hash document frequency over a span-digest table — the shared
    * upstream of [[dupSpanStatsFromSpans]] and [[dupSpanIntervals]];
    * materialize once per corpus and pass to both (write-once contract). */
  def spanDocFreq(spans: DataFrame): DataFrame =
    spans.select(col("doc_id"), col("sh")).distinct()
      .groupBy(col("sh")).agg(count(lit(1)).as("n_docs"))

  /** [[dupSpanStats]] over a PRECOMPUTED (materialized) span-digest table. */
  def dupSpanStatsFromSpans(spans: DataFrame,
      docFreqOpt: Option[DataFrame] = None): DataFrame = {
    val ds = spans.select(col("doc_id"), col("sh"))
    val docFreq = docFreqOpt.getOrElse(spanDocFreq(spans))
    ds.join(docFreq, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("dup_spans"))
      .withColumn("dup_frac", col("dup_spans").cast("double") / col("n_spans").cast("double"))
  }

  /** Maximal duplicated-span INTERVALS — the exact-substring-dedup signal
    * in the interval form Lee et al. act on (cut/penalize the exact token
    * RANGES that recur verbatim elsewhere in the corpus, not just a
    * per-document fraction). A position is duplicated when its `n`-token
    * span digest occurs in more than one document; a maximal run of
    * consecutive duplicated positions [p, q] covers tokens [p, q + n − 1].
    *
    * Scale shape: document frequency over the shared span-digest table
    * (map-side partial agg), a linear join back, then ONE window shuffle
    * keyed by doc_id for the classic gaps-and-islands grouping
    * (pos − row_number is constant within a consecutive run). No quadratic
    * stage, no per-doc buffers beyond the window sort. */
  def dupSpanIntervals(spans: DataFrame, n: Int = 20,
      docFreqOpt: Option[DataFrame] = None): DataFrame = {
    // the table knows its own span width ([[spanDigests]] metadata); a
    // caller-passed n that disagrees would yield silently-wrong end_pos
    BuildParams.check(spans, "pos", "dupSpanIntervals", "span_n" -> n)
    val docFreq = docFreqOpt.getOrElse(spanDocFreq(spans))
    val dup = spans.join(docFreq, Seq("sh")).filter(col("n_docs") > 1)
      .select(col("doc_id"), col("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    dup.withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("start_pos"),
        (max(col("pos")) + lit(n - 1).cast("long")).as("end_pos"),
        count(lit(1)).as("n_positions"))
      .select(col("doc_id"), col("start_pos"), col("end_pos"), col("n_positions"))
  }

  /** Exact-substring CUT — the dedup ACTION of Lee et al. (remove every
    * duplicated `n`-token range, keeping ONE canonical occurrence): for
    * each span hash the lexicographic-first (doc_id, pos) occurrence is
    * canonical; every other occurrence (cross-document AND same-document
    * repeats) marks its positions for cutting; per doc the marked
    * positions merge into maximal token intervals (positions whose ranges
    * overlap or touch: gap ≤ n), and the document is spliced in-row —
    * kept tokens re-joined, with exact stats and a digest of the cleaned
    * text (the oracle-checkable form of the corpus rewrite).
    *
    * Scale shape: canonical selection is one groupBy(sh) min (map-side
    * partial), the cut set a linear join-back, interval merge ONE window
    * shuffle keyed by doc_id (lag-based gaps-and-islands — `pos + n − 1`
    * is monotone in pos, so the running coverage end is just the previous
    * pos), and the splice itself is row-local codegen'd HOFs. The only
    * per-doc buffer is the merged-interval list: disjoint intervals ≥ n
    * tokens apart, so ≤ tokens/n entries — strictly smaller than the text
    * column already in the row. */
  def cutDuplicateSpans(documents: DataFrame, spans: DataFrame, n: Int = 20): DataFrame = {
    BuildParams.check(spans, "pos", "cutDuplicateSpans", "span_n" -> n)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // canonical occurrence per span hash = lexicographic-first (doc_id, pos)
    val canon = spans.groupBy(col("sh"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val cut = spans.join(canon, Seq("sh"))
      .filter(!(col("doc_id") === col("first.doc_id") && col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos"))
    val intervals = cut
      .withColumn("newi",
        when(col("pos") - lag(col("pos"), 1).over(w) > n, 1).otherwise(0))
      .withColumn("island", sum(col("newi")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + lit(n - 1).cast("long")).as("e"))
    val cutsPerDoc = intervals.groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("cuts"),
        count(lit(1)).as("n_cut_intervals"))
    val tok = toks(col("text"))
    val keptCol = when(col("cuts").isNull, tok).otherwise(
      filter(tok, (_, i) => !exists(col("cuts"),
        c => i.cast("long").between(c.getField("s"), c.getField("e")))))
    documents.join(cutsPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(tok).cast("long").as("n_tokens"),
        (size(tok) - size(keptCol)).cast("long").as("cut_tokens"),
        coalesce(col("n_cut_intervals"), lit(0L)).as("n_cut_intervals"),
        md5(array_join(keptCol, " ")).as("cleaned_md5"))
  }

  /** Corpus-frequency RARITY score — the frequency-based quality signal a
    * curation run uses where CCNet uses LM perplexity (common/boilerplate
    * text scores high, rare or noisy text low). All-integer internals, per
    * the division-exact contract of [[tfidfTopTerms]]: cf(token) = total
    * corpus occurrences (exact long), per-document cf_sum = Σ cf over the
    * document's token POSITIONS (exact long sum — integer addition is
    * associative, so any aggregation order agrees), and mean_cf =
    * cf_sum / n_tokens is ONE IEEE division of exact ints — bit-identical
    * in any engine, unlike a per-doc mean of per-token doubles whose
    * summation order would differ.
    *
    * Scale shape: one groupBy(token) count (map-side partials), one
    * token-keyed hash join back, one doc-keyed groupBy of longs — every
    * shuffle keyed and linear, nothing global, no driver data. Same shape
    * as [[dupSpanStatsFromSpans]]. */
  def rarityScore(documents: DataFrame): DataFrame = {
    val tok = documents.select(col("doc_id"), explode(toks(col("text"))).as("token"))
    val cf = tok.groupBy(col("token")).agg(count(lit(1)).as("cf"))
    tok.join(cf, Seq("token"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("cf")).as("cf_sum"))
      .select(col("doc_id"), col("n_tokens"), col("cf_sum"),
        (col("cf_sum").cast("double") / col("n_tokens").cast("double")).as("mean_cf"))
  }

  /** Token-distribution SHIFT between two sources — the corpus-comparison
    * signal a mixture pipeline watches (crawl-drift between snapshots,
    * domain-vs-domain vocabulary skew, post-filter distribution damage):
    * top-`k` tokens by `|cf_a/n_a − cf_b/n_b|`, the absolute difference of
    * the token's relative frequency in each source. Each term is ONE IEEE
    * division of exact longs (cf and n are exact counts), and the
    * difference of two such doubles is again bit-determined — so ordering,
    * selection, and the emitted statistic agree in any engine, at any
    * scale (the normalized form cannot overflow, unlike the integer
    * cross-product `|cf_a·n_b − cf_b·n_a|`).
    *
    * Scale shape: ONE corpus pass — source-pruned scan (the `IN` filter
    * pushes to parquet) → explode → groupBy(token) with map-side partial
    * conditional sums; the vocab-sized count table materializes once
    * (localCheckpoint) and feeds the two-long totals action plus the
    * ranking; top-k is `TakeOrderedAndProject` (per-partition heads →
    * driver merge of P·k rows), never a global sort. Ties broken by token
    * ASC — the selected set is deterministic. */
  def tokenShift(documents: DataFrame, sourceA: String, sourceB: String,
      k: Int = 100): DataFrame = {
    require(sourceA != sourceB, "tokenShift needs two distinct sources")
    val cnt = documents
      .filter(col("source").isin(sourceA, sourceB))
      .select(col("source"), explode(toks(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(sum(when(col("source") === sourceA, 1L).otherwise(0L)).as("cf_a"),
        sum(when(col("source") === sourceB, 1L).otherwise(0L)).as("cf_b"))
      .localCheckpoint() // vocab-sized; consumed twice (totals + ranking)
    val tot = cnt.agg(sum(col("cf_a")), sum(col("cf_b"))).head()
    val (nA, nB) = (tot.getLong(0), tot.getLong(1))
    require(nA > 0 && nB > 0, s"tokenShift: empty source ($sourceA:$nA, $sourceB:$nB tokens)")
    val shift = abs(col("cf_a").cast("double") / lit(nA).cast("double")
      - col("cf_b").cast("double") / lit(nB).cast("double"))
    cnt.withColumn("shift", shift)
      .orderBy(col("shift").desc, col("token").asc)
      .limit(k)
  }

  /** SOURCE-level curation stats + gate — the domain/source filtering pass
    * of web-corpus pipelines (RefinedWeb/C4 drop whole domains whose
    * aggregate signals fail, instead of re-litigating every page): per
    * source, document count, exact token sum, distinct-text count (exact
    * dedup digest), and the two derived gates — mean document length and
    * the within-source exact-duplicate fraction. A source is `flagged`
    * when its mean length falls below `minMeanTokens` or its duplicate
    * fraction exceeds `maxDupFrac`. Ratios of exact ints (one IEEE
    * division each — cross-engine identical), so the threshold compare
    * agrees in any engine.
    *
    * Scale shape: ONE groupBy(source) with map-side partials (the distinct
    * count is a two-phase partial-distinct over (source, digest) — digests,
    * never text, shuffle); the key space is the source/domain set, millions
    * at web scale, never corpus-sized. */
  def sourceStats(documents: DataFrame, minMeanTokens: Double = 50.0,
      maxDupFrac: Double = 0.2): DataFrame =
    documents
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks(col("text"))).cast("long")).as("tok_sum"),
        countDistinct(md5(col("text"))).as("n_uniq"))
      .select(col("source"), col("n_docs"), col("tok_sum"), col("n_uniq"),
        (col("tok_sum").cast("double") / col("n_docs").cast("double")).as("mean_tokens"),
        ((col("n_docs") - col("n_uniq")).cast("double") / col("n_docs").cast("double")).as("dup_frac"))
      .withColumn("flagged",
        col("mean_tokens") < minMeanTokens || col("dup_frac") > maxDupFrac)

  /** Concat-and-chunk sequence PACKING — the GPT-style pretraining layout:
    * the corpus's token stream, concatenated in doc_id order, is cut into
    * fixed-`capacity` training rows; a document spanning a cut contributes
    * its tokens to both neighbors. Emits the per-chunk manifest
    * (chunk_id, docs overlapping it, tokens it holds, first/last doc) —
    * the placement table a packed-example writer consumes.
    *
    * Scale shape: the global token offset comes from
    * [[Rank.globalRunningOffset]] — the two-phase distributed prefix sum
    * (range partition + per-partition totals + broadcast offsets), NOT a
    * `Window.orderBy` over everything, which would funnel the corpus
    * through one partition. The chunk explode adds ≤ n_tokens/capacity + 1
    * rows per document (linear in corpus tokens), and the final groupBy is
    * keyed by chunk_id. Exact-integer throughout (token counts, integer
    * division), so the DuckDB oracle — which CAN use the single-partition
    * window form at test scale — matches bit-for-bit. */
  def packChunks(documents: DataFrame, capacity: Long = 1024L): DataFrame = {
    require(capacity > 0, "capacity must be positive")
    val withLen = documents
      .select(col("doc_id"), size(toks(col("text"))).cast("long").as("n_tokens"))
      .filter(col("n_tokens") > 0)
    Rank.globalRunningOffset(withLen, Seq(col("doc_id")), col("n_tokens"), "start")
      .withColumn("end", col("start") + col("n_tokens"))
      .withColumn("chunk_id", explode(sequence(
        expr(s"start DIV $capacity"), expr(s"(`end` - 1) DIV $capacity"))))
      .groupBy(col("chunk_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("end"), (col("chunk_id") + 1) * capacity)
          - greatest(col("start"), col("chunk_id") * capacity)).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
  }

  /** Canonical document fingerprint: md5 of the sorted distinct token set —
    * invariant under token order (near-dup canary). */
  def fingerprint(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      md5(array_join(array_sort(array_distinct(toks(col("text")))), " ")).as("fingerprint"))

  /** Winnowing document fingerprints (rolling hash): Rabin-Karp hashes of
    * character k-grams, keeping the minimum of each w-hash window with the
    * rightmost-min tie-break — the standard local-fingerprinting scheme
    * (Schleimer/Wilkerson/Aiken). Pure function; guaranteeing that any
    * shared substring of length ≥ w+k−1 yields a shared fingerprint. */
  def winnow(text: String, k: Int = 8, w: Int = 6): Seq[Long] = {
    val n = text.length
    if (n < k) return Seq.empty
    val B = 1000000007L
    var pow = 1L
    var i = 1
    while (i < k) { pow = pow * B; i += 1 } // overflow-wrapping is fine: consistent
    val hashes = new Array[Long](n - k + 1)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + text.charAt(i); i += 1 }
    hashes(0) = h
    i = k
    while (i < n) {
      h = (h - text.charAt(i - k) * pow) * B + text.charAt(i)
      hashes(i - k + 1) = h
      i += 1
    }
    if (hashes.length <= w) return Seq(hashes.min)
    val out = scala.collection.mutable.LinkedHashSet.empty[Long]
    var start = 0
    while (start + w <= hashes.length) {
      var minIdx = start
      var j = start + 1
      while (j < start + w) { if (hashes(j) <= hashes(minIdx)) minIdx = j; j += 1 }
      out += hashes(minIdx)
      start += 1
    }
    out.toSeq
  }

  /** Winnowing fingerprints as a table: one row per (doc_id, fingerprint).
    * Shared fingerprints across docs = shared substrings (plagiarism/
    * boilerplate detection); groupBy(fingerprint) finds the clusters. */
  def winnowFingerprints(spark: org.apache.spark.sql.SparkSession,
      documents: DataFrame, k: Int = 8, w: Int = 6): DataFrame = {
    import spark.implicits._
    documents.select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) => winnow(text, k, w).map(id -> _) }
      .select(col("_1").as("doc_id"),
        BuildParams.tag(col("_2"), "fingerprint", "winnow_k" -> k, "winnow_w" -> w))
  }

  /** Stop-fingerprint df cap sized from the corpus count, the same
    * contract as [[graft.ops.Similarity.planesForCorpus]] for ANN banding:
    * a fingerprint shared by more than ~1 % of documents is boilerplate at
    * ANY corpus size — a fixed absolute cap would reclassify legitimate
    * shared substrings as boilerplate as n grows (50 docs is 10 % of a
    * 500-doc corpus but 0.00005 % of a 10^8-doc one). Clamped to
    * [50, 100000]: the floor keeps toy-scale semantics stable (and equal to
    * the historical fixed 50 at every sandbox scale factor); the ceiling
    * bounds in-bucket task memory at web scale. SQL-expressible, so the
    * DuckDB oracle computes the identical cap from COUNT(*). */
  def maxDfForCorpus(n: Long): Int =
    math.min(100000L, math.max(50L, math.ceil(n * 0.01).toLong)).toInt

  /** Winnow near-dup candidate pairs at corpus scale: doc pairs sharing at
    * least one DISCRIMINATIVE winnow fingerprint — the same banding shape
    * as minhash-LSH (ONE shuffle keyed by fingerprint carrying
    * (fingerprint, doc_id) only), expanded in-bucket by the shared window
    * [[BucketWindow.expand]] under its all-or-nothing rule: a fingerprint
    * shared by more than `maxDf` documents is boilerplate (a
    * stop-fingerprint), carries no near-dup signal, and would expand
    * quadratically, so its bucket emits
    * nothing and its ids land on the "graft.winnow.dropped_ids"
    * accumulator. Task memory is O(maxDf) regardless of bucket size.
    * `maxDf <= 0` (the default) sizes the cap from the corpus count via
    * [[maxDfForCorpus]] — one cheap count() against the (pruned) doc_id
    * column, then the plan is built with the right threshold for that n. */
  def winnowCandidatePairs(spark: org.apache.spark.sql.SparkSession,
      documents: DataFrame, k: Int = 8, w: Int = 6, maxDf: Int = 0,
      fingerprints: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val df = if (maxDf > 0) maxDf else maxDfForCorpus(documents.count())
    // `fingerprints`: a precomputed [[winnowFingerprints]] table — the
    // write-once shared-artifact contract (same as SigCache/SpanCache);
    // its [[BuildParams]] must match k and w
    fingerprints.foreach(BuildParams.check(_, "fingerprint", "winnowCandidatePairs",
      "winnow_k" -> k, "winnow_w" -> w))
    BucketWindow.expand(fingerprints.getOrElse(winnowFingerprints(spark, documents, k, w))
        .select(col("fingerprint"), col("doc_id")).as[(Long, Long)],
      "doc_id", df, wholeBucket = true, "graft.winnow.dropped_ids")(
      (a, b) => Some((a._2, b._2)))
      .toDF("doc_a", "doc_b")
      .distinct()
  }

  /** PII patterns shared by the operator and its oracle — a regex subset
    * with identical semantics in Java regex (Spark) and RE2 (DuckDB):
    * character classes and bounded/unbounded greedy quantifiers only, no
    * backreferences or lookaround. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+?\\d[\\d\\- ]{6,}\\d"

  /** PII redaction — the scrubbing pass a training corpus runs before the
    * tokenizer sees it: emails → `<EMAIL>`, phone-like digit runs →
    * `<PHONE>`, with per-document match counts for the removal report.
    * Email redaction runs FIRST (local parts may contain digits that the
    * phone pattern would otherwise eat). Pure narrow projection — scales
    * linearly, pushes to the scan. The digest of the redacted text keeps
    * the verify content-exact without hauling full documents around. */
  def redactPii(documents: DataFrame): DataFrame = {
    val noEmail = regexp_replace(col("text"), emailRe, "<EMAIL>")
    documents.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(emailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(noEmail, lit(phoneRe), lit(0))).cast("long").as("n_phones"),
      md5(regexp_replace(noEmail, phoneRe, "<PHONE>")).as("redacted_md5"))
  }

  /** Deterministic content-hash sampling — the reproducible alternative to
    * rand() for carving held-out / subsample splits from a 100 TB corpus:
    * keep rows whose md5(text) hex prefix sorts below `hexBound`
    * (rate = value(hexBound) / 16^len; e.g. "1999" ≈ 10%). Pure narrow
    * filter, pushes to the scan, identical on any cluster size or engine. */
  def hashSample(documents: DataFrame, hexBound: String = "1999"): DataFrame =
    documents
      .filter(substring(md5(col("text")), 1, hexBound.length) < lit(hexBound))
      .select(col("doc_id"), col("lang"), col("source"))

  /** Gopher-style REPETITION signals per document — the standard
    * repetition quality gates for web-corpus curation (distinct-token
    * ratio, most-common-token fraction, most-common-2-gram fraction; a
    * boilerplate/spam page scores low distinct ratio and high top-k-gram
    * fractions). Scale shape: one narrow per-doc pass for the base stats
    * plus two doc-keyed groupBy chains (token and 2-gram max counts) —
    * every shuffle keyed by doc_id, map-side partials free, nothing
    * global; ratios are exact-int divisions (cross-engine identical). */
  def repetitionStats(documents: DataFrame): DataFrame = {
    val t = toks(col("text"))
    val base = documents.select(col("doc_id"),
      size(t).cast("long").as("n_tokens"),
      size(array_distinct(t)).cast("long").as("n_distinct"))
    val top1 = documents
      .select(col("doc_id"), explode(toks(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_token_cnt"))
    val top2 = documents
      .select(col("doc_id"), explode(graft.ops.Dedup.shingles(col("text"), 2)).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("top_2gram_cnt"))
    base.join(top1, Seq("doc_id")).join(top2, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_distinct").cast("double") / col("n_tokens").cast("double"))
          .as("distinct_ratio"),
        (col("top_token_cnt").cast("double") / col("n_tokens").cast("double"))
          .as("top_token_frac"),
        (coalesce(col("top_2gram_cnt"), lit(0L)).cast("double") /
          greatest(col("n_tokens") - 1, lit(1L)).cast("double"))
          .as("top_2gram_frac"))
  }

  /** Deterministic data-MIXTURE sampling: per-group keep rates applied via
    * content-hash thresholds — the reproducible way to hit a target
    * language/source mixture at corpus scale. No rand(): the keep decision
    * is a pure function of the row (md5(text) hex prefix vs the group's
    * 4-hex-digit bound, rate = value/65536), so the sample is identical on
    * any cluster size, any engine, and any re-run — and the filter is a
    * narrow predicate that pushes toward the scan. Groups absent from
    * `rates` are dropped (bound "0000"). */
  def mixtureSample(documents: DataFrame, rates: Map[String, String]): DataFrame = {
    val bound = rates.toSeq.sortBy(_._1).foldLeft(lit("0000")) {
      case (acc, (lang, b)) => when(col("lang") === lang, lit(b)).otherwise(acc)
    }
    documents
      .filter(substring(md5(col("text")), 1, 4) < bound)
      .select(col("doc_id"), col("lang"), col("source"))
  }

  /** TF-IDF top-k terms per document. The idf is the DIVISION-EXACT form
    * score = tf · N / df (products of exact ints in double, one IEEE
    * division — bit-identical across engines, unlike ln-based idf whose
    * libm rounding differs). Two shuffles (tf groupBy, df groupBy) + a
    * token-keyed join + a per-document ranking window — every stage keyed
    * and distributed; nothing global. */
  def tfidfTopTerms(documents: DataFrame, k: Int = 3): DataFrame = {
    val n = documents.count() // one scalar (scan count) — metadata-sized
    val tok = documents.select(col("doc_id"), explode(toks(col("text"))).as("token"))
    val tf = tok.groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint() // consumed twice: the df rollup below + the join
    // df = distinct docs containing the token = tf's row count per token —
    // derived from the materialized tf instead of a second explode+distinct
    // pass over the corpus (one scan and one wide distinct removed; same
    // counts by construction)
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score").desc, col("token").asc)
    tf.join(df, Seq("token"))
      .withColumn("score", col("tf").cast("double") * lit(n.toDouble) / col("df").cast("double"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("doc_id"), col("token"), col("tf"), col("df"), col("score"))
  }

  /** KMV (k-minimum-values) distinct-count sketch over the corpus token
    * set — the mergeable sketch form of COUNT(DISTINCT): keep the k
    * smallest hash values; with the k-th smallest mapped to a fraction
    * f of the hash space, distinct ≈ (k-1)/f (Bar-Yossef et al. 2002).
    * One top-k over hashes (map-side partial min-k via the sort+limit
    * plan), no global distinct shuffle — at web scale this replaces an
    * exact count over billions of tokens with k rows. Deterministic: the
    * hash is md5, the fraction is derived from its leading 8 hex chars as
    * an exact integer, so the DuckDB oracle matches bit-for-bit (unlike
    * HLL sketches, whose register layouts differ across engines). */
  def kmvDistinctTokens(documents: DataFrame, k: Int = 256): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    // bounded per-partition k-min sets (narrow, O(k) memory per task) —
    // only <= k hashes per partition ever reach the tiny final merge; no
    // shuffle is proportional to the corpus or its vocabulary
    val localMins = documents
      .select(explode(toks(col("text"))).as("token"))
      .select(md5(col("token")).as("h")).as[String]
      .mapPartitions { it =>
        val set = new java.util.TreeSet[String]()
        it.foreach { h =>
          if (set.size < k) set.add(h)
          else if (h < set.last()) { if (set.add(h)) set.pollLast() }
        }
        set.iterator().asScala
      }(org.apache.spark.sql.Encoders.STRING).toDF("h")
    val sketch = localMins.distinct().orderBy(col("h").asc).limit(k)
    // k-th smallest hash -> fraction of the leading 32-bit hash space
    sketch.agg(count(lit(1)).as("k_used"), max(col("h")).as("kth"))
      .select(col("k_used"), col("kth"),
        ((col("k_used") - 1).cast("double") * lit(4294967296.0) /
          conv(substring(col("kth"), 1, 8), 16, 10).cast("double"))
          .as("distinct_estimate"))
  }

  /** The end-to-end curation pipeline a training-data run composes from
    * the operators above: language filter (n-gram heuristic) → quality
    * gates (token count, stopword ratio) → near-dup removal (drop the
    * larger id of every LSH candidate pair). One narrow pass for the
    * per-doc signals + the LSH banding shuffle + a broadcast-able
    * anti-join; at corpus scale every stage keeps its own documented
    * shape. Exact DuckDB oracle (all components are SQL-expressible). */
  def curationPipeline(documents: DataFrame, minTokens: Int = 8,
      minStopwordRatio: Double = 0.05, sigs: Option[DataFrame] = None,
      pairs: Option[DataFrame] = None): DataFrame = {
    val allStops = stopwords.values.flatten.toSeq
    // Two-step signal computation (the [[langId]] shape). The old foldLeft
    // inlined each stopword-HOF count into the when-chain, and every fold
    // step embeds TWO copies of the previous accumulator — an expression
    // tree exponential in |langs| carrying the full tokenize+scan HOFs,
    // past what codegen subexpression elimination rescues (measured
    // ~370 µs/doc: the signal pass alone took 1.8 s over 5k docs at
    // sf0.1). Step 1 computes each hit count ONCE as a real column (six
    // HOF evaluations per row, total); step 2's argmax folds over CHEAP
    // column references (CollapseProject keeps the split: it refuses to
    // duplicate non-cheap expressions with multiple references).
    val hitCols = documents.select(
      (Seq(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tokens"),
        size(filter(toks(col("text")), t => t.isInCollection(allStops))).as("n_stop")) ++
        stopwordHits): _*)
    val (lang, _) = langArgmax
    // materialization barrier: without it Catalyst pushes the three filters
    // below the projections and re-inlines the signal expressions into each
    // (the corpus would pay the scans ~3× per row). 4 narrow cols per doc.
    val signals = hitCols
      .select(col("doc_id"), lang.as("lang_guess"), col("n_tokens"),
        (col("n_stop").cast("double") / col("n_tokens").cast("double"))
          .as("stopword_ratio"))
      .localCheckpoint()
    val passed = signals
      .filter(col("lang_guess") === "en")
      .filter(col("n_tokens") >= minTokens)
      .filter(col("stopword_ratio") >= minStopwordRatio)
    // near-dup losers from the shared candidate-PAIR table when one is
    // supplied (the banding expansion runs once per corpus and every
    // consumer reads the written pair table), else from the shared
    // signature table, else from scratch
    val dupLosers = pairs
      .orElse(sigs.map(sg => graft.ops.Dedup.lshCandidatePairsFromSigs(
        sg.select(col("doc_id"), col("h1"), col("h2")))))
      .getOrElse(graft.ops.Dedup.lshCandidatePairs(documents))
      .select(col("doc_b").as("doc_id")).distinct()
    passed.join(dupLosers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang_guess"), col("n_tokens"),
        round(col("stopword_ratio"), 6).as("stopword_ratio"))
  }

  /** Count-Min Sketch over corpus tokens: `depth` hash rows × `width`
    * buckets of counters (here depth independent 32-bit slices of one md5,
    * mod width — deterministic, exactly reproducible in SQL). The ONLY
    * shuffle moves (row, bucket) partial counts — a key space of
    * depth×width regardless of corpus size; that bounded shuffle is the
    * whole point of the sketch at 100 TB. */
  def cmsCounters(documents: DataFrame, depth: Int = 4, width: Int = 256): DataFrame = {
    require(depth <= 4, "md5 yields four 8-hex-char slices")
    val tok = documents.select(explode(toks(col("text"))).as("token"))
      .select(md5(col("token")).as("h"))
    val rows = (1 to depth).map(i => struct(lit(i).as("row"),
      pmod(conv(substring(col("h"), 1 + 8 * (i - 1), 8), 16, 10).cast("long"),
        lit(width.toLong)).as("bucket")))
    tok.select(explode(array(rows: _*)).as("rb"))
      .groupBy(col("rb.row").as("row"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-query the sketch for a candidate token list: est(t) =
    * min over rows of counter[row][h_row(t)] (upper bound on the true
    * frequency — CMS never underestimates; asserted in tests and visible
    * in the exact_count column). */
  def cmsEstimate(documents: DataFrame, candidates: Seq[String],
      depth: Int = 4, width: Int = 256): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val counters = cmsCounters(documents, depth, width)
    val cand = candidates.toDF("token")
      .select(col("token"), md5(col("token")).as("h"))
    val rows = (1 to depth).map(i => struct(lit(i).as("row"),
      pmod(conv(substring(col("h"), 1 + 8 * (i - 1), 8), 16, 10).cast("long"),
        lit(width.toLong)).as("bucket")))
    val probes = cand.select(col("token"), explode(array(rows: _*)).as("rb"))
      .select(col("token"), col("rb.row").as("row"), col("rb.bucket").as("bucket"))
    val exact = documents.select(explode(toks(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("exact_count"))
    probes.join(counters, Seq("row", "bucket"), "left")
      .groupBy(col("token"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_count"))
      .join(exact, Seq("token"), "left")
      .select(col("token"), col("est_count"),
        coalesce(col("exact_count"), lit(0L)).as("exact_count"))
  }

  /** EXACT rank-pick percentiles of document length per source — the
    * distribution-summary operator for corpus dashboards, with no float
    * interpolation anywhere: percentile p (an integer percent) is the
    * element at rank ⌈p·n/100⌉ = (p·n + 99) div 100 in (n_chars, doc_id)
    * order, pure integer arithmetic both engines. One source-keyed
    * exchange: the per-source window ranks in parallel, the percent list
    * explodes ×|pcts| (a constant), and the rank-match filter keeps
    * |pcts| rows per source. At any corpus size the output is
    * |sources|·|pcts| rows; the sort is per-source (never global), the
    * same skew posture as every rank-family operator. */
  def lengthPercentiles(documents: DataFrame, pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100), s"bad percents: $pcts")
    import org.apache.spark.sql.expressions.Window
    val bySource = Window.partitionBy(col("source"))
    val ranked = documents
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("rn", row_number().over(
        bySource.orderBy(col("n_chars").asc, col("doc_id").asc)).cast("long"))
      .withColumn("n_docs", count(lit(1)).over(bySource))
    ranked
      .withColumn("pct", explode(array(pcts.map(p => lit(p.toLong)): _*)))
      .filter(col("rn") === expr("(pct * n_docs + 99) div 100"))
      .select(col("source"), col("pct"), col("n_chars").as("value"), col("n_docs"))
  }
}
