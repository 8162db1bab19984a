package graft

/**
 * DuckDB oracle SQL for the two 64-bit hash kernels that have no native
 * DuckDB function: Spark's `xxhash64` (XXH64, seed 42) and the SimHash
 * FNV-1a + murmur-finalize token hash. Both are recomputed BIT-EXACTLY in
 * SQL using unsigned-64 arithmetic carried in HUGEINT:
 *
 *  - wrapping 64-bit multiply by a constant: split the constant into
 *    32-bit halves so every intermediate stays under 2^127
 *    (`a·b mod 2^64 = (a·b_lo mod 2^64 + ((a·b_hi mod 2^32) << 32)) mod 2^64`);
 *  - rotl(x, r) = ((x mod 2^(64−r)) << r) + (x >> (64−r)) — the two bit
 *    ranges are disjoint, so OR is addition and no mod is needed;
 *  - 64-bit xor via signed-BIGINT conversion (two's-complement bit
 *    patterns xor identically);
 *  - every step lands in its own chained CTE column, so macro expansion
 *    stays linear (nesting the helpers textually explodes 8× per level).
 *
 * Verified bit-identical to the Spark kernels at sf0.001/0.01/0.1 (the
 * driver's hash compare is the regression gate). Testdata text is pure
 * ASCII, so `ascii(substr(...))` reads the UTF-8 bytes Spark hashes.
 *
 * XXH64 is Yann Collet's public xxHash algorithm (BSD, github.com/
 * Cyan4973/xxHash); the port replicates Spark's XxHash64 expression
 * semantics (seed 42, per-column chaining, int/long specializations),
 * validated against a 101-case ground-truth dump from Spark itself.
 */
private[graft] object OracleHashSql {

  private val M = "18446744073709551616::HUGEINT"
  private val HALF = "9223372036854775808::HUGEINT"
  private val MM = BigInt(2).pow(64)

  // XXH64 primes
  private val P1 = BigInt("9E3779B185EBCA87", 16)
  private val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
  private val P3 = BigInt("165667B19E3779F9", 16)
  private val P4 = BigInt("85EBCA77C2B2AE63", 16)
  private val P5 = BigInt("27D4EB2F165667C5", 16)

  private def toS(a: String) =
    s"CAST(CASE WHEN ($a) >= $HALF THEN ($a) - $M ELSE ($a) END AS BIGINT)"

  private def xorU(a: String, b: String) = {
    val s = s"xor(${toS(a)}, ${toS(b)})"
    s"(CASE WHEN $s < 0 THEN CAST($s AS HUGEINT) + $M ELSE CAST($s AS HUGEINT) END)"
  }

  private def mulC(a: String, c: BigInt) = {
    val bh = c >> 32
    val bl = c & BigInt("FFFFFFFF", 16)
    s"((( ($a) * $bl::HUGEINT ) % $M + " +
      s"((( ($a) * $bh::HUGEINT ) % 4294967296::HUGEINT) * 4294967296::HUGEINT)) % $M)"
  }

  private def rotl(x: String, r: Int) = {
    val lo = BigInt(2).pow(64 - r)
    s"(((($x) % $lo::HUGEINT) * ${BigInt(2).pow(r)}::HUGEINT) + (($x) // $lo::HUGEINT))"
  }

  private def shr(x: String, r: Int) = s"(($x) // ${BigInt(2).pow(r)}::HUGEINT)"

  private def uNle(s: String, o: String, bytes: Int) =
    "(" + (0 until bytes).map(j =>
      s"CAST(ascii(substr($s, ($o)+$j, 1)) AS HUGEINT) * ${BigInt(2).pow(8 * j)}::HUGEINT")
      .mkString(" + ") + ")"

  // ---- reference-side constant folding (pure BigInt XXH64) -------------------

  private def pRotl(x: BigInt, r: Int): BigInt = ((x << r) | (x >> (64 - r))) % MM
  private def pFmix(h0: BigInt): BigInt = {
    var h = h0
    h ^= h >> 33; h = (h * P2) % MM
    h ^= h >> 29; h = (h * P3) % MM
    h ^ (h >> 32)
  }
  /** Spark XxHash64 of an IntegerType value under `seed`. */
  private def pXxInt(i: Int, seed: BigInt): BigInt = {
    var h = (seed + P5 + 4) % MM
    h ^= (BigInt(i) * P1) % MM
    h = (pRotl(h, 23) * P2 + P3) % MM
    pFmix(h)
  }

  /**
   * Oracle for `q_minhash_sig64` — `Dedup.minhashSignatures64(docs, 8)`:
   * per doc the min over 3-token shingles of `xxhash64(i, xxhash64(sh))`
   * for slots i = 1..8. The shingle string hash is the full XXH64 short
   * path (word/4-byte/byte tail + avalanche; testdata shingles are < 32
   * bytes, asserted by the `n < 32` guard below — a longer shingle nulls
   * its hash and fails the row-count compare loudly rather than silently
   * hashing wrong). Slot chaining folds constant prefixes: the slot seed
   * `xxhash64_int(i, 42)` and its `+ P5 + 8` init are precomputed here,
   * and the rotl31(h·P2)·P1 term is shared across all 8 slots.
   */
  /** The XXH64 short-string CTE chain: given `from` exposing columns
    * (`keep`..., sh, seed0) — seed0 = (seed + P5) % 2^64 as HUGEINT, null
    * sh permitted (nulls the hash) — appends CTEs ending in `<p>hu` with
    * (`keep`..., h) where h is the finished unsigned XXH64 of sh's ASCII
    * bytes under that seed. `p` prefixes every CTE name so multiple
    * chains compose in one statement. */
  private def xxStrChain(c: scala.collection.mutable.ArrayBuffer[String],
      p: String, from: String, keep: String): String = {
    val carry = s"$keep, sh, n, db"
    c += s"""${p}s0 AS (SELECT $keep, sh,
      CAST(length(sh) AS HUGEINT) AS n,
      CAST(length(sh) // 8 * 8 + (CASE WHEN length(sh) % 8 >= 4 THEN 4 ELSE 0 END) AS INT) AS db,
      (seed0 + CAST(length(sh) AS HUGEINT)) % $M AS h FROM $from)"""
    var prev = s"${p}s0"
    for ((off, j) <- Seq(1, 9, 17).zipWithIndex) {
      val thr = 8 * (j + 1)
      c += s"${p}w${j}a AS (SELECT $carry, h, CASE WHEN n >= $thr THEN ${uNle("sh", off.toString, 8)} ELSE 0::HUGEINT END AS ck FROM $prev)"
      c += s"${p}w${j}b AS (SELECT $carry, h, ${mulC("ck", P2)} AS ck FROM ${p}w${j}a)"
      c += s"${p}w${j}c AS (SELECT $carry, h, ${mulC(rotl("ck", 31), P1)} AS ck FROM ${p}w${j}b)"
      c += s"${p}w${j}d AS (SELECT $carry, h, ${xorU("h", "ck")} AS hx FROM ${p}w${j}c)"
      c += s"${p}w${j}e AS (SELECT $carry, CASE WHEN n >= $thr THEN (${mulC(rotl("hx", 27), P1)} + $P4::HUGEINT) % $M ELSE h END AS h FROM ${p}w${j}d)"
      prev = s"${p}w${j}e"
    }
    c += s"${p}f4a AS (SELECT $carry, h, CASE WHEN n % 8 >= 4 THEN ${uNle("sh", "CAST(n // 8 * 8 AS INT) + 1", 4)} ELSE 0::HUGEINT END AS ck FROM $prev)"
    c += s"${p}f4b AS (SELECT $carry, h, ${xorU("h", mulC("ck", P1))} AS hx FROM ${p}f4a)"
    c += s"${p}f4c AS (SELECT $carry, CASE WHEN n % 8 >= 4 THEN (${mulC(rotl("hx", 23), P2)} + $P3::HUGEINT) % $M ELSE h END AS h FROM ${p}f4b)"
    prev = s"${p}f4c"
    for (j <- 0 until 3) {
      c += s"${p}y${j}a AS (SELECT $carry, h, CASE WHEN n - db >= ${j + 1} THEN CAST(ascii(substr(sh, db + $j + 1, 1)) AS HUGEINT) ELSE 0::HUGEINT END AS ck FROM $prev)"
      c += s"${p}y${j}b AS (SELECT $carry, h, ${xorU("h", mulC("ck", P5))} AS hx FROM ${p}y${j}a)"
      c += s"${p}y${j}c AS (SELECT $carry, CASE WHEN n - db >= ${j + 1} THEN ${mulC(rotl("hx", 11), P1)} ELSE h END AS h FROM ${p}y${j}b)"
      prev = s"${p}y${j}c"
    }
    c += s"${p}m0 AS (SELECT $keep, sh, ${xorU("h", shr("h", 33))} AS h FROM $prev)"
    c += s"${p}m1 AS (SELECT $keep, sh, ${mulC("h", P2)} AS h FROM ${p}m0)"
    c += s"${p}m2 AS (SELECT $keep, sh, ${xorU("h", shr("h", 29))} AS h FROM ${p}m1)"
    c += s"${p}m3 AS (SELECT $keep, sh, ${mulC("h", P3)} AS h FROM ${p}m2)"
    c += s"${p}hu AS (SELECT $keep, sh, ${xorU("h", shr("h", 32))} AS h FROM ${p}m3)"
    s"${p}hu"
  }

  def minhash64Oracle(k: Int = 8): String = {
    val slotInit = (1 to k).map(i => (pXxInt(i, BigInt(42)) + P5 + 8) % MM)
    val c = scala.collection.mutable.ArrayBuffer.empty[String]
    c += "d2 AS (SELECT doc_id, string_split(text, ' ') AS t2 FROM documents)"
    c += "ix AS (SELECT doc_id, t2, UNNEST(generate_series(1, len(t2) - 2)) AS i FROM d2)"
    // the < 32 guard nulls any stripe-path shingle (none exist in the
    // testdata — max observed 26 bytes at every SF); a null shingle nulls
    // its hash out of the MIN, perturbing that doc's slot minima vs the
    // Spark side and failing the driver's hash compare
    c += ("shs AS (SELECT doc_id, CASE WHEN length(t2[i]) + length(t2[i+1]) + length(t2[i+2]) + 2 < 32 " +
      "THEN t2[i] || ' ' || t2[i+1] || ' ' || t2[i+2] ELSE NULL END AS sh, " +
      s"${(BigInt(42) + P5) % MM}::HUGEINT AS seed0 FROM ix)")
    val hu = xxStrChain(c, "", "shs", "doc_id")
    c += s"k0 AS (SELECT doc_id, ${mulC("h", P2)} AS k FROM $hu)"
    c += s"k1 AS (SELECT doc_id, ${mulC(rotl("k", 31), P1)} AS k FROM k0)"
    c += s"t1 AS (SELECT doc_id, ${(1 to k).map(i => s"(${xorU(s"${slotInit(i - 1)}::HUGEINT", "k")}) AS x$i").mkString(", ")} FROM k1)"
    c += s"t2 AS (SELECT doc_id, ${(1 to k).map(i => s"((${mulC(rotl(s"x$i", 27), P1)} + $P4::HUGEINT) % $M) AS x$i").mkString(", ")} FROM t1)"
    val fmixSteps: Seq[(String, String, String => String)] = Seq(
      ("t3", "t2", (col: String) => xorU(col, shr(col, 33))),
      ("t4", "t3", (col: String) => mulC(col, P2)),
      ("t5", "t4", (col: String) => xorU(col, shr(col, 29))),
      ("t6", "t5", (col: String) => mulC(col, P3)),
      ("t7", "t6", (col: String) => xorU(col, shr(col, 32))))
    for ((nm, from, f) <- fmixSteps)
      c += s"$nm AS (SELECT doc_id, ${(1 to k).map(i => s"(${f(s"x$i")}) AS x$i").mkString(", ")} FROM $from)"
    "WITH " + c.mkString(",\n") +
      s"\nSELECT doc_id, ${(1 to k).map(i => s"MIN(${toS(s"x$i")}) AS h$i").mkString(", ")} FROM t7 GROUP BY doc_id"
  }

  /**
   * Oracle for `q_simhash_pairs` — `Dedup.simhashPairs(docs)`: per-token
   * FNV-1a (over ASCII chars, via `list_reduce`) with the murmur xorshift
   * finalize, ±weight accumulation over the 64 bit positions, sign →
   * simhash bit, then 4×16-bit banding with in-band pairing and a
   * Hamming ≤ `maxHamming` verify (`bit_count` over the signed xor).
   */
  def simhashPairsOracle(maxHamming: Int = 12): String = {
    val FnvPrime = BigInt("100000001b3", 16)
    val FnvInit = BigInt("cbf29ce484222325", 16)
    val FinC = BigInt("ff51afd7ed558ccd", 16)
    // per-char step: c < 128, so xor touches only the low 7 bits — no
    // signed round trip needed inside the reduce lambda
    val step = s"(((acc // 128) * 128 + CAST(xor(CAST(acc % 128 AS BIGINT), CAST(c AS BIGINT)) AS HUGEINT)) * $FnvPrime) % $M"
    val fnv = s"""list_reduce(
      list_prepend($FnvInit::HUGEINT,
        list_transform(range(1, CAST(length(token) AS INT) + 1),
          i -> CAST(ascii(substr(token, CAST(i AS INT), 1)) AS HUGEINT))),
      (acc, c) -> $step)"""
    s"""WITH tok AS (
         SELECT doc_id, token, COUNT(*) AS w
         FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents)
         WHERE token <> '' GROUP BY doc_id, token),
       f0 AS (SELECT doc_id, w, $fnv AS h FROM tok),
       f1 AS (SELECT doc_id, w, ${xorU("h", shr("h", 33))} AS h FROM f0),
       f2 AS (SELECT doc_id, w, ${mulC("h", FinC)} AS h FROM f1),
       th AS (SELECT doc_id, w, ${xorU("h", shr("h", 33))} AS h FROM f2),
       bits AS (
         SELECT doc_id, bb.b AS b,
           SUM(CASE WHEN (h // CAST(POWER(2, bb.b) AS HUGEINT)) % 2 = 1 THEN w ELSE -w END) AS acc
         FROM th CROSS JOIN (SELECT UNNEST(generate_series(0, 63)) AS b) bb
         GROUP BY doc_id, bb.b),
       sim AS (
         SELECT doc_id,
           SUM(CASE WHEN acc > 0 THEN CAST(POWER(2, b) AS HUGEINT) ELSE 0::HUGEINT END) AS simu
         FROM bits GROUP BY doc_id),
       banded AS (
         SELECT doc_id, simu, bb.band AS band,
           (simu // CAST(POWER(2, 16 * bb.band) AS HUGEINT)) % 65536 AS key
         FROM sim CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS band) bb)
       SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(${toS("a.simu")}, ${toS("b.simu")})) AS BIGINT) AS hamming
       FROM banded a JOIN banded b
         ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       WHERE bit_count(xor(${toS("a.simu")}, ${toS("b.simu")})) <= $maxHamming"""
  }

  /**
   * Oracle for `q_bloom_decontaminate` — `Dedup.decontaminateBloom`
   * (n-gram shingles, m-bit filter, k chained `xxhash64(i, shingle)`
   * positions). The filter is the DISTINCT position set of the benchmark
   * shingles; a document is flagged when any of its shingles finds ALL k
   * positions present (COUNT(DISTINCT seed-index) = k after the position
   * join — duplicate positions from colliding seeds must not double
   * count). Bit positions replicate Spark's signed pmod. Both shingle
   * streams run ONE seed-parameterized XXH64 chain each, cross-joined
   * with the k precomputed slot seeds.
   */
  def bloomDecontaminateOracle(n: Int = 3, mBits: Long = 1L << 20,
      kHashes: Int = 3, benchMod: Int = 97): String = {
    // seed0 per slot = (xxhash64_int(i, 42) + P5) % 2^64 — the string-hash
    // chain init for Spark's two-column xxhash64(i, shingle)
    val seeds = (1 to kHashes)
      .map(i => s"(${i}, ${(pXxInt(i, BigInt(42)) + P5) % MM}::HUGEINT)")
      .mkString(", ")
    val shingleExpr = (0 until n).map(j => s"t2[i+$j]").mkString(" || ' ' || ")
    val lenGuard = (0 until n).map(j => s"length(t2[i+$j])").mkString(" + ") + s" + ${n - 1} < 32"
    val pos = s"(((${toS("h")} % $mBits) + $mBits) % $mBits)"
    val c = scala.collection.mutable.ArrayBuffer.empty[String]
    c += s"seeds(si, seed0) AS (VALUES $seeds)"
    c += "d2 AS (SELECT doc_id, string_split(text, ' ') AS t2 FROM documents)"
    c += s"ix AS (SELECT doc_id, t2, UNNEST(generate_series(1, len(t2) - ${n - 1})) AS i FROM d2)"
    c += s"allsh AS (SELECT doc_id, CASE WHEN $lenGuard THEN $shingleExpr ELSE NULL END AS sh FROM ix)"
    // benchmark side: every benchMod-th doc, shingle MULTISET is fine
    // (positions distinct at the end)
    c += s"bsh AS (SELECT s.si, s.seed0, a.sh FROM allsh a CROSS JOIN seeds s WHERE a.doc_id % $benchMod = 0)"
    val bhu = xxStrChain(c, "b", "bsh", "si, seed0")
    c += s"bpos AS (SELECT DISTINCT $pos AS pos FROM $bhu)"
    // corpus side: distinct (doc, shingle) — "any shingle fully present"
    // is set-level
    c += s"dsh AS (SELECT s.si, s.seed0, d.doc_id, d.sh FROM (SELECT DISTINCT doc_id, sh FROM allsh) d CROSS JOIN seeds s)"
    val dhu = xxStrChain(c, "d", "dsh", "si, doc_id")
    c += s"dpos AS (SELECT doc_id, sh, si, $pos AS pos FROM $dhu)"
    c += s"""hits AS (SELECT dpos.doc_id FROM dpos JOIN bpos USING (pos)
         GROUP BY dpos.doc_id, dpos.sh HAVING COUNT(DISTINCT dpos.si) = $kHashes)"""
    c += "flagged AS (SELECT DISTINCT doc_id FROM hits)"
    "WITH " + c.mkString(",\n") +
      "\nSELECT doc_id, lang, source FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM flagged)"
  }
}
