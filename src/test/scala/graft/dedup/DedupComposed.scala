package graft.dedup

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.words

/** Composed (built-in-function) forms of the dedup operators whose
  * library implementation is a native graft.plans expression. They
  * are the parity references the specs compare the natives against.
  */
object DedupComposed {

  /** Non-overlapping word segments of `segWords` words each (the
    * last segment keeps the remainder), with their 0-based position.
    * This is the "paragraph" granularity of CCNet-style dedup
    * (Wenzek et al. 2020 dedup lines; the test corpus has no line
    * structure, so fixed word windows stand in for lines — a caller
    * with real paragraphs passes `split(text, "\n")` instead).
    * Null text yields null (ANSI size semantics) or an empty list
    * (legacy size(null) = -1) — either way, zero occurrences. The
    * size guard matters: unguarded, legacy -1 would make
    * sequence(0, …) count DOWNWARD and fabricate phantom ""
    * segments, exactly the hazard [[Dedup.shingles]] guards against.
    */
  def segments(text: Column, segWords: Int): Column = {
    require(segWords > 0, s"segment width must be positive: $segWords")
    val ws = words(text)
    when(size(ws) < 1, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), ceil(size(ws) / lit(segWords.toDouble)).cast("int") - 1),
        i => concat_ws(" ", slice(ws, i * segWords + lit(1), lit(segWords)))))
  }

  /** k-permutation MinHash signature over a shingle set: element i is
    * min over shingles of xxhash64(i, xxhash64(shingle)) — the
    * classic min-of-independent-hashes estimator (Broder '97).
    * Shingle STRINGS hash once; the k permutations re-hash the
    * resulting 8-byte longs (constant-time) instead of re-walking
    * each string k times — 16× less string hashing in the hot path.
    */
  def minhashSignature(shingleSet: Column, k: Int): Column = {
    val baseHashes = transform(shingleSet, s => xxhash64(s))
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(baseHashes, h => xxhash64(i, h))))
  }

  /** md5-hex MinHash signature: element i is the LEXICOGRAPHIC min
    * over shingles of md5(i || '|' || shingle). Same estimator as
    * [[minhashSignature]] under a different hash family — chosen
    * because md5 is byte-identical across engines (DuckDB has no
    * xxhash64), so the WHOLE pipeline — signatures, banding, bucket
    * join, verification — replays under the cross-engine oracle
    * gate. The xxhash64 variant stays the scale default: 8-byte
    * values instead of 32-char strings, and each shingle string
    * hashed once instead of k times.
    */
  def minhashSignatureMd5(shingleSet: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingleSet,
        s => md5(concat(i.cast("string"), lit("|"), s)))))

  /** 64-bit SimHash as four 16-bit band values (array<long>, bands
    * low→high). Keeping quarters separate doubles as the LSH
    * banding: docs within Hamming distance ≤3 share ≥1 identical
    * band (pigeonhole). Majority vote per bit over xxhash64(token)
    * (Charikar '02), built from array exprs — no UDF. Shift amounts
    * are lambda-bound columns, so this goes through call_function to
    * reach the Catalyst ShiftRight/ShiftLeft that accept them.
    */
  def simhashBands(text: Column): Column =
    simhashBandsFromHashes(transform(words(text), w => xxhash64(w)))

  /** Bands from pre-computed token hashes — callers materialize the
    * hash array as a column first so tokens hash ONCE, not once per
    * bit (64× difference in the hot path).
    */
  def simhashBandsFromHashes(hs: Column): Column = {
    // denominator = countable (non-null) hashes, matching the numerator
    // filter below; zero countable tokens → null fingerprint (a vacuous
    // majority vote would stamp every empty doc with the same all-ones
    // bands and make them mutual Hamming-0 "duplicates")
    val valid = filter(hs, h => h.isNotNull)
    val total = size(valid)
    val bands = transform(sequence(lit(0), lit(3)), band =>
      aggregate(sequence(lit(0), lit(15)), lit(0L), (acc, j) => {
        val bitIdx = (band * 16 + j).cast("int")
        val ones = size(filter(valid, h =>
          call_function("shiftright", h, bitIdx)
            .bitwiseAND(lit(1L)) === lit(1L)))
        val bit = when(ones * 2 >= total, lit(1L)).otherwise(lit(0L))
        acc + bit * call_function("shiftleft", lit(1L), j)
      }))
    when(total === 0, lit(null)).otherwise(bands)
  }

  /** md5-mode SimHash bands (the cross-engine-oracle variant, like
    * [[minhashSignatureMd5]]): token band value b = md5 hex chars
    * [4b+1, 4b+4] parsed base-16 (16 bits), majority vote per bit.
    * Identical in DuckDB as CAST(concat('0x', substring(md5(w),
    * b*4+1, 4)) AS INTEGER). Null tokens skipped; zero countable
    * tokens → null fingerprint (same contract as the xx path).
    */
  def simhashBandsMd5FromWords(ws: Column): Column = {
    val hs = filter(transform(ws, w => md5(w)), h => h.isNotNull)
    val total = size(hs)
    val bands = transform(sequence(lit(0), lit(3)), band =>
      aggregate(sequence(lit(0), lit(15)), lit(0L), (acc, j) => {
        val ones = size(filter(hs, h => {
          val bandVal = conv(h.substr(band * lit(4) + lit(1), lit(4)), 16, 10)
            .cast("long")
          call_function("shiftright", bandVal, j.cast("int"))
            .bitwiseAND(lit(1L)) === lit(1L)
        }))
        val bit = when(ones * 2 >= total, lit(1L)).otherwise(lit(0L))
        acc + bit * call_function("shiftleft", lit(1L), j)
      }))
    when(total === 0, lit(null)).otherwise(bands)
  }
}
