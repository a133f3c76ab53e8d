package graft.plans

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Fused shingle-and-hash: the distinct word n-gram shingles of the
  * normalized text, emitted directly as their 64-bit hashes
  * (`xxhash64(shingle)` with Spark's default seed 42 — bit-identical to
  * `xxhash64(graft_shingles(text, n)[i])`, pinned by DedupSpec).
  *
  * Why: every dedup candidate generator explodes shingles only to hash
  * them on the next line — materializing each shingle as a UTF8String
  * through the explode's UnsafeRow writer just to reduce it to 8 bytes.
  * This expression does the reduction inside the scan stage, so the
  * explode moves longs, not strings. Distinctness is on the hash (a
  * 64-bit collision merging two shingles is the same negligible event
  * the bucket join already tolerates).
  */
object ShingleHashUtil {
  def shingleHashes(text: UTF8String, n: Int): ArrayData = {
    // distinct STRINGS first (ShingleUtil.distinctShingles — the single
    // shared loop), then hash-distinct in the same first-occurrence
    // order: identical to hashing every shingle occurrence and
    // deduplicating hashes, because the first occurrence of a hash IS
    // the first occurrence of the first string producing it
    val strings = ShingleUtil.distinctShingles(text, n)
    val seen = new java.util.LinkedHashSet[java.lang.Long](strings.size * 2)
    val it = strings.iterator()
    while (it.hasNext) {
      val u = UTF8String.fromString(it.next())
      seen.add(XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L))
    }
    val out = new Array[Any](seen.size)
    val oit = seen.iterator()
    var j = 0
    while (oit.hasNext) { out(j) = oit.next().longValue(); j += 1 }
    new GenericArrayData(out)
  }
}

/** Fused shingle-and-PORTABLE-hash: the distinct word n-gram shingles
  * emitted directly as their md5 top-60-bit hashes — bit-identical to
  * `graft_md5_60(graft_shingles(text, n)[i])` (DedupSpec pins the
  * equivalence), same rationale as [[ShingleHashUtil]]: the portable
  * minhash signature pipeline exploded every shingle as a UTF8String
  * through the UnsafeRow writer only to reduce it to a long on the
  * next projection. Distinctness stays on the STRING (exactly the
  * graft_shingles set), so an md5-60 collision between two distinct
  * shingles still emits both values.
  */
object ShingleMd5Util {
  def shingleMd5s(text: UTF8String, n: Int): ArrayData = {
    // the normalization and n-gram loop live in ONE place
    // (ShingleUtil.distinctShingles) — review catch: this method used
    // to duplicate them inline, silently decoupling the pinned
    // bit-equivalence from graft_shingles
    val seen = ShingleUtil.distinctShingles(text, n)
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) {
      out(j) = Md5Util.top60(UTF8String.fromString(it.next()))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Fused text→portable-MinHash-signature: the ENTIRE signature of the
  * minhash pipeline — distinct shingles → md5 top-60 → mod p → k
  * portable permutation minima — computed inside the row, so the
  * signature stage is a pure scan projection: no shingle explode
  * through the UnsafeRow writer, no per-doc aggregation buffer, no
  * exchange (guide §1.2: the distributed algorithm had a groupBy whose
  * groups were exactly the input rows).
  *
  * Permutation j is `h_j(x) = (a_j·x + b_j) mod p`, p = 2^31-1, with
  * `a_j = c_j² mod p`, `b_j = d_j² mod p`,
  * `c_j = ((j+1)·1103515245 + 12345) mod p` and
  * `d_j = ((j+7919)·1103515245 + 104729) mod p`. Every product stays
  * below 2^62, so an ANSI engine (the DuckDB oracles) reproduces each
  * value in plain 64-bit arithmetic. The squaring matters: small or
  * evenly spaced multipliers make the k permutations order the shingle
  * hashes almost alike, so two docs sharing one low-hash shingle agree
  * on most rows (measured at sf0.1: |sig_frac − J| up to 0.91 with
  * `a_j = 2j+1`, 0.48 with `a_j = c_j`, 0.09 with `c_j²`). DedupSpec
  * pins the kernel against the declarative k-min formulation and its
  * estimates against brute-force Jaccard. A doc with no shingles (fewer
  * than n words) returns an EMPTY array — the caller filters it out.
  */
object MinHashMd5Util {
  private val P31 = 2147483647L // 2^31 - 1

  private def square(v: Long): Long = v * v % P31

  /** Multiplier a_j and offset b_j of permutation j (see the scaladoc). */
  private def permA(j: Int): Long = square(((j + 1) * 1103515245L + 12345L) % P31)
  private def permB(j: Int): Long = square(((j + 7919) * 1103515245L + 104729L) % P31)

  // (text, n, k) → result memo, one slot per thread: the caller filters
  // on size(sig) > 0, and predicate pushdown re-inlines the projection
  // into the filter (the §4.4 double-evaluation trap) — the memo keeps
  // the cost at one signature pass per row regardless of plan shape
  // (same pattern as NormText.RowMemo). The UTF8String clones because
  // scan buffers are reused across rows.
  private val memo = new ThreadLocal[(UTF8String, Int, Int, ArrayData)]

  def sigPortable(text: UTF8String, n: Int, k: Int): ArrayData = {
    val last = memo.get()
    if (last != null && last._2 == n && last._3 == k && last._1.equals(text)) return last._4
    val r = compute(text, n, k)
    memo.set((text.clone(), n, k, r))
    r
  }

  private def compute(text: UTF8String, n: Int, k: Int): ArrayData = {
    val shingles = ShingleUtil.distinctShingles(text, n)
    if (shingles.isEmpty) return new GenericArrayData(Array.empty[Any])
    val as = Array.tabulate(k)(permA)
    val bs = Array.tabulate(k)(permB)
    val buf = Array.fill(k)(Long.MaxValue)
    val it = shingles.iterator()
    while (it.hasNext) {
      // h ∈ [0, 2^31-1): top60 is non-negative, so % == pmod
      val h = Md5Util.top60(UTF8String.fromString(it.next())) % P31
      var i = 0
      while (i < k) {
        // a_i·h + b_i < 2^62 + 2^31 — no wraparound, m never negative
        val m = (as(i) * h + bs(i)) % P31
        if (m < buf(i)) buf(i) = m
        i += 1
      }
    }
    new GenericArrayData(buf.map(x => x: Any))
  }
}
