package graft.operators.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate fingerprinting (Charikar; beyond-parity,
  * SURVEY.md §8): 64-bit fingerprint where bit b is the sign of the sum
  * over tokens of ±1 votes from bit b of each token's hash. Near-dup
  * pairs = fingerprints within small Hamming distance.
  *
  * Two fingerprints live here: [[simhash]], the native 64-bit
  * xxhash-vote expression that streaming equality dedup keys on
  * (`StreamingDedup.nearFirstWins`), and the portable 60-bit md5-vote
  * fingerprint behind [[portablePairs]] and the stored index.
  * Candidate generation uses the standard block trick: split the bits
  * into blocks; pairs within Hamming distance d must agree on at least
  * one block when blocks > d, so an equi-join per block replaces the
  * O(n²) comparison. `bit_count(a XOR b)` verifies exactly.
  * Its `graft_*` functions resolve through `call_function`: the session
  * needs [[graft.plans.GraftExtensions]], which [[graft.GraftSession.build]] adds.
  */
object SimHashDedup {

  /** 64-bit simhash of a token array — the native one-pass
    * [[graft.plans.SimHashUtil]] kernel (registered by GraftSession).
    */
  def simhash(tokens: Column): Column =
    call_function("graft_simhash64", tokens)

  /** Composable HOF reference formulation — retained so DedupSpec can
    * assert the native expression matches it bit-for-bit.
    */
  private[graft] def simhashViaHof(tokens: Column): Column = {
    val hashed = transform(tokens, t => xxhash64(t))
    // votes[b] = sum of (bit b set ? 1 : -1) over token hashes
    val votes = aggregate(
      hashed,
      array_repeat(lit(0), 64),
      (acc, h) =>
        zip_with(acc, sequence(lit(0), lit(63)),
          (v, b) => v + when(call_function("shiftright", h, b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
    )
    // fingerprint = sum over b of (votes[b] > 0) << b
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, b) => when(v > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
  }

  /** Portable-arithmetic SimHash pairs — the `dedup_simhash` driver
    * query (full DuckDB hash oracle): 60-bit fingerprints from
    * md5-derived token hashes (15 hex chars → exact in 64-bit
    * everywhere), 5 blocks of 12 bits, Hamming ≤ `maxDist` < blocks.
    * DuckDB rebuilds every fingerprint, block key, and Hamming distance
    * bit-for-bit.
    *
    * The vote fold runs in-row as nested higher-order functions —
    * interpreted, but every non-trivial subtree (`hs`, `votes`) is
    * referenced exactly once, so Catalyst's projection collapse cannot
    * fan it out (the k-times re-inline trap the minhash HOF form hits).
    */
  private val PortableBlocks = 5
  private val PortableBits = 12

  /** Portable 60-bit fingerprints (md5 token hashes, exact in 64-bit
    * arithmetic everywhere) → (doc_id, fingerprint).
    */
  private[dedup] def portableFingerprints(docs: DataFrame, idCol: String,
                                          textCol: String): DataFrame = {
    val nbits = PortableBlocks * PortableBits
    val seq60 = sequence(lit(0), lit(nbits - 1))
    val hs = transform(split(Dedup.normText(col(textCol)), " "),
      t => call_function("graft_md5_60", t))
    val votes = aggregate(col("hs"), array_repeat(lit(0L), nbits),
      (acc, x) => zip_with(acc, seq60, (a, b) =>
        a + (call_function("shiftright", x, b).bitwiseAND(lit(1L)) * 2 - 1)))
    val fp = aggregate(
      zip_with(col("votes"), seq60, (v, b) =>
        when(v > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc + x)
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .select(col("doc_id"), hs.as("hs"))
      .select(col("doc_id"), votes.as("votes"))
      .select(col("doc_id"), fp.as("fingerprint"))
  }

  /** (doc_id, fingerprint) → pigeonhole block keys (5 × 12 bits). */
  private[dedup] def portableBlockKeys(fps: DataFrame): DataFrame =
    fps.select(
      col("doc_id"), col("fingerprint"),
      posexplode(array((0 until PortableBlocks).map(b =>
        shiftrightunsigned(col("fingerprint"), b * PortableBits)
          .bitwiseAND(lit((1L << PortableBits) - 1))): _*))
        .as(Seq("block_idx", "block_val")))

  def portablePairs(docs: DataFrame, idCol: String, textCol: String,
                    maxDist: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val chunked = portableBlockKeys(portableFingerprints(docs, idCol, textCol))
    val buckets = chunked
      .groupBy(col("block_idx"), col("block_val"))
      .agg(graft.functions.BoundedCollectList.column(
        struct(col("doc_id"), col("fingerprint")), maxBucket).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
    MinHashDedup.explodePairs(buckets, "members")
      .withColumn("hamming", bit_count(col("a.fingerprint").bitwiseXOR(col("b.fingerprint"))))
      .filter(col("hamming") <= maxDist)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"), col("hamming"))
      .dropDuplicates("id_a", "id_b")
  }

  /** Persistable SimHash index: one frame (doc_id, fingerprint,
    * block_idx, block_val) — write partitioned by `block_idx` —
    * computed once per corpus; batches probe it without re-reading
    * corpus text. Portable arithmetic, so the probe is oracled.
    */
  def buildPortableIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    portableBlockKeys(portableFingerprints(docs, idCol, textCol))

  /** New-batch near-dups against a stored index: block-key join with
    * the capped collect on the INDEX side (hot boilerplate blocks drop
    * rather than exploding), Hamming filter on the fingerprint pairs.
    * Output: (doc_id, dup_of, hamming).
    */
  def nearDupAgainstIndex(index: DataFrame, batch: DataFrame,
                          idCol: String, textCol: String,
                          maxDist: Int = 3, maxBucket: Int = 1000): DataFrame = {
    val bChunked = portableBlockKeys(portableFingerprints(batch, idCol, textCol))
    val idxBuckets = index.groupBy(col("block_idx"), col("block_val"))
      .agg(graft.functions.BoundedCollectList.column(
        struct(col("doc_id"), col("fingerprint")), maxBucket).as("members"))
      .filter(size(col("members")) <= maxBucket)
    bChunked.join(idxBuckets, Seq("block_idx", "block_val"))
      .select(col("doc_id").as("bid"), col("fingerprint").as("bfp"),
        explode(col("members")).as("m"))
      .withColumn("hamming", bit_count(col("bfp").bitwiseXOR(col("m.fingerprint"))))
      .filter(col("hamming") <= maxDist)
      .select(col("bid").as("doc_id"), col("m.doc_id").as("dup_of"), col("hamming"))
      .dropDuplicates("doc_id", "dup_of")
  }
}
