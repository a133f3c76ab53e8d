package graft.operators.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Partitioning.pinned

/** MinHash + LSH near-duplicate detection (beyond-parity, SURVEY.md §8):
  * shingle → minhash signature → band → bucket-join, the standard
  * Broder/MMDS construction.
  *
  * Scale design:
  *  - The signature is computed entirely *inside the row* by the fused
  *    `graft_minhash_md5` kernel (no explode/groupBy). Zero shuffles
  *    until banding.
  *  - Banding explodes to `numBands` rows/doc (not #shingles rows/doc)
  *    and joins on the band hash — the only shuffle, hash-partitioned,
  *    and bucket sizes are capped (`maxBucket`) to guard quadratic skew
  *    in degenerate corpora.
  *  - Estimated Jaccard from signature agreement verifies candidates
  *    without re-reading text.
  * Its `graft_*` functions resolve through `call_function`: the session
  * needs [[graft.plans.GraftExtensions]], which [[graft.GraftSession.build]] adds.
  */
object MinHashDedup {

  /** Portable signatures → (doc_id, sig), computed in-row by the fused
    * `graft_minhash_md5` kernel: one scan-stage projection, no shingle
    * explode and no per-doc aggregation. A doc with no shingles returns
    * an empty array and is filtered out.
    */
  private[graft] def portableSignatures(docs: DataFrame, idCol: String, textCol: String,
                                        n: Int, k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .select(col("doc_id"),
        call_function("graft_minhash_md5", col("text"), lit(n), lit(k)).as("sig"))
      .filter(size(col("sig")) > 0)

  /** (doc_id, sig) → exploded (doc_id, band, bkey) band keys, the
    * ':'-joined text form every ANSI engine reproduces.
    */
  private[graft] def portableBands(sig: DataFrame, k: Int, numBands: Int): DataFrame = {
    require(k % numBands == 0, "numBands must divide k")
    val rpb = k / numBands
    sig.select(col("doc_id"),
      posexplode(array((0 until numBands).map(b =>
        concat_ws(":", (0 until rpb).map(r => col("sig").getItem(b * rpb + r)): _*)): _*))
        .as(Seq("band", "bkey")))
  }

  /** Portable MinHash+LSH near-dup pairs — the only MinHash path:
    * every hash is exact in plain 64-bit arithmetic (60-bit md5
    * shingle hashes reduced mod 2^31-1, the squared-constant
    * permutations of [[graft.plans.MinHashMd5Util]], products < 2^62,
    * no wraparound), so an ANSI engine reproduces the ENTIRE pipeline
    * bit-for-bit: the DuckDB oracles hash-match banding, buckets, and
    * signature-agreement scores. It is the `dedup_minhash` declared query
    * at the production parameters (k=64, 16 bands) and the smaller
    * `dedup_minhash_md5` config (k=16, 4 bands); DedupSpec pins recall
    * and estimate error against brute-force Jaccard at k=64.
    *
    * Output: (id_a, id_b, sig_frac) where sig_frac = fraction of the k
    * signature rows that agree.
    */
  def portablePairs(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, k: Int = 16, numBands: Int = 4,
                    threshold: Double = 0.5, maxBucket: Int = 500): DataFrame = pinned { pins =>
    // Signatures feed three consumers (banding, the id_a join, the id_b
    // join); materialized once or the text-scan+md5 pipeline runs 3×
    // (Partitioning.Pins.once scaladoc has the measurements).
    val sig = pins.once(portableSignatures(docs, idCol, textCol, n, k))
    // Buckets carry ONLY doc ids (8 bytes/member through the shuffle) —
    // at k=64 a (doc_id, sig) struct is 520B/member; signatures re-join
    // by id AFTER pair dedup, when the pair set is small, pinned
    // shuffle_hash (the planner broadcasting a corpus-sized side is the
    // measured OOM ScaleProbe caught). maxBucket caps bucket size, the
    // stop-content skew guard.
    val banded = portableBands(sig, k, numBands)
    val buckets = banded.groupBy(col("band"), col("bkey"))
      .agg(graft.functions.BoundedCollectList.column(col("doc_id"), maxBucket).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
    val pairs = explodePairs(buckets, "members")
      .select(col("a").as("id_a"), col("b").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    val sa = sig.select(col("doc_id").as("id_a"), col("sig").as("sa"))
    val sb = sig.select(col("doc_id").as("id_b"), col("sig").as("sb"))
    val out = pairs.join(sa.hint("shuffle_hash"), "id_a").join(sb.hint("shuffle_hash"), "id_b")
      .withColumn("sig_frac",
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), b => b))
          .cast("double") / k)
      .filter(col("sig_frac") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sig_frac"), 6).as("sig_frac"))
    // pair-sized output: eager checkpoint before the signature pin drops
    // (Partitioning.pinned scaladoc has the release rule)
    out.localCheckpoint(true)
  }

  /** Ordered intra-bucket pairs via two chained `explode`s (both fully
    * codegen'd — the lambda/slice alternative runs interpreted) with an
    * `id_a < id_b` filter. Emits m² rows per bucket before the filter;
    * buckets are capped upstream so the quadratic stays bounded.
    */
  private[graft] def explodePairs(buckets: DataFrame, memberCol: String): DataFrame =
    buckets
      .select(explode(col(memberCol)).as("a"), col(memberCol))
      .select(col("a"), explode(col(memberCol)).as("b"))
      .filter(col("a") < col("b"))

  /** Persistable MinHash index over a corpus — the continual-ingest
    * scale path: signatures and band keys computed ONCE, written once
    * (bands partitioned by `band` for pruning), and every future batch
    * dedupes against them without touching corpus text again. Returns
    * (bands, sigs): bands (doc_id, band, bkey), sigs (doc_id, sig).
    * Portable arithmetic throughout, so the whole probe is oracled.
    */
  def buildPortableIndex(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, k: Int = 16, numBands: Int = 4): (DataFrame, DataFrame) = {
    val sig = portableSignatures(docs, idCol, textCol, n, k)
    (portableBands(sig, k, numBands), sig)
  }

  /** New-batch near-dups against a stored index: batch signatures
    * compute fresh; index band buckets collect capped (hot shared-
    * boilerplate buckets drop entirely rather than exploding — same
    * stop-content guard as the in-corpus path); candidates are
    * (batch × bucket members), scored by signature agreement.
    * Output: (doc_id, dup_of, sig_frac) — batch docs with an index
    * near-dup at ≥ threshold.
    */
  def nearDupAgainstIndex(idxBands: DataFrame, idxSigs: DataFrame,
                          batch: DataFrame, idCol: String, textCol: String,
                          n: Int = 3, k: Int = 16, numBands: Int = 4,
                          threshold: Double = 0.5, maxBucket: Int = 500): DataFrame = pinned { pins =>
    // batch sigs feed banding AND the batch_id score join — once
    val bSig = pins.once(portableSignatures(batch, idCol, textCol, n, k))
    val bBands = portableBands(bSig, k, numBands)
    // capped collect on the INDEX side: the bounded buffer holds
    // maxBucket+1 on overflow, so the filter detects and drops hot
    // buckets instead of shipping them
    val idxBuckets = idxBands.groupBy(col("band"), col("bkey"))
      .agg(graft.functions.BoundedCollectList.column(col("doc_id"), maxBucket).as("members"))
      .filter(size(col("members")) <= maxBucket)
    val cands = bBands.join(idxBuckets, Seq("band", "bkey"))
      .select(col("doc_id").as("batch_id"), explode(col("members")).as("index_id"))
      .dropDuplicates("batch_id", "index_id")
    // signature re-joins shuffle on id — idxSigs is corpus-sized, a
    // planner broadcast of it is the measured OOM; the deduped
    // candidate set is the small build side
    val sa = bSig.select(col("doc_id").as("batch_id"), col("sig").as("sa"))
    val sb = idxSigs.select(col("doc_id").as("index_id"), col("sig").as("sb"))
    val out = cands.join(sa.hint("shuffle_hash"), "batch_id")
      .join(sb.hint("shuffle_hash"), "index_id")
      .withColumn("sig_frac",
        size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y), b => b))
          .cast("double") / k)
      .filter(col("sig_frac") >= threshold)
      .select(col("batch_id").as("doc_id"), col("index_id").as("dup_of"),
        round(col("sig_frac"), 6).as("sig_frac"))
    out.localCheckpoint(true) // batch-sized output
  }
}
