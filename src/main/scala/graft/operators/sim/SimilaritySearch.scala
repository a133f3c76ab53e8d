package graft.operators.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column
  * (beyond-parity, SURVEY.md §8).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small)
  *    query set against the corpus, rank per query. The right plan when
  *    |queries| is small: the corpus is scanned once, no shuffle of the
  *    corpus, broadcast hash join keeps everything map-side until the
  *    final per-query top-k (a tiny shuffle of k·|queries| rows).
  *  - [[lshTopK]] / [[lshPairs]]: random-hyperplane LSH bucketing — the
  *    scale path. Vectors only compare within matching buckets
  *    (multi-probe over `tables` independent bucketings for recall), so
  *    the join is equi-key and hash-partitioned instead of a cross join.
  */
object SimilaritySearch {

  /** Exact top-k neighbors for each query vector. `queries` must be
    * small (it is broadcast). Excludes self-matches by id.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", cosineNative(col("cvec"), col("qvec")))
    rankTopK(scored, k)
  }

  /** ANN top-k: candidates from `tables` independent LSH bucketings
    * (different plane sets), exact cosine re-rank within candidates.
    * Recall < 1 by construction; raise `tables` / lower `nBits` to trade
    * compute for recall.
    *
    * Scale shape (the `queries` side is small by contract — same as
    * [[bruteForceTopK]]): the bucketed query side is BROADCAST, so the
    * corpus never shuffles at all — bucketing, the candidate join, and
    * the cosine all run map-side over one corpus scan, and only
    * `(query_id, corpus_id, cosine)` scalars cross the dedup shuffle
    * (a pair found by several tables is scored ≤ `tables` times
    * map-side instead of dragging float vectors through an exchange —
    * CPU is the cheap currency at 100 TB, shuffle bytes are not). A hot
    * bucket costs O(members) scored rows, never an O(members²) blowup
    * or an unbounded collect, so no cap is needed on this path.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int, nBits: Int = 12, tables: Int = 4): DataFrame = {
    requireDim(corpus, vecCol, dim, "lshTopK")
    def bucketed(df: DataFrame, id: String, vec: String) =
      df.select(col(id), col(vec),
        posexplode(array((0 until tables).map(t =>
          lshBucketAt(col(vec), nBits, dim, t)): _*)).as(Seq("lsh_t", "lsh_b")))
    val c = bucketed(corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec")),
      "corpus_id", "cvec")
    val q = bucketed(queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec")),
      "query_id", "qvec")
    val scored = c.join(broadcast(q), Seq("lsh_t", "lsh_b"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", cosineNative(col("cvec"), col("qvec")))
      .groupBy(col("query_id"), col("corpus_id"))
      .agg(max(col("cosine")).as("cosine")) // same pair ≤ tables times, same value
    rankTopK(scored, k)
  }

  /** Exact top-k over an int8-QUANTIZED corpus — the memory/shuffle
    * scale lever: the corpus index is `array<tinyint>` (4× smaller than
    * float32 through every scan, cache, and exchange). Cosine is
    * scale-invariant, so the search runs DIRECTLY on the byte vectors —
    * no dequantization, no stored scale on the search path; the only
    * loss is the ±0.5-step rounding of each component (recall vs exact
    * search pinned in SimilaritySearchSpec). The same trick composes
    * with [[lshTopK]]/[[ivfTopK]] candidate generation.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int): DataFrame =
    quantizedTopKFromIndex(buildQuantizedIndex(corpus, idCol, vecCol), queries,
      idCol, vecCol, k)

  /** Build the persistable int8 index: `(corpus_id, vec8 array<tinyint>)`.
    * Write it once (parquet), search it many times with
    * [[quantizedTopKFromIndex]] — the quantization pass is paid at build
    * time, and every later search scans 4× fewer bytes than float32.
    * Only `q` is kept: cosine is scale-invariant, so the per-vector
    * scale factor is dead weight on the search path.
    */
  def buildQuantizedIndex(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("corpus_id"),
      quantizeInt8(col(vecCol)).getField("q").as("vec8"))

  /** TRAINED per-dimension bounds for the uniform scalar quantizer
    * (the FAISS `ScalarQuantizer QT_8bit` train step): min/max of each
    * dimension over the corpus. One posexplode + map-side-combined
    * aggregate — the output is `dim` rows, broadcastable anywhere.
    */
  def dimBounds(corpus: DataFrame, vecCol: String): DataFrame =
    corpus.select(posexplode(col(vecCol)).as(Seq("idx", "x")))
      .groupBy(col("idx"))
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))

  /** Apply the trained quantizer: code = clamp(⌊(x−mn)/(mx−mn)·256⌋,
    * 0, 255) per dimension (constant dimensions code to 0) — the
    * asymmetric 8-bit uniform codebook, exactly reproducible on any
    * IEEE engine (one exactly-rounded division, floor, integer
    * clamps). Returns exploded `(id, idx, qcode)` rows; the bounds
    * table broadcasts, so corpus scale touches only the per-element
    * projection.
    */
  def quantizeTrained(corpus: DataFrame, idCol: String, vecCol: String,
                      bounds: DataFrame): DataFrame =
    corpus.select(col(idCol), posexplode(col(vecCol)).as(Seq("idx", "x")))
      .join(broadcast(bounds), "idx")
      .select(col(idCol), col("idx"),
        when(col("mx") === col("mn"), lit(0L)).otherwise(
          greatest(lit(0L), least(lit(255L),
            floor((col("x").cast("double") - col("mn")) /
              (col("mx") - col("mn")) * 256.0))))
          .cast("int").as("qcode"))

  /** Top-k over a PERSISTED int8 index (the [[buildQuantizedIndex]]
    * schema, typically read back from parquet) — the stored-index entry
    * point: no quantization inside the query, the `array<tinyint>`
    * column streams straight from the scan into the broadcast-join
    * cosine loop.
    */
  def quantizedTopKFromIndex(index: DataFrame, queries: DataFrame, idCol: String,
                             vecCol: String, k: Int): DataFrame = {
    val c = index.select(col("corpus_id"), col("vec8").as("cvec8"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", cosineNative(col("cvec8"), col("qvec")))
    rankTopK(scored, k)
  }

  /** Near-dup embedding pairs above a cosine threshold, LSH-bucketed.
    *
    * Scale shape (real embeddings cluster, so hyperplane buckets are
    * NOT balanced — a hot bucket would be quadratic under a raw
    * self-join):
    *  - only `(table, bucket, id)` crosses the bucket shuffle — the
    *    wide float vectors stay out of the candidate generator;
    *  - each bucket's members are collected with a hard
    *    [[graft.functions.BoundedCollectList]] cap, so a degenerate
    *    bucket costs O(maxBucket) memory and is dropped (standard LSH
    *    practice: a bucket that big has no discriminating power —
    *    other tables still cover its genuine near-dups);
    *  - vectors re-join AFTER pair dedup, so each float array crosses
    *    a shuffle once per pair side, not once per (table, candidate).
    */
  def lshPairs(corpus: DataFrame, idCol: String, vecCol: String,
               threshold: Double, dim: Int, nBits: Int = 8, tables: Int = 4,
               maxBucket: Int = 1000): DataFrame = {
    requireDim(corpus, vecCol, dim, "lshPairs")
    val vecs = corpus.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    val bucketed = vecs.select(col("vid"),
      posexplode(array((0 until tables).map(t =>
        lshBucketAt(col("vec"), nBits, dim, t)): _*)).as(Seq("lsh_t", "lsh_b")))
    val pairs = bucketed
      .groupBy(col("lsh_t"), col("lsh_b"))
      .agg(graft.functions.BoundedCollectList.column(col("vid"), maxBucket).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
      .select(explode(col("members")).as("id_a"), col("members"))
      .select(col("id_a"), explode(col("members")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
    // vectors re-join by id through a SHUFFLE, never a broadcast: the
    // corpus vector table is the big side by definition (at probe k=50,
    // ~1.6M×64f, the planner's broadcast attempt OOMed the driver) —
    // the shuffle_hash hint pins the id-keyed exchange the 100-TB plan
    // needs, with the small deduped pair set as the hash build side
    pairs
      .join(vecs.select(col("vid").as("id_a"), col("vec").as("vec_a"))
        .hint("shuffle_hash"), Seq("id_a"))
      .join(vecs.select(col("vid").as("id_b"), col("vec").as("vec_b"))
        .hint("shuffle_hash"), Seq("id_b"))
      .withColumn("cosine", cosineNative(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Persistable LSH bucket index over an embedding corpus — the
    * continual-ingest path for [[lshPairs]]: buckets computed once,
    * written once (partition by `lsh_t`), probed by every future
    * batch. Returns (buckets, vecs): buckets (vec_id, lsh_t, lsh_b),
    * vecs (vec_id, vec). Portable md5-derived planes, so the probe is
    * oracled and a batch bucketed later lands in the SAME buckets.
    */
  def buildLshIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    dim: Int, nBits: Int = 8, tables: Int = 4): (DataFrame, DataFrame) = {
    requireDim(corpus, vecCol, dim, "buildLshIndex")
    val vecs = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    val buckets = vecs.select(col("vec_id"),
      posexplode(array((0 until tables).map(t =>
        lshBucketAt(col("vec"), nBits, dim, t)): _*)).as(Seq("lsh_t", "lsh_b")))
    (buckets, vecs)
  }

  /** New-batch near-dup pairs against a stored LSH index: the batch
    * buckets with the same portable planes, joins the capped index
    * buckets, and cosine-verifies through the id-keyed shuffle joins
    * (index vectors are corpus-sized — never broadcast). Output:
    * (vec_id, dup_of, cosine), batch id first.
    */
  def lshPairsAgainstIndex(idxBuckets: DataFrame, idxVecs: DataFrame,
                           batch: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, dim: Int, nBits: Int = 8,
                           tables: Int = 4, maxBucket: Int = 1000): DataFrame = {
    requireDim(batch, vecCol, dim, "lshPairsAgainstIndex")
    val bVecs = batch.select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
    val bBuckets = bVecs.select(col("vec_id"),
      posexplode(array((0 until tables).map(t =>
        lshBucketAt(col("vec"), nBits, dim, t)): _*)).as(Seq("lsh_t", "lsh_b")))
    val capped = idxBuckets.groupBy(col("lsh_t"), col("lsh_b"))
      .agg(graft.functions.BoundedCollectList.column(col("vec_id"), maxBucket).as("members"))
      .filter(size(col("members")) <= maxBucket)
    val cands = bBuckets.join(capped, Seq("lsh_t", "lsh_b"))
      .select(col("vec_id").as("batch_id"), explode(col("members")).as("index_id"))
      .dropDuplicates("batch_id", "index_id")
    cands
      .join(bVecs.select(col("vec_id").as("batch_id"), col("vec").as("vec_a"))
        .hint("shuffle_hash"), Seq("batch_id"))
      .join(idxVecs.select(col("vec_id").as("index_id"), col("vec").as("vec_b"))
        .hint("shuffle_hash"), Seq("index_id"))
      .withColumn("cosine", cosineNative(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("batch_id").as("vec_id"), col("index_id").as("dup_of"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Mutual k-NN graph over the WHOLE corpus — the neighborhood
    * structure that graph-based curation passes (SemDeDup clustering,
    * local-density pruning, label propagation over near-neighbors)
    * consume. Candidates come from the portable LSH buckets, never
    * all-pairs; each node ranks its candidates by exact cosine and
    * keeps its `k` best; an edge survives only when BOTH endpoints
    * keep it (mutual-kNN) — the standard asymmetry filter that drops
    * hub nodes' one-way edges. Output: (id_a < id_b, cosine,
    * rank_ab, rank_ba).
    *
    * Scale shape: capped-bucket candidate generation carries ids only
    * through the bucket shuffle ([[lshPairs]] discipline); float
    * vectors re-join per directed pair via pinned shuffle_hash; the
    * per-node rank is a window over candidate groups bounded by
    * tables·maxBucket, and the mutual check is an equi-join on the
    * reversed edge key — nothing is quadratic in the corpus and no
    * vector crosses more than two exchanges.
    */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
               dim: Int, nBits: Int = 0, tables: Int = 4,
               maxBucket: Int = 1000): DataFrame = {
    requireDim(corpus, vecCol, dim, "knnGraph")
    val vecs = corpus.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    // nBits <= 0 → derive from corpus size. ScaleProbe measured the
    // fixed-bits trap: buckets densify with the corpus, Σ bucket²
    // candidates grow quadratically (233 s at nBits=8 on the 50×
    // corpus vs 32 s at nBits=12). The FAISS practice — grow the cell
    // count with the collection — as a default rather than a manual
    // knob: smallest b in [4,16] keeping expected bucket population
    // ≤ 64 (n ≤ 64·2^b). One count-star job; explicit nBits overrides
    // for parameter sweeps.
    val bits = if (nBits > 0) nBits else autoNBits(vecs.count())
    val bucketed = vecs.select(col("vid"),
      posexplode(array((0 until tables).map(t =>
        lshBucketAt(col("vec"), bits, dim, t)): _*)).as(Seq("lsh_t", "lsh_b")))
    val cands = bucketed
      .groupBy(col("lsh_t"), col("lsh_b"))
      .agg(graft.functions.BoundedCollectList.column(col("vid"), maxBucket).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
      .select(explode(col("members")).as("src"), col("members"))
      .select(col("src"), explode(col("members")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .dropDuplicates("src", "dst")
    val directed = cands
      .join(vecs.select(col("vid").as("src"), col("vec").as("vec_a"))
        .hint("shuffle_hash"), Seq("src"))
      .join(vecs.select(col("vid").as("dst"), col("vec").as("vec_b"))
        .hint("shuffle_hash"), Seq("dst"))
      .withColumn("cosine", cosineNative(col("vec_a"), col("vec_b")))
      .withColumn("rk", row_number().over(Window.partitionBy(col("src"))
        .orderBy(col("cosine").desc, col("dst").asc)))
      .filter(col("rk") <= k)
      .select(col("src"), col("dst"), col("cosine"), col("rk"))
    val back = directed.select(col("dst").as("src"), col("src").as("dst"),
      col("rk").as("rk_back"))
    directed.join(back, Seq("src", "dst"))
      .filter(col("src") < col("dst"))
      .select(col("src").as("id_a"), col("dst").as("id_b"),
        round(col("cosine"), 6).as("cosine"),
        col("rk").cast("int").as("rank_ab"), col("rk_back").cast("int").as("rank_ba"))
  }

  /** Recall@k of an approximate top-k result against the exact one —
    * THE quality gauge every ANN deployment tracks, expressed as a
    * query so an index-parameter sweep (nBits, tables, nProbe, PQ m)
    * is one run per setting instead of an offline eval harness. Both
    * inputs are [[rankTopK]]-shaped `(query_id, rank, corpus_id, …)`;
    * output per query: `n_exact` (ground-truth size — below k at
    * corpus edges), `hits` (approx ∩ exact), `recall_micros`
    * (hits·10⁶ div n_exact, exact integer arithmetic). Row count =
    * |queries|, so the whole evaluation is join-light: the exact side
    * anchors a left join against the (equally tiny) approx side.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("query_id"), col("corpus_id"))
      .join(approx.select(col("query_id"), col("corpus_id"), lit(1L).as("hit")),
        Seq("query_id", "corpus_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .withColumn("recall_micros", expr("hits * 1000000 div n_exact"))

  /** Fail fast on a plane/vector dim mismatch: `zip_with` pads the
    * shorter side with nulls, which nulls the projection and silently
    * lands EVERY vector in bucket 0 — a wrong-result mode (all-pairs
    * candidates), not an error, without this check. One metadata-scale
    * driver lookup per call.
    */
  private def requireDim(corpus: DataFrame, vecCol: String, dim: Int, op: String): Unit = {
    val actualDim = corpus.select(size(col(vecCol))).head.getInt(0)
    require(actualDim == dim, s"$op: dim=$dim but $vecCol vectors have $actualDim elements")
  }

  /** md5-derived hyperplane weight — identical DOUBLE on every engine:
    * the first 52 bits of md5("t_b_d") are exactly representable, and
    * division by 2^51 is exact, so w ∈ [-1, 1) reproduces bit-for-bit
    * from the string key alone (no broadcast state, no RNG).
    */
  /** Index-size-scaled hyperplane count: the smallest b in [4,24] with
    * n ≤ 64·2^b, i.e. expected bucket population ≤ 64. INTEGER
    * comparisons only — the DuckDB oracle replays the identical search
    * (`MIN(b) FROM range(4,25) WHERE count ≤ 64·(1<<b)`), and an
    * integer formula cannot drift across engines the way a
    * `ceil(log2(...))` double could at exact-power boundaries.
    *
    * The cap was 16 while the per-bit HOF composition inlined nBits×dim
    * literal plane weights into codegen; the fused
    * [[graft.plans.LshBucket]] expression derives planes from a
    * JVM-cached md5 table instead (24 bits × 64 dims × 4 tables ≈ 48 KiB,
    * built once per shape), so the bound is now only where the ≤64
    * expected-population guarantee saturates: 64·2^24 ≈ 1.07 B vectors.
    * Past that, the maxBucket cap still keeps plans safe but candidate
    * recall sags — shard the corpus or raise the cap explicitly.
    */
  def autoNBits(n: Long): Int =
    (4 to 24).find(b => n <= (64L << b)).getOrElse(24)

  def portablePlane(table: Int, bit: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { d =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${table}_${bit}_$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 13)
      java.lang.Long.parseLong(hex, 16).toDouble / (1L << 51).toDouble - 1.0
    }

  /** Portable-arithmetic LSH pairs — the original cross-engine witness
    * for the hyperplane bucketing (`emb_lsh_md5` oracle): plane weights
    * from [[portablePlane]], projections summed sequentially in double
    * (the same fold DuckDB's `list_reduce` runs), so every sign bit,
    * bucket id, and candidate pair reproduces exactly. [[lshPairs]] now
    * shares the same portable planes (and adds the ids-only shuffle +
    * capped-bucket scale shape); this form differs in carrying vectors
    * inside the bucket collect — kept as the second, independently-
    * shaped witness of the same bucketing math.
    */
  def portableLshPairs(corpus: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, dim: Int, nBits: Int = 6,
                       tables: Int = 4, maxBucket: Int = 500): DataFrame = {
    requireDim(corpus, vecCol, dim, "portableLshPairs")
    val bucketed = corpus.select(col(idCol).as("vid"), col(vecCol),
      posexplode(array((0 until tables).map(t =>
        lshBucketAt(col(vecCol), nBits, dim, t)): _*)).as(Seq("lsh_t", "lsh_b")))
    val buckets = bucketed
      .groupBy(col("lsh_t"), col("lsh_b"))
      .agg(graft.functions.BoundedCollectList.column(
        struct(col("vid"), col(vecCol).as("vec")), maxBucket).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
    buckets
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("id_a"), col("b.vid").as("id_b"),
        col("a.vec").as("va"), col("b.vec").as("vb"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cosine", cosineNative(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** Exact cosine pairs above threshold — O(n²); for oracle checks and
    * small corpora only.
    */
  def bruteForcePairs(corpus: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val a = corpus.select(col(idCol).as("id_a"), col(vecCol).as("vec_a"))
    val b = corpus.select(col(idCol).as("id_b"), col(vecCol).as("vec_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", cosineNative(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** IVF (inverted-file) ANN top-k — the cluster-then-probe scale path.
    *
    * Centroids: deterministic seed (the `nLists` lowest-id vectors)
    * refined by `iters` Lloyd rounds run as DataFrame aggregations;
    * only the (nLists × dim) centroid matrix ever reaches the driver —
    * the corpus itself is touched map-side only. Index: each vector
    * joins the inverted list of its nearest centroid (argmax over the
    * broadcast centroid matrix, codegen'd — no shuffle). Query: probe
    * the `nProbe` nearest lists, exact cosine re-rank inside them. The
    * candidate join is equi-key on the list id, so work scales with
    * probed-list sizes, not the corpus.
    */
  /** (cosine, idx) structs against every centroid — argmax/top-probe
    * both read off this array. The whole centroid matrix rides as ONE
    * array<array<double>> literal (a single constant object in
    * codegen) and the per-centroid loop is a higher-order transform —
    * at nLists=1024 the plan stays flat instead of inlining
    * nLists × dim scalar literals into generated Java.
    */
  private def scoredLists(vec: org.apache.spark.sql.Column,
                          cs: Array[Array[Double]]): org.apache.spark.sql.Column = {
    val matrix = typedlit(cs.map(_.toIndexedSeq).toIndexedSeq)
    // field aliases inside a HOF lambda don't survive analysis — name
    // the struct positionally via the cast instead
    sort_array(
      transform(matrix, (c, i) => struct(cosineNative(vec, c), i)
        .cast("struct<cos:double,cid:int>")),
      asc = false)
  }

  private def nearest(vec: org.apache.spark.sql.Column,
                      cs: Array[Array[Double]]): org.apache.spark.sql.Column =
    scoredLists(vec, cs).getItem(0).getField("cid")

  /** Deterministic seed + Lloyd refinement (mean of assigned vectors).
    * The mean is computed in integer micro-units — floor(x·10^6) summed
    * as BIGINT (exact, order-free), then one fixed double division
    * chain — so the refined centroids are bit-identical run to run AND
    * reproducible by an ANSI engine: this is what lets `sim_ivf_topk`
    * (iters=2) carry a full DuckDB hash oracle instead of rows-only
    * (a double `avg()` here varies with partial-sum order). Only the
    * (nLists × dim) matrix ever reaches the driver.
    */
  def lloydCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                     nLists: Int, iters: Int): Array[Array[Double]] = {
    val c0 = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
    var centroids = c0.orderBy(col("corpus_id")).limit(nLists)
      .select(col("cvec")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    for (_ <- 1 to iters) {
      val assigned = c0.select(nearest(col("cvec"), centroids).as("cid"),
        posexplode(col("cvec")).as(Seq("pos", "x")))
      val means = assigned.groupBy(col("cid"), col("pos"))
        .agg(((sum(floor(col("x").cast("double") * lit(1e6)).cast("long")).cast("double")
          / count(lit(1)).cast("double")) / lit(1e6)).as("m"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      val byCid = means.groupBy(_._1)
      centroids = centroids.indices.map { cid =>
        byCid.get(cid) match {
          case Some(ms) => ms.sortBy(_._2).map(_._3).toArray
          case None     => centroids(cid) // empty list keeps its centroid
        }
      }.toArray
    }
    centroids
  }

  /** Probe rows: one (query_id, qvec, cid) per probed list — the
    * `nProbe` nearest centroids per query.
    */
  private def probeExplode(queries: DataFrame, idCol: String, vecCol: String,
                           cs: Array[Array[Double]], nProbe: Int): DataFrame =
    queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("cid", explode(slice(
        transform(scoredLists(col("qvec"), cs), s => s.getField("cid")), 1, nProbe)))

  /** The shared rank tail: scored candidates → per-query top-k with the
    * canonical (cosine DESC, corpus_id ASC) tie-break and 6-dp output
    * rounding — ranking semantics live HERE, once, for every search
    * variant.
    */
  private def rankTopK(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("corpus_id"), round(col("cosine"), 6).as("cosine"))
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, nLists: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame = {
    val c0 = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
    val centroids = lloydCentroids(corpus, idCol, vecCol, nLists, iters)
    val indexed = c0.withColumn("cid", nearest(col("cvec"), centroids))
    val cands = indexed.join(probeExplode(queries, idCol, vecCol, centroids, nProbe), Seq("cid"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", cosineNative(col("cvec"), col("qvec")))
    rankTopK(cands, k)
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023): the
    * corpus partitions into `nLists` learned-centroid clusters (the
    * same portable Lloyd as IVF, so the whole derivation oracles) and
    * near-dup cosine pairs are generated WITHIN clusters only — the
    * density-adaptive bucketing that hyperplane LSH lacks (a dense
    * semantic neighborhood lands in one list regardless of which side
    * of a random plane it falls). Same scale shape as [[lshPairs]]:
    * ids-only capped lists cross the candidate shuffle, vectors
    * re-join by id through pinned `shuffle_hash` exchanges. Unlike
    * LSH's multi-table buckets, assignment is unique (argmax), so
    * pairs need no dedup pass.
    */
  def semanticDedupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nLists: Int = 16, iters: Int = 2,
                         maxList: Int = 1000): DataFrame = {
    val vecs = corpus.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    val centroids = lloydCentroids(corpus, idCol, vecCol, nLists, iters)
    pairsWithinLists(vecs, centroids, threshold, maxList)
  }

  /** Within-list near-dup pairs over precomputed centroids — the shared
    * candidate/verify stage of [[semanticDedupPairs]] and
    * [[semanticPrune]].
    */
  private def pairsWithinLists(vecs: DataFrame, centroids: Array[Array[Double]],
                               threshold: Double, maxList: Int): DataFrame = {
    val pairs = vecs.select(col("vid"), nearest(col("vec"), centroids).as("cid"))
      .groupBy(col("cid"))
      .agg(graft.functions.BoundedCollectList.column(col("vid"), maxList).as("members"))
      .filter(size(col("members")).between(2, maxList))
      .select(explode(col("members")).as("id_a"), col("members"))
      .select(col("id_a"), explode(col("members")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
    pairs
      .join(vecs.select(col("vid").as("id_a"), col("vec").as("vec_a"))
        .hint("shuffle_hash"), Seq("id_a"))
      .join(vecs.select(col("vid").as("id_b"), col("vec").as("vec_b"))
        .hint("shuffle_hash"), Seq("id_b"))
      .withColumn("cosine", cosineNative(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** The SemDeDup pruning DECISION (Abbas et al. 2023 §3): near-dup
    * pairs group transitively (an edited copy of an edited copy is
    * still one duplicate group) and each group keeps exactly the
    * member with the LOWEST cosine to its centroid — the paper's
    * farthest-from-centroid representative, which biases retention
    * toward cluster-edge diversity. Vectors in no pair are singleton
    * groups and always kept; `sum(keep)` over the output is the
    * post-dedup corpus size. Output: (vec_id, cluster, cent_cos,
    * keep).
    *
    * Scale shape: the pair stage is [[semanticDedupPairs]]; grouping is
    * [[graft.operators.dedup.Dedup.connectedComponents]] (driver
    * union-find for a broadcast-sized pair list, else pointer-jumping
    * rounds of O(log diameter) joins, ids only); the decision is one row_number window partitioned by
    * cluster — singletons keep their own id as the partition key, so
    * the unpaired bulk of the corpus never funnels into one task.
    */
  def semanticPrune(corpus: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nLists: Int = 16, iters: Int = 2,
                    maxList: Int = 1000): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vecs = corpus.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    val centroids = lloydCentroids(corpus, idCol, vecCol, nLists, iters)
    val best = scoredLists(col("vec"), centroids).getItem(0)
    val assigned = vecs.select(col("vid"),
      round(best.getField("cos"), 6).as("cent_cos"))
    val pairs = pairsWithinLists(vecs, centroids, threshold, maxList)
    val comp = graft.operators.dedup.Dedup.connectedComponents(pairs)
      .select(col("node").as("vid"), col("cluster"))
    assigned
      .join(comp.hint("shuffle_hash"), Seq("vid"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("vid")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cluster"))
          .orderBy(col("cent_cos").asc, col("vid").asc)))
      .select(col("vid").as("vec_id"), col("cluster"), col("cent_cos"),
        (col("rk") === 1).as("keep"))
  }

  /** IVF-SQ8 composite index build — the FAISS IVF+SQ8 memory shape on
    * DataFrames: portable Lloyd centroids partition the corpus into
    * `nLists` inverted lists and each vector is stored int8-quantized
    * (4× smaller lists; cosine is scale-invariant so only the codes are
    * kept). Returns (lists, centroids): `lists` =
    * (cid, corpus_id, vec8 array<tinyint>) — persist it partitioned BY
    * cid so a probe scan prunes at the file level — and `centroids` =
    * (cid, centroid array<double>), which defines the probe geometry
    * and must ride with the index.
    */
  def buildIvfQuantizedIndex(corpus: DataFrame, idCol: String, vecCol: String,
                             nLists: Int = 16, iters: Int = 2): (DataFrame, DataFrame) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = lloydCentroids(corpus, idCol, vecCol, nLists, iters)
    val centDf = centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
    (quantizedLists(corpus, idCol, vecCol, centroids), centDf)
  }

  private def quantizedLists(corpus: DataFrame, idCol: String, vecCol: String,
                             cs: Array[Array[Double]]): DataFrame =
    corpus
      .select(col(idCol).as("corpus_id"), col(vecCol).as("cvec"))
      .withColumn("cid", nearest(col("cvec"), cs))
      .select(col("cid"), col("corpus_id"),
        quantizeInt8(col("cvec")).getField("q").as("vec8"))

  /** Top-k over a PERSISTED IVF-SQ8 index: probe the `nProbe` nearest
    * lists per query (centroid matrix re-read from the small `centroids`
    * frame — driver-side, nLists × dim), then exact int8×float cosine
    * re-rank INSIDE the probed lists only. Work scales with probed-list
    * bytes — already 4× smaller than float32 — not the corpus.
    *
    * The centroids frame is decoded BY NAME and validated contiguous
    * (cids 0..n-1, none missing): the probe emits centroid ARRAY
    * POSITIONS as cids, so a reordered/filtered centroids frame would
    * otherwise silently probe the wrong inverted lists. The query
    * dimension is also checked against the centroid dimension —
    * `graft_cosine` truncates to min(len) on mismatch, which would
    * return plausible-but-wrong neighbors for a stale index.
    */
  def ivfQuantizedTopKFromIndex(lists: DataFrame, centroids: DataFrame,
                                queries: DataFrame, idCol: String, vecCol: String,
                                k: Int, nProbe: Int = 4): DataFrame = {
    val pairs = centroids.select(col("cid").cast("int"), col("centroid"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    require(pairs.nonEmpty, "ivfQuantizedTopKFromIndex: empty centroids frame")
    val n = pairs.keys.max + 1
    require(pairs.size == n && (0 until n).forall(pairs.contains),
      s"ivfQuantizedTopKFromIndex: centroid cids must be contiguous 0..${n - 1}, " +
        s"got ${pairs.keys.toSeq.sorted.mkString(",")}")
    val cs = Array.tabulate(n)(pairs)
    requireDim(queries, vecCol, cs.head.length, "ivfQuantizedTopKFromIndex")
    ivfQuantizedSearch(lists, cs, queries, idCol, vecCol, k, nProbe)
  }

  private def ivfQuantizedSearch(lists: DataFrame, cs: Array[Array[Double]],
                                 queries: DataFrame, idCol: String, vecCol: String,
                                 k: Int, nProbe: Int): DataFrame = {
    val cands = lists.join(probeExplode(queries, idCol, vecCol, cs, nProbe), Seq("cid"))
      .filter(col("corpus_id") =!= col("query_id"))
      .withColumn("cosine", cosineNative(col("vec8"), col("qvec")))
    rankTopK(cands, k)
  }

  /** In-query IVF-SQ8 (build + search in one plan) — the `queries()`
    * form; production persists [[buildIvfQuantizedIndex]] once and
    * searches with [[ivfQuantizedTopKFromIndex]]. The centroid matrix
    * is already driver-side here, so no DataFrame round-trip.
    */
  def ivfQuantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                       k: Int, nLists: Int = 16, nProbe: Int = 4, iters: Int = 2): DataFrame = {
    val centroids = lloydCentroids(corpus, idCol, vecCol, nLists, iters)
    ivfQuantizedSearch(quantizedLists(corpus, idCol, vecCol, centroids), centroids,
      queries, idCol, vecCol, k, nProbe)
  }

  /** LSH bucket for table `table`: sign bits of `nBits` projections onto
    * the [[portablePlane]] hyperplanes, packed into a long. Planes are
    * keyed (table, bit, dim-index), so the `tables` bucketings are
    * independent. Portable arithmetic throughout — md5-derived weights
    * are identical doubles on every engine and the projection folds
    * left-to-right — so every bucket id reproduces bit-for-bit in the
    * DuckDB oracle (this is what lets `emb_lsh_pairs` / `sim_lsh_topk`
    * carry full hash oracles rather than rows-only checks).
    *
    * The plane weights inline as literal arrays (nBits × dim doubles per
    * table). At the defaults (≤12 bits × 64 dims × 4 tables ≈ 3k
    * literals) this codegens fine; for much larger dim × nBits move the
    * planes to a broadcast 2-D array first.
    */
  private def lshBucketAt(v: org.apache.spark.sql.Column, nBits: Int, dim: Int, table: Int): org.apache.spark.sql.Column =
    // fused native pass over all bits ([[graft.plans.LshBucket]] — same
    // md5-derived planes, same left-to-right double fold, bit-identical
    // to [[lshBucketDeclarative]], which SimilaritySearchSpec pins)
    call_function("graft_lsh_bucket", v, lit(table), lit(nBits))

  /** The composable HOF formulation, retained as the independent
    * equivalence witness for [[graft.plans.LshBucket]] (and the exact
    * shape the DuckDB oracles replay): per bit, a left-to-right double
    * fold of the element-wise product with the md5-derived plane.
    */
  private[graft] def lshBucketDeclarative(v: org.apache.spark.sql.Column, nBits: Int,
                                          dim: Int, table: Int): org.apache.spark.sql.Column = {
    val vd = transform(v, x => x.cast("double"))
    val bits = (0 until nBits).map { b =>
      val plane = array(portablePlane(table, b, dim).toIndexedSeq.map(lit): _*)
      val proj = aggregate(zip_with(vd, plane, (x, p) => x * p), lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** Nearest-centroid (Rocchio) classification: label centroids from
    * the train slice, each test vector takes the label of its
    * max-cosine centroid. The closed-form geometric sibling of the NB
    * text classifier — no iterations, one pass over train, one over
    * test — and the standard strong baseline for "label the new crawl
    * by embedding" before anything fine-tuned exists.
    *
    * Centroid means reuse the portable Lloyd arithmetic (floor(x·10^6)
    * summed exact as BIGINT, one fixed division chain), so train AND
    * inference hash-oracle end to end. Ties on cosine resolve to the
    * LARGER label (the scoredLists struct order). Only the
    * (nLabels × dim) matrix reaches the driver; test vectors score
    * against a broadcast literal — zero shuffle beyond the bounded
    * train aggregate.
    */
  def centroidClassify(train: DataFrame, test: DataFrame, idCol: String,
                       vecCol: String, labelCol: String): DataFrame = {
    val means = train
      .select(col(labelCol).cast("int").as("lbl"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("lbl"), col("pos"))
      .agg(((sum(floor(col("x").cast("double") * lit(1e6)).cast("long")).cast("double")
        / count(lit(1)).cast("double")) / lit(1e6)).as("m"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    require(means.nonEmpty, "centroidClassify: empty train slice")
    val labels = means.map(_._1).distinct.sorted
    val matrix = labels.map { l =>
      means.filter(_._1 == l).sortBy(_._2).map(_._3)
    }
    // labels ascending → matrix index desc == label desc: the struct
    // sort's tie-break IS the oracle's ORDER BY cos DESC, lbl DESC
    val top = scoredLists(col("__v"), matrix).getItem(0)
    test
      .select(col(idCol), col(labelCol).cast("int").as("true_label"),
        col(vecCol).as("__v"))
      .withColumn("pred_label",
        element_at(typedlit(labels.toIndexedSeq), top.getField("cid") + 1))
      .withColumn("cosine", round(top.getField("cos"), 6))
      .drop("__v")
  }
}
