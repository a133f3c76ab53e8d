package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.dedup.Dedup

/** Eval-set contamination check for training pipelines (beyond-parity,
  * SURVEY.md §8): which training documents share enough word n-grams
  * with an eval/benchmark document that the benchmark is compromised.
  * The metric is asymmetric — `common / |eval shingles|` — because the
  * question is "how much of the EVAL doc leaks", not mutual Jaccard.
  *
  * Same scale shape as [[Dedup.ngramJaccardPairs]]: both corpora explode
  * to (side, doc_id, shingle-hash) rows, meet in hash-partitioned
  * shingle buckets (one shuffle, 8-byte keys), and only cross-side
  * pairs within a bucket are generated. `maxShingleDf` caps bucket
  * membership with a bounded-buffer collect (hot-key OOM guard), so a
  * stop-shingle shared by millions of training docs never materializes
  * a quadratic bucket.
  *
  * Candidate volume is bounded by `|eval shingle rows| × maxShingleDf`
  * — LINEAR in the eval set and independent of train size (train only
  * pays its scan + one shuffle). That is the right asymmetry for the
  * real workload: benchmarks are fixed-size, the train corpus is the
  * thing that grows to 100 TB. Sizing the eval side into a large
  * fraction of a dup-dense corpus multiplies candidates toward
  * `eval × cap` — measured in ScaleProbe, where a fixed eval set keeps
  * 50× train growth linear.
  */
object Contamination {

  /** Pairs (eval_id, train_id) sharing shingles: `common` distinct
    * n-grams, `overlap_frac` = common / eval's distinct n-gram count,
    * kept when the (6-dp rounded) fraction reaches `minOverlap`.
    */
  private def side(df: DataFrame, tag: Int, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol).as("doc_id"), Dedup.shingleHashes(col(textCol), n).as("sh_arr"))
      .select(lit(tag).as("side"), col("doc_id"),
        size(col("sh_arr")).as("n_sh"), explode(col("sh_arr")).as("sh"))

  def evalOverlap(train: DataFrame, eval: DataFrame,
                  idCol: String, textCol: String,
                  n: Int = 3, minOverlap: Double = 0.2,
                  maxShingleDf: Int = 1000): DataFrame =
    scoredPairs(side(train, 0, idCol, textCol, n), side(eval, 1, idCol, textCol, n),
      minOverlap, maxShingleDf)

  /** [[evalOverlap]] with a Bloom pre-filter on the TRAIN side — the
    * 100 TB asymmetry exploited one step earlier: benchmarks are small
    * and fixed, so their shingle hashes fold into one sketch, and only
    * train shingle rows that MIGHT hit an eval shingle enter the bucket
    * shuffle. The shuffle volume becomes ~|matching train rows| instead
    * of the train corpus's whole shingle stream. Identical result: the
    * sketch has no false negatives, and a false positive only creates a
    * single-side bucket the existing `size(evals) >= 1` filter drops —
    * so this shares `contamination`'s oracle bit-for-bit.
    *
    * The sketch IS a driver-built plan literal — deliberately, and
    * safely: unlike a crawl-sized seen-set (the sharded frontier /
    * incremental-dedup tier), the EVAL suite is fixed and small, so
    * the literal is bounded by `expectedEvalShingles` (1M ≈ 1.2 MB at
    * 3% fpp; even a 100M-shingle eval battery is ~120 MB, far from the
    * 2 GB array ceiling) and buys a codegen'd constant filter INSIDE
    * the train scan — a probe join here would shuffle the train side,
    * which is the thing this function exists to avoid.
    */
  def evalOverlapBloom(train: DataFrame, eval: DataFrame,
                       idCol: String, textCol: String,
                       n: Int = 3, minOverlap: Double = 0.2,
                       maxShingleDf: Int = 1000,
                       expectedEvalShingles: Long = 1000000L): DataFrame = {
    // the eval shingle stream feeds BOTH the sketch (eager, here) and
    // the bucket union (in the returned plan) — checkpoint it once so
    // the benchmark corpus is scanned/shingled once, not twice
    val evalSide = side(eval, 1, idCol, textCol, n).localCheckpoint(true)
    val bf = evalSide
      .agg(call_function("graft_bloom_agg", col("sh"), lit(expectedEvalShingles)).as("bf"))
      .head().getAs[Array[Byte]](0)
    val trainSide = side(train, 0, idCol, textCol, n)
      .filter(call_function("graft_might_contain", lit(bf), col("sh")))
    scoredPairs(trainSide, evalSide, minOverlap, maxShingleDf)
  }

  private def scoredPairs(trainSide: DataFrame, evalSide: DataFrame,
                          minOverlap: Double, maxShingleDf: Int): DataFrame = {
    // Per-side capped collects: only the m_eval × m_train cross product
    // is ever exploded. The single-list alternative (explode members,
    // filter eval, explode members again, filter train) materializes
    // m_eval × m_total rows — on a dup-dense corpus most buckets are
    // single-side and that shape still explodes them quadratically
    // (measured 84 s vs 12 s at 250k docs, 50× fixture). Nulls from the
    // `when` are skipped by the collect, so each array holds one side.
    // Cap semantics unchanged: both collects bound at maxShingleDf+1,
    // so a bucket whose TOTAL membership exceeds the cap is detected
    // and dropped exactly as the single-list form did.
    val buckets = trainSide.unionByName(evalSide)
      .groupBy(col("sh"))
      .agg(
        graft.functions.BoundedCollectList.column(
          when(col("side") === 1, struct(col("doc_id"), col("n_sh"))), maxShingleDf).as("evals"),
        graft.functions.BoundedCollectList.column(
          when(col("side") === 0, col("doc_id")), maxShingleDf).as("trains"))
      .filter(size(col("evals")) >= 1 && size(col("trains")) >= 1 &&
        size(col("evals")) + size(col("trains")) <= maxShingleDf)

    buckets
      .select(explode(col("evals")).as("e"), col("trains"))
      .select(col("e"), explode(col("trains")).as("train_id"))
      .groupBy(col("e.doc_id").as("eval_id"), col("train_id"),
        col("e.n_sh").as("n_eval"))
      .agg(count(lit(1)).as("common"))
      .withColumn("overlap_frac",
        round(col("common").cast("double") / col("n_eval").cast("double"), 6))
      .filter(col("overlap_frac") >= minOverlap)
      .select(col("eval_id"), col("train_id"), col("common"), col("overlap_frac"))
  }
}
