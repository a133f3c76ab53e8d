package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Partitioning.pinned
import graft.operators.dedup.Dedup
import graft.operators.text.TextAnalysis

/** The end-to-end training-data curation flow (SURVEY.md §8), composed
  * from the engine's verified operators:
  *
  *   1. profile + quality/language gate (one-pass text profile);
  *   2. exact dedup on the normalized-content fingerprint
  *      (min-id representative per hash — one shuffle);
  *   3. near-dup pair detection among survivors (n-gram Jaccard,
  *      capped-bucket candidate generation);
  *   4. transitive clustering ([[Dedup.connectedComponents]]: one
  *      driver union-find pass over a broadcast-sized pair graph, the
  *      near-dup norm; pointer-jumping label rounds above that size);
  *   5. keep one representative per cluster (the min id).
  *
  * Everything stays declarative, so Catalyst pipelines the gate into
  * the scan and the whole flow is ~4 key-partitioned shuffles plus the
  * clustering step.
  */
object TrainingDataPipeline {

  def curate(docs: DataFrame, idCol: String, textCol: String,
             minQuality: Double = 0.5, jaccardThreshold: Double = 0.5,
             shingleN: Int = 3, maxShingleDf: Int = 1000): DataFrame = {
    // The working-set pin releases HERE (the caller could never release
    // a pin it cannot see), so the lazy left_anti re-derives the
    // gate+fingerprint subtree once more — the price of a corpus-sized
    // output that stays lineage-complete instead of frozen into
    // checkpoint blocks. [[curateTo]] keeps the pin through its write.
    val (uniq, dropIds) = pinned(curateStages(_, docs, idCol, textCol,
      minQuality, jaccardThreshold, shingleN, maxShingleDf))

    // 5. keep cluster representatives (and everything unpaired)
    uniq.join(dropIds, uniq(idCol) === dropIds("__drop"), "left_anti")
      .select(col(idCol), col("lang_pred"), col("quality"))
  }

  /** Write-through [[curate]] for the common deployment shape where the
    * curated corpus is immediately persisted: the working-set pin stays
    * live through the output write (the left_anti reads the CACHED
    * survivors instead of re-deriving the gate+fingerprint subtree),
    * is released after, and the returned frame's lineage is the written
    * files — recomputable, pin-free, and one full corpus pass cheaper
    * than `curate(...).write` at 100 TB. The files are read back with
    * the written schema: inferring it would run one more job per call.
    */
  def curateTo(docs: DataFrame, idCol: String, textCol: String, outPath: String,
               minQuality: Double = 0.5, jaccardThreshold: Double = 0.5,
               shingleN: Int = 3, maxShingleDf: Int = 1000,
               mode: String = "overwrite"): DataFrame = {
    val written = pinned { pins =>
      val (uniq, dropIds) = curateStages(pins, docs, idCol, textCol,
        minQuality, jaccardThreshold, shingleN, maxShingleDf)
      val out = uniq.join(dropIds, uniq(idCol) === dropIds("__drop"), "left_anti")
        .select(col(idCol), col("lang_pred"), col("quality"))
      out.write.mode(mode).parquet(outPath)
      out.schema
    }
    docs.sparkSession.read.schema(written).parquet(outPath)
  }

  /** Steps 1–4 shared by [[curate]] and [[curateTo]]: returns the
    * exact-unique survivors, pinned in the caller's scope, and the
    * eager (small) drop-set of near-dup non-representatives.
    */
  private def curateStages(pins: Partitioning.Pins, docs: DataFrame, idCol: String, textCol: String,
                           minQuality: Double, jaccardThreshold: Double,
                           shingleN: Int, maxShingleDf: Int): (DataFrame, DataFrame) = {
    // 1. profile gate
    val prof = TextAnalysis.profile(docs, idCol, textCol)
      .filter(col("quality") >= minQuality && col("lang_pred") =!= "und")
    val gated = docs.select(col(idCol), col(textCol))
      .join(prof.select(col(idCol), col("quality"), col("lang_pred"), col("fingerprint")), idCol)

    // 2. exact dedup: min id per content fingerprint. Materialized: the
    // survivors feed BOTH the near-dup pair generation and the final
    // representative anti-join — without the pin, the profile gate +
    // fingerprint window re-derive per consumer. This cache is the
    // working set steps 3-5 iterate over (the Spark ML fit() pattern);
    // MEMORY_AND_DISK spills on corpora past executor memory.
    val uniq = pins.once(gated
      .withColumn("__keep", min(col(idCol)).over(Window.partitionBy(col("fingerprint"))))
      .filter(col(idCol) === col("__keep"))
      .drop("__keep"))

    // 3.+4. near-dup clusters among exact-unique survivors.
    // connectedComponents is eager and its output reads no pin (a local
    // relation, or a kept checkpoint), so by the time dropIds exists the
    // pin has served its multi-consumer purpose.
    val pairs = Dedup.ngramJaccardPairs(uniq, idCol, textCol,
      n = shingleN, threshold = jaccardThreshold, maxShingleDf = maxShingleDf)
    val dropIds = Dedup.connectedComponents(pairs)
      .filter(col("node") =!= col("cluster"))
      .select(col("node").as("__drop"))
    (uniq, dropIds)
  }

  /** The continual-ingest counterpart of [[curate]]: today's batch →
    * quality/language gate → dedup against the ACCUMULATED index
    * ([[Dedup.incrementalAgainst]] — exact + near, never index×index)
    * → deterministic split assignment ([[Sampling.assignSplit]] —
    * md5-bucketed, so the same doc gets the same split on every run and
    * every engine). Output: the batch rows that enter the corpus, with
    * their profile and split. At 100 TB this is the flow that runs
    * daily; [[curate]] is the one that ran once to bootstrap the index.
    */
  def ingest(index: DataFrame, batch: DataFrame, idCol: String, textCol: String,
             minQuality: Double = 0.5, jaccardThreshold: Double = 0.5,
             shingleN: Int = 3, maxShingleDf: Int = 1000,
             splits: Seq[(String, Double)] = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)): DataFrame = {
    val prof = TextAnalysis.profile(batch, idCol, textCol)
      .filter(col("quality") >= minQuality && col("lang_pred") =!= "und")
    val gated = batch.select(col(idCol), col(textCol))
      .join(prof.select(col(idCol), col("quality"), col("lang_pred")), idCol)
    val fresh = Dedup.incrementalAgainst(index, gated, idCol, textCol,
      n = shingleN, threshold = jaccardThreshold, maxShingleDf = maxShingleDf)
    Sampling.assignSplit(fresh, idCol, splits)
      .select(col(idCol), col("lang_pred"), col("quality"), col("split"))
  }

  /** Leakage-aware splitting: near-dup CLUSTERS are assigned to splits
    * atomically, so a document and its lightly-edited copy can never
    * land on opposite sides of a train/val boundary — per-doc hashing
    * (plain [[Sampling.assignSplit]]) leaks exactly those pairs, which
    * inflates eval scores by the near-dup rate of the corpus. The
    * split key is the cluster representative (min id via transitive
    * min-label propagation); singleton docs represent themselves.
    * Costs one pair-generation pass + the clustering step (one driver
    * union-find pass for a broadcast-sized pair graph, else O(log d)
    * label rounds) — run it where eval integrity matters more than a
    * per-doc hash.
    */
  def leakFreeSplit(docs: DataFrame, idCol: String, textCol: String,
                    splits: Seq[(String, Double)] =
                      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
                    jaccardThreshold: Double = 0.5,
                    shingleN: Int = 3, maxShingleDf: Int = 50): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(docs, idCol, textCol,
      n = shingleN, threshold = jaccardThreshold, maxShingleDf = maxShingleDf)
    val comps = Dedup.connectedComponents(pairs)
      .withColumnRenamed("node", idCol)
    val withRep = docs.select(col(idCol))
      .join(comps, Seq(idCol), "left")
      .withColumn("cluster_rep", coalesce(col("cluster"), col(idCol)))
      .select(col(idCol), col("cluster_rep"))
    Sampling.assignSplit(withRep, "cluster_rep", splits)
      .select(col(idCol), col("cluster_rep"), col("split"))
  }
}
