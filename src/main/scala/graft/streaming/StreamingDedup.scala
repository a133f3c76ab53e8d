package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Partitioning.pinned
import graft.operators.dedup.Dedup

/** Streaming exact dedup for continuously-ingested corpora (beyond-
  * parity, SURVEY.md §8): first document with a given normalized-
  * content fingerprint wins; later copies are dropped as they arrive.
  *
  * Built on `dropDuplicatesWithinWatermark`, the purpose-built Spark
  * operator: state is keyed ONLY by the 128-bit fingerprint (never the
  * text — a state row is ~fixed-width, so state size is bounded by
  * distinct-docs-per-watermark-window, not corpus bytes), and the event-
  * time watermark gives state a TTL — without it, streaming dedup state
  * grows forever, the classic unbounded-state trap at ingest scale.
  * The TTL semantics match what a 100 TB ingest wants: exact dedup
  * within the re-delivery horizon (`delay`), periodic batch dedup
  * ([[Dedup.exact]]) across horizons.
  */
object StreamingDedup {

  /** First-wins streaming dedup on normalized content. `tsCol` is the
    * event-time column the watermark rides on; duplicates arriving
    * within `delay` of the original are dropped.
    */
  def firstWins(docs: DataFrame, textCol: String, tsCol: String, delay: String): DataFrame =
    docs
      .withColumn("__fp", md5(Dedup.normText(col(textCol))))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Streaming NEAR-dup suppression: the dedup key is the 64-bit
    * simhash fingerprint, so lightly-edited copies (whose fingerprints
    * collide — simhash is built to collide on near-identical token
    * multisets) are dropped too, still with 8-byte state per kept doc.
    * This trades the batch operators' tunable Hamming radius for O(1)
    * streaming state: fingerprint EQUALITY is the radius-0 block of the
    * batch pigeonhole join, which catches same-length light edits;
    * cross-horizon and radius>0 near-dups remain the periodic batch
    * pass's job ([[graft.operators.dedup.SimHashDedup.portablePairs]]).
    */
  def nearFirstWins(docs: DataFrame, textCol: String, tsCol: String, delay: String): DataFrame =
    docs
      .withColumn("__fp",
        call_function("graft_simhash64", split(Dedup.normText(col(textCol)), " ")))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** The continual-ingest loop against the PERSISTED MinHash index
    * ([[graft.operators.dedup.MinHashDedup.buildPortableIndex]] layout:
    * `<dir>/bands`, `<dir>/sigs`): each micro-batch drops docs whose
    * near-dup is already indexed, hands the survivors to `accept`, and
    * APPENDS their bands+signatures — so batch N+1 (and tomorrow's
    * batch job: the index is shared with the batch path) dedupes
    * against everything accepted before it. A `foreachBatch` stage,
    * not a stateful operator, deliberately: near-dup state must
    * outlive the query, be shared across jobs, and stay off the state
    * store (signatures are corpus-sized).
    *
    * Within one micro-batch, docs are mutually un-deduped (neither is
    * indexed yet) — the same horizon trade [[firstWins]] documents;
    * the periodic batch pass owns intra-batch pairs.
    *
    * Replay semantics: a micro-batch replayed after a crash finds its
    * own (near-identical) docs already indexed and drops them — the
    * index doubles as the idempotence ledger, so re-appends cannot
    * happen; `accept` correspondingly does NOT re-fire for replayed
    * docs, so side effects in `accept` see each doc at most once.
    */
  def indexedIngest(indexDir: String, idCol: String, textCol: String,
                    n: Int = 3, k: Int = 16, numBands: Int = 4,
                    threshold: Double = 0.5, maxBucket: Int = 500)(
                    accept: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit = {
    import graft.operators.dedup.MinHashDedup
    (batch: DataFrame, epochId: Long) => pinned { pins =>
      val spark = batch.sparkSession
      val (bandsPath, sigsPath) = (s"$indexDir/bands", s"$indexDir/sigs")
      // pin the micro-batch FIRST: the probe anti-join is a
      // self-join of the foreachBatch frame with its own derived
      // aggregate, and an unpinned streaming batch self-join
      // mis-resolves (every row matched its own dup row and dropped) —
      // the pin gives both sides one stable relation
      val cached = pins.once(batch)
      val fresh = if (new java.io.File(bandsPath).exists()) {
        val dups = MinHashDedup.nearDupAgainstIndex(
            spark.read.parquet(bandsPath), spark.read.parquet(sigsPath),
            cached, idCol, textCol, n, k, numBands, threshold, maxBucket)
          .select(col("doc_id").as(idCol)).distinct()
        cached.join(dups, Seq(idCol), "left_anti")
      } else cached
      val (bands, sigs) = MinHashDedup.buildPortableIndex(fresh, idCol, textCol, n, k, numBands)
      bands.write.mode("append").parquet(bandsPath)
      sigs.write.mode("append").parquet(sigsPath)
      accept(fresh, epochId)
    }
  }
}
