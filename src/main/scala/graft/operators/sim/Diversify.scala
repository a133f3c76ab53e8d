package graft.operators.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Partitioning.pinned

/** Maximal-marginal-relevance diversification (Carbonell & Goldstein
  * 1998) of a nearest-neighbor pool — the standard de-redundancy pass
  * between retrieval and consumption (RAG context assembly, dedup-aware
  * sampling): from the top-`pool` nearest candidates, greedily keep the
  * item that best balances closeness to the QUERY against distance to
  * everything ALREADY KEPT, so near-duplicate neighbors don't crowd
  * the k slots.
  *
  * With λ = 1/2 and (negative) squared L2 as the similarity, the MMR
  * argmax reduces to `min_{s∈selected} d²(c, s) − d²(c, q)` — pure
  * integer arithmetic on micro-quantized vectors (the exact
  * `graft_micro_l2` kernel), so the ENTIRE greedy selection is
  * deterministic and hash-oracles; ties break on the candidate id.
  *
  * Scale shape: the candidate pool is `pool·|queries|` rows by
  * construction — selection runs on pool-sized data only. The corpus
  * is touched once by the pool search (broadcast query side); pool
  * vectors re-attach through a broadcast of the POOL (ids+scores, the
  * small side) against the corpus scan; pairwise distances are
  * pool²·|queries| rows of longs. The k selection steps are UNROLLED
  * as k dataframe stages (k is small by contract) — no driver-side
  * loop over rows, no UDF.
  */
object Diversify {

  /** Greedy MMR top-k. Output: (query_id, rank, corpus_id, d2) where
    * rank is the SELECTION ORDER (1 = nearest to the query) and d2 the
    * exact micro² distance to the query (double, exact below 2^53).
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
              k: Int, pool: Int = 20): DataFrame = pinned { pins =>
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("cv"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // exact micro-L2 pool: the corpus scans once, the query side rides
    // the broadcast; only (query_id, corpus_id, d2) survives the cut
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .withColumn("d2q", ProductQuantizer.microL2(col("cv"), col("qv")))
    // the pool cut (corpus scan + per-query window) feeds the greedy
    // loop AND the pool-vector re-join; pv feeds both sides of the
    // pairwise self-join — materialized once each (pool-sized tables),
    // released after greedySelect's eager output materialization
    val poolDf = pins.once(scored
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("d2q").asc, col("corpus_id").asc)))
      .filter(col("rk") <= pool)
      .select(col("query_id"), col("corpus_id"), col("d2q")))
    // pool vectors: broadcast the ids-only pool into the corpus scan
    val pv = pins.once(
      c.join(broadcast(poolDf.select(col("query_id"), col("corpus_id"))),
          Seq("corpus_id"))
        .select(col("query_id"), col("corpus_id"), col("cv")))
    greedySelect(pins, poolDf, pv, k)
  }

  /** The unrolled greedy loop over a pinned pool (query_id, corpus_id,
    * d2q) and its pinned vectors (query_id, corpus_id, cv): rank 1 =
    * nearest to the query, each later rank the argmax of
    * min-dist-to-selected − dist-to-query.
    *
    * The pool and the pairwise table are read k times, so both are
    * pinned, and the (pool-sized) result materializes eagerly so the
    * pins can release — a lazy result would either leak the pins for the
    * session or recompute the whole upstream retrieval once per stage
    * (mmrFromPool ran the hybrid pipeline O(k) times uncached).
    */
  private def greedySelect(pins: graft.operators.Partitioning.Pins, poolDf: DataFrame,
      vecs: DataFrame, k: Int): DataFrame = {
    // pairwise distances within each query's pool (pool² rows/query)
    val pw = pins.once(vecs.alias("a")
      .join(vecs.alias("b"), col("a.query_id") === col("b.query_id") &&
        col("a.corpus_id") =!= col("b.corpus_id"))
      .select(col("a.query_id").as("query_id"), col("a.corpus_id").as("cand"),
        col("b.corpus_id").as("sel"),
        ProductQuantizer.microL2(col("a.cv"), col("b.cv")).as("d2p")))
    var selected = poolDf
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("d2q").asc, col("corpus_id").asc)))
      .filter(col("rk") === 1)
      .select(col("query_id"), col("corpus_id"), col("d2q"), lit(1).as("rank"))
    for (step <- 2 to k) {
      val remaining = poolDf.join(
        selected.select(col("query_id"), col("corpus_id")),
        Seq("query_id", "corpus_id"), "left_anti")
      val next = remaining
        .join(pw.withColumnRenamed("cand", "corpus_id"), Seq("query_id", "corpus_id"))
        .join(selected.select(col("query_id"), col("corpus_id").as("sel")),
          Seq("query_id", "sel"))
        .groupBy(col("query_id"), col("corpus_id"), col("d2q"))
        .agg(min(col("d2p")).as("min_div"))
        .withColumn("mmr", col("min_div") - col("d2q"))
        .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col("mmr").desc, col("corpus_id").asc)))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("corpus_id"), col("d2q"), lit(step).as("rank"))
      selected = selected.unionByName(next)
    }
    selected
      .select(col("query_id"), col("rank").cast("int").as("rank"), col("corpus_id"),
        col("d2q").cast("double").as("d2"))
      .localCheckpoint(true)
  }

  /** MMR over an EXTERNALLY-supplied candidate pool (query_id,
    * corpus_id) — e.g. a hybrid-retrieval output: relevance and
    * redundancy are measured in embedding space (exact micro-L2 to the
    * query id's own vector), while the pool can come from any
    * retriever. Pool and query ids must live in `corpus`'s id space;
    * pool members WITHOUT a vector are dropped before selection (MMR
    * needs geometry — a lexical-only hit cannot be de-redundantized),
    * so the output can hold fewer than k rows per query.
    */
  def mmrFromPool(pool: DataFrame, corpus: DataFrame, idCol: String, vecCol: String,
                  k: Int): DataFrame = pinned { pins =>
    // `pool` is typically a whole retrieval pipeline (hybrid RRF in
    // pipeline_rag) and is consumed twice here; poolV three times
    // (d2q, both sides of the pairwise self-join). Without
    // materialization the retrieval re-runs ~4× (the minhash lesson,
    // Partitioning.Pins.once). Both tables are pool-sized
    // (|queries|·pool rows), and greedySelect materializes its output
    // eagerly, so the pins release before returning.
    val po = pins.once(pool)
    val c = corpus.select(col(idCol).as("vid"), col(vecCol).as("v"))
    val poolV = pins.once(
      c.join(broadcast(po), col("vid") === col("corpus_id"))
        .select(col("query_id"), col("corpus_id"), col("v").as("cv")))
    val qv = c.join(broadcast(po.select(col("query_id")).distinct()),
        col("vid") === col("query_id"))
      .select(col("query_id"), col("v").as("qvv"))
    val poolDf = poolV.join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("corpus_id"),
        ProductQuantizer.microL2(col("cv"), col("qvv")).as("d2q"))
    greedySelect(pins, pins.once(poolDf), poolV, k)
  }
}
