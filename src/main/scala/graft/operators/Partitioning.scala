package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Partitioning helpers shared by CPU-heavy operators.
  *
  * A small parquet file (≪ `files.maxPartitionBytes`) scans as ONE
  * partition, so a compute-bound per-row stage (shingling, hashing,
  * simhash folds) runs on one core no matter how many the cluster has —
  * measured 15s single-task vs sub-second parallel on the documents
  * fixture. At real scale inputs are already wide; the round-robin
  * repartition only fires when the scan is narrower than the cluster.
  */
object Partitioning {
  def ensureMinParallelism(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Materialize a multiply-consumed derived table ONCE (persist + an
    * eager count), so each downstream consumer reads the cache instead
    * of re-deriving the whole subtree.
    *
    * Why not rely on the planner: Catalyst does not share duplicate
    * subtrees inside one plan, and AQE's stage cache only deduplicates
    * exchanges whose canonical form matches — a derived table consumed
    * under three DIFFERENT keys (banding, join on id_a, join on id_b)
    * recomputes per consumer (measured: the minhash signature pipeline
    * — full text scan + per-shingle md5 — ran 3× per dedup_minhash).
    *
    * Why persist over localCheckpoint: persist keeps lineage, so a lost
    * executor recomputes its partitions — localCheckpoint would fail
    * the job, a real risk on a 1000-executor run. MEMORY_AND_DISK:
    * index-shaped tables (k longs per doc) spill rather than OOM. The
    * eager count prevents the concurrent-stage race where AQE
    * materializes the consumers' independent stages in parallel, each
    * missing the cache and re-deriving.
    */
  def materializeOnce(df: DataFrame): DataFrame = {
    val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cached.count()
    cached
  }

  /** Eager-terminal companion to [[materializeOnce]] for operators whose
    * OUTPUT is small relative to the corpus (near-dup pair lists, top-k
    * tables, curated survivors): compute the output NOW via an eager
    * localCheckpoint, then release the pins before returning — also
    * when the checkpoint throws. Without
    * this, a lazy-returning operator's pins outlive the call — the
    * caller cannot unpersist blocks it never saw, and a long-lived
    * session making repeated calls (per-batch percolation, a bench/fuzz
    * harness) accumulates cached blocks until LRU eviction.
    *
    * Why localCheckpoint for the output rather than another persist:
    * checkpoint blocks never register in the session CacheManager and
    * are reaped by the ContextCleaner as soon as the returned frame is
    * garbage-collected — no explicit release protocol needed. The
    * trade: lineage is truncated, so an executor lost between here and
    * consumption fails the job instead of recomputing. That is
    * acceptable ONLY because the checkpointed table is output-bound
    * (pair/top-k sized), making the exposure window short; corpus-sized
    * intermediates must keep [[materializeOnce]]'s lineage-preserving
    * persist and live inside such an eager scope.
    */
  def releasePinsAfter(out: DataFrame, pins: DataFrame*): DataFrame =
    try out.localCheckpoint(true) finally pins.foreach(_.unpersist())

  /** Salted two-level aggregation for skewed grouping keys (SURVEY.md
    * §4: "skewed keys → salting or AQE skew-join"). A key holding a
    * large fraction of a 100 TB table turns `groupBy(key)` into one
    * straggler task; salting splits it into `nSalts` sub-groups
    * aggregated in parallel, then folds the partials.
    *
    * The caller provides the aggregate in two pieces — per-salt partial
    * and final fold — because only the caller knows the decomposition
    * (sum→sum, count→sum, min→min, ...). Plain aggregates that Spark
    * already map-side-combines don't need this; use it when the
    * per-group state is heavy (collect_list buckets, sketch buffers).
    */
  def saltedAggregate(df: DataFrame, keyCol: String, nSalts: Int)(
      partial: (org.apache.spark.sql.RelationalGroupedDataset) => DataFrame,
      fold: (org.apache.spark.sql.RelationalGroupedDataset) => DataFrame): DataFrame = {
    // Deterministic salt from row content: monotonically_increasing_id()
    // changes across task retries after a shuffle (partial-stage
    // recomputation with a nondeterministic grouping key silently drops /
    // duplicates rows — a known Spark wrong-result class). Content-hash
    // salt re-derives identically on retry; collisions only cost balance.
    val salted = df.withColumn("__salt",
      pmod(xxhash64(df.columns.map(col): _*), lit(nSalts)))
    val partials = partial(salted.groupBy(col(keyCol), col("__salt")))
    fold(partials.groupBy(col(keyCol)))
  }

  /** Salted equi-join for skewed probe keys — [[saltedAggregate]]'s
    * join-side twin. A hot key (one customer with 10% of a 100 TB fact
    * table) turns the shuffle join's matching partition into a
    * straggler; here the fact side salts into `nSalts` sub-partitions
    * (content-hash salt — retry-deterministic, same rationale as
    * above) and the dimension side replicates once per salt, so the
    * hot key's rows spread across `nSalts` tasks. The join key becomes
    * (key, salt) and the result is EXACTLY `fact.join(dim, key)`
    * (inner). The dimension must be the modest side — it is
    * materialized `nSalts`×; that is the price of de-skewing without
    * AQE (use AQE's skew-join when runtime stats are available; use
    * this when the skew is known ahead and deterministic plans are
    * required). `shuffle_hash` is pinned on the replicated side: a
    * broadcast would make salting pointless (broadcast joins have no
    * skew problem), and a sort-merge pays an unneeded sort.
    */
  def saltedJoin(fact: DataFrame, dim: DataFrame, keyCol: String,
                 nSalts: Int): DataFrame = {
    require(nSalts >= 2, s"salting needs nSalts >= 2, got $nSalts")
    require(!fact.columns.contains("__salt") && !dim.columns.contains("__salt"),
      "__salt is reserved by saltedJoin")
    val saltedFact = fact.withColumn("__salt",
      pmod(xxhash64(fact.columns.map(col): _*), lit(nSalts)))
    val replicatedDim = dim.withColumn("__salt",
      explode(sequence(lit(0L), lit(nSalts - 1L))))
    saltedFact.join(replicatedDim.hint("shuffle_hash"), Seq(keyCol, "__salt"))
      .drop("__salt")
  }
}
