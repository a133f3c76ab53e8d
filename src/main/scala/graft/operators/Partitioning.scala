package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Pinning and skew helpers shared by operators.
  *
  * No helper here sizes an operator's input: an operator takes the
  * partitioning it is given and adaptive execution sizes its shuffles.
  * The one scan-widening rule lives with the query registry
  * ([[graft.SparkEntry]]), the only caller that knows its fixture scans
  * are single-row-group files.
  */
object Partitioning {

  /** The one place graft pins data: runs `body`, then releases every pin
    * it handed out in a `finally`, so a failed body (a failed write, a
    * replayed micro-batch) releases too — in a long-lived session a pin
    * that outlives its call stays held until a JVM GC.
    *
    * Release rule: what leaves the scope must not read a released
    * checkpoint (that read fails with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND).
    * It is a collected value, a finished write, an output
    * `localCheckpoint` taken inside the scope, or a [[Pins.keep]]
    * checkpoint. A released `once` pin may back a lazy result; its plan
    * recomputes it from lineage.
    */
  def pinned[T](body: Pins => T): T = {
    val pins = new Pins
    try body(pins) finally pins.releaseAll()
  }

  /** The pins of one scope; operator code that holds pins across calls
    * makes its own and calls [[releaseAll]] when it drops them. */
  final class Pins private[operators] {
    private val held = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, () => Unit)]

    /** Persist MEMORY_AND_DISK + an eager count, so a derived table with
      * several consumers is computed once. Catalyst shares no duplicate
      * subtrees and AQE reuses only canonically equal exchanges, so a
      * table consumed under different keys re-derives per consumer (the
      * minhash signatures ran 3× per dedup_minhash). Persist keeps
      * lineage: a lost executor recomputes, where a checkpoint would fail
      * the job. The count closes the race where AQE runs the consumers'
      * stages concurrently, each missing the cache.
      */
    def once(df: DataFrame): DataFrame = {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      held += (p -> (() => { p.unpersist(); () }))
      p.count()
      p
    }

    /** Eager `localCheckpoint` (iteration state, small tables read many
      * times). `Dataset.unpersist` does not see a checkpoint, so the pin
      * drops the checkpointed RDD itself. A checkpoint whose own job fails
      * is never handed out; the ContextCleaner reaps what it stored.
      */
    def checkpoint(df: DataFrame): DataFrame = {
      val c = df.localCheckpoint(true)
      val rdd = c.queryExecution.logical.asInstanceOf[LogicalRDD].rdd
      held += (c -> (() => { rdd.unpersist(blocking = false); () }))
      c
    }

    /** Drop a superseded pin now; a frame this scope did not pin is left alone. */
    def release(df: DataFrame): Unit = {
      val i = held.indexWhere(_._1 eq df)
      if (i >= 0) held.remove(i)._2()
    }

    /** Hand a [[checkpoint]] pin out of the scope as its output; the
      * ContextCleaner reaps it with the caller's frame.
      */
    def keep(df: DataFrame): DataFrame = {
      val i = held.indexWhere(_._1 eq df)
      require(i >= 0 && df.queryExecution.logical.isInstanceOf[LogicalRDD],
        "keep takes a checkpoint pin of this scope")
      held.remove(i)
      df
    }

    private[operators] def releaseAll(): Unit = {
      held.reverseIterator.foreach(_._2())
      held.clear()
    }
  }

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
