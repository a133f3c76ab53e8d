package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Partitioning.pinned

/** Link-graph centrality for crawl-frontier prioritization — the
  * priority signal [[CrawlScheduler.capPerDomain]] ranks by: a host
  * that many hosts link to should be fetched (and re-fetched) before
  * a host nobody references.
  *
  * PageRank by power iteration in INTEGER MICRO-UNITS: ranks are
  * `rank_micros` BIGINTs (1.0 ≡ 1,000,000), each iteration computes
  *
  *   rank'(n) = (1,000,000 − dampingMicros)
  *            + Σ_{(m,n) ∈ edges} (rank(m) · dampingMicros div 10⁶) div outdeg(m)
  *
  * with truncating integer division throughout. Two reasons this is
  * integer, not floating-point:
  *
  *   - DETERMINISM: a distributed float sum depends on partial-sum
  *     order, so the same graph could rank differently run to run —
  *     unacceptable for a priority signal feeding a deterministic
  *     scheduler, and impossible to hash-gate against an oracle.
  *     Integer sums are order-free; the `crawl_pagerank` query is
  *     replayed exactly by DuckDB with unrolled iterations.
  *   - The truncation loss per edge is < 1 micro-unit per iteration —
  *     noise of 10⁻⁶ on a signal consumed ordinally (top-k by rank).
  *
  * Semantics notes: edges are DEDUPLICATED (a page linking twice votes
  * once — the crawl convention); a DANGLING host (inlinks, no
  * outlinks) absorbs rank but redistributes none — its mass exits the
  * system rather than teleporting, which slightly deflates totals and
  * is the standard simplification when ranks are consumed ordinally.
  * Nodes are the union of both edge endpoints; a no-inlink host floors
  * at the teleport constant.
  *
  * Scale shape: one outdegree aggregate up front, then per iteration
  * ONE hash join (edges ⋈ ranks on the source) + one hash aggregate on
  * the destination + a left join back to the node set — all keyed
  * shuffles on the (bounded-cardinality) host key, `localCheckpoint`
  * truncating the lineage per round, nothing collected or broadcast.
  * Iterations are fixed-count (power iteration converges geometrically
  * at rate `damping`; 10 rounds ≈ 0.85¹⁰ ≈ 20% residual on the tail,
  * plenty for ordinal use — callers needing tighter tails raise it).
  */
object LinkGraph {

  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int = 10, dampingMicros: Long = 850000L): DataFrame = pinned { pins =>
    require(iterations >= 1, "need at least one iteration")
    require(dampingMicros > 0 && dampingMicros < 1000000L,
      s"dampingMicros $dampingMicros out of (0, 1000000)")
    val teleport = 1000000L - dampingMicros
    // damping as a REDUCED fraction: floor(r·d/10⁶) == floor(r·d'/m')
    // when d/10⁶ = d'/m' exactly, but the intermediate product shrinks
    // from r·d to r·d' — for the default 0.85 that is r·17 instead of
    // r·850000, pushing the Long-overflow bound from ~10¹³ (a
    // plausible mega-hub rank in a web-scale host graph, where wrapped
    // arithmetic would rank the most-linked host LAST) past 5·10¹⁷,
    // which total rank mass (≤ nodes·10⁶) cannot reach for any real
    // graph.
    val g = java.math.BigInteger.valueOf(dampingMicros)
      .gcd(java.math.BigInteger.valueOf(1000000L)).longValueExact()
    val (dNum, dDen) = (dampingMicros / g, 1000000L / g)
    val e = pins.checkpoint(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct())
    val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val withDeg = pins.checkpoint(e.join(outdeg, "src"))
    val nodes = pins.checkpoint(e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct())
    var ranks = nodes.withColumn("rank_micros", lit(1000000L))
    // the left-join-back that re-attached no-inlink nodes (an extra
    // exchange + join per iteration) folds into the dst-keyed
    // aggregation itself (guide §2.4): every node contributes one zero
    // row, so the aggregate's output IS the full node set —
    // sum(contribs ∪ {0}) == coalesce(inflow, 0), integer sums are
    // order-free, values bit-identical
    val zeroRows = nodes.select(col("node").as("dst"), lit(0L).as("c"))
    var i = 0
    while (i < iterations) {
      val prev = ranks
      ranks = pins.checkpoint(withDeg
        .join(ranks, withDeg("src") === ranks("node"))
        .select(col("dst"),
          expr(s"(rank_micros * $dNum div $dDen) div outdeg").as("c"))
        .unionByName(zeroRows)
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
        .select(col("dst").as("node"),
          (lit(teleport) + col("inflow")).as("rank_micros")))
      pins.release(prev) // superseded round: its blocks must not pile up
      i += 1
    }
    // the returned frame is the last round's checkpoint — the working
    // tables release with the scope instead of squatting in storage
    pins.keep(ranks)
  }
}
