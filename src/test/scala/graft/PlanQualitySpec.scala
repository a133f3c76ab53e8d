package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Guards the physical-plan properties the 100 TB design depends on —
  * a regression here is a scale bug even when results stay correct.
  */
class PlanQualitySpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** The plan that actually ran inside an eager operator. Operators that
    * end in an output `localCheckpoint` return a checkpoint scan, so
    * the returned frame hides the join/aggregate shape; a registered
    * listener sees the `localCheckpoint` execution itself. Listener
    * callbacks arrive in order, so a marker query run afterwards bounds
    * the wait, and the LAST checkpoint before it belongs to `run`.
    * Fails when no such callback arrives.
    */
  private def checkpointedPlan(run: => Unit): QueryExecution = {
    val seen = new java.util.concurrent.LinkedBlockingQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.put(funcName -> qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      run
      spark.range(1).toDF("graft_plan_marker").collect()
      val events = Iterator.continually(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .takeWhile(_ != null)
        .span(e => e._1 != "collect" || e._2.analyzed.output.map(_.name) != Seq("graft_plan_marker"))
      val (before, marker) = (events._1.toList, events._2)
      assert(marker.hasNext, "marker query callback never arrived")
      val cps = before.collect { case ("localCheckpoint", qe) => qe }
      assert(cps.nonEmpty, s"no localCheckpoint callback arrived; saw ${before.map(_._1)}")
      cps.last
    } finally spark.listenerManager.unregister(listener)
  }

  test("q2_join_enrich broadcasts the dimension sides") {
    val p = plan("q2_join_enrich")
    assert(p.contains("BroadcastHashJoin"), "dimension joins must broadcast")
  }

  test("filters push down to the parquet scan") {
    val df = Tables.load(spark, sf, "orders")
      .filter(col("o_totalprice") > 1000.0)
      .select(col("o_orderkey"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,1000.0)]"), p)
  }

  test("column pruning reaches the scan (ReadSchema carries only used columns)") {
    val df = Tables.load(spark, sf, "lineitem").select(col("l_orderkey"), col("l_quantity"))
    val p = df.queryExecution.executedPlan.toString
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("l_orderkey") && read.contains("l_quantity"))
    assert(!read.contains("l_extendedprice"), s"pruned column still read: $read")
  }

  test("pipeline_replicate: no cartesian; idempotence ledger broadcasts") {
    val p = plan("pipeline_replicate")
    assert(!p.contains("CartesianProduct"), s"cartesian in replicate plan:\n$p")
    // F10's anti-join against the snapshot-covered ledger must broadcast
    // (the ledger is ids-only); the state/ledger joins may shuffle — they
    // are keyed per-user aggregates on both sides
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"idempotence filter must be a broadcast anti-join:\n$p")
  }

  test("no dedup/similarity plan contains a cartesian or nested-loop join") {
    for (q <- Seq("dedup_ngram", "dedup_minhash", "dedup_simhash", "sim_lsh_topk",
        "dedup_semantic", "dedup_containment", "dedup_prefix_exact")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("url_normalize runs as native expressions — no typed object boundary") {
    val p = plan("url_normalize")
    assert(p.contains("graft_url_normalize"), "must use the native expression")
    assert(!p.contains("SerializeFromObject") && !p.contains("DeserializeToObject") &&
      !p.contains("MapPartitions"),
      "URL normalization must stay inside whole-stage codegen")
  }

  test("text_html_links normalizes columnar — no typed object boundary after extraction") {
    val p = plan("text_html_links")
    assert(p.contains("graft_url_normalize"), "must use the native expression")
    // the fixture generator and linksDf's parse are typed by design
    // (two DeserializeToObject boundaries); the NORMALIZATION stage
    // after them must not add a third
    val boundaries = p.sliding("DeserializeToObject".length)
      .count(_ == "DeserializeToObject")
    assert(boundaries <= 2, s"normalization added an extra typed stage ($boundaries):\n$p")
  }

  test("frontier incremental probe: shard-pruned scan, shuffled verify join, no broadcast of the index") {
    val p = plan("pipeline_frontier_incremental")
    // the bloom-probe expression now runs inside probeNew's eager
    // checkpoint (its plan shape is pinned on the inner plan in
    // CrawlFrontierSpec "the sketch tier is per-shard rows"); the
    // query-visible plan keeps the pruned verify scan and join shape
    assert(p.contains("PartitionFilters") && p.contains("shard"),
      s"index scan must prune shards:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"neither the index nor the sketch table may broadcast:\n$p")
  }

  test("crawl_schedule_capped: bounded-heap cap, window only after the cap") {
    val p = plan("crawl_schedule_capped")
    assert(p.contains("graft_topk_agg"), "the cap must be the bounded aggregate")
    // partial aggregation applies: two HashAggregate/ObjectHashAggregate
    // stages around the domain-keyed exchange
    assert(p.contains("ObjectHashAggregate") || p.contains("SortAggregate"),
      s"expected an aggregate-based cap:\n$p")
  }

  test("crawl family: seen-set anti-join broadcasts; no cartesians") {
    val pf = plan("pipeline_frontier")
    assert(pf.contains("BroadcastHashJoin") && pf.contains("LeftAnti"),
      "the seen-set anti-join must broadcast (the frontier side is the big one)")
    for (q <- Seq("pipeline_crawl", "text_html_blocks", "text_html_links",
        "url_normalize", "url_domain_stats", "url_robots_filter",
        "pipeline_crawl_loop_ranked", "pipeline_crawl_bootstrap")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("round-6 query family: no cartesian products or nested-loop joins") {
    for (q <- Seq("q8_overlap_join", "q10_funnel", "q11_cohorts", "q12_gapfill",
        "q13_deciles", "q14_moving_avg", "k8_scd2_history", "pipeline_monitor",
        "tokenizer_coverage", "stats_drift", "dedup_prefix_incremental")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q has a nested-loop join")
    }
  }

  test("window-bearing queries never run an unpartitioned (single-task) window") {
    // Window.orderBy without partitionBy funnels the whole input
    // through ONE task — the q13 first-cut trap
    for (name <- Seq("q13_deciles", "q3_window_topn", "stats_outliers",
        "stats_quantiles_sketch", "q14_moving_avg", "corpus_lang_confusion",
        "q16_attribution")) {
      val phys = SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
      val bad = phys.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      assert(bad.isEmpty, s"$name has an unpartitioned window: global sort funnel")
    }
  }

  test("prefix-filter join: shingle-set re-join is shuffle-hash, never broadcast") {
    // the verify stage re-joins corpus-sized shingle arrays per
    // candidate side — the measured lshPairs OOM shape if broadcast
    val p = plan("dedup_prefix_exact")
    assert(p.contains("ShuffledHashJoin"), s"set re-join must pin shuffle_hash:\n$p")
    assert(!p.contains("BroadcastHashJoin") ||
      p.linesIterator.count(_.contains("BroadcastHashJoin")) == 0,
      "corpus-sized shingle-set sides must not broadcast")
  }

  test("semantic dedup re-joins vectors shuffle-hash; ids-only candidate lists") {
    val df = SparkEntry.queries("dedup_semantic")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), s"vector re-join must shuffle, not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"pinned shuffle_hash, got a sort-merge:\n$p")
    // the capped collect aggregates bare ids — vectors stay out of the
    // candidate shuffle
    val opt = df.queryExecution.optimizedPlan.toString
    val aggLines = opt.linesIterator.filter(_.contains("graft_collect_capped")).toSeq
    assert(aggLines.nonEmpty, s"expected the capped collect in:\n$opt")
    assert(aggLines.forall(l => l.contains("vid") && !l.contains("vec#")),
      s"candidate lists must collect ids only:\n$aggLines")
  }

  test("lm scoring joins the model tables shuffle-hash; only V broadcasts") {
    val docs = Tables.load(spark, sf, "documents")
    val p = checkpointedPlan {
      graft.operators.text.TextAnalysis.lmCrossEntropy(
        docs, docs.filter(col("doc_id") % 7 === 0), "doc_id", "text")
    }.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), s"model joins must shuffle, not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"), s"pinned shuffle_hash, got a sort-merge:\n$p")
  }

  test("nb classifier: model join shuffle-hash; per-class constants broadcast; no corpus cartesian") {
    val df = SparkEntry.queries("text_classify_nb")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), s"model join must shuffle-hash:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    // the only nested-loop allowed is docs × the k-row broadcast consts
    assert(!p.contains("SortMergeJoin"), s"pinned shuffle_hash, got sort-merge:\n$p")
    assert(p.contains("BroadcastExchange"), s"consts/vocab must broadcast:\n$p")
  }

  test("dsir: model join shuffle-hash, constants broadcast, TakeOrdered cut") {
    val df = SparkEntry.queries("sample_dsir")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), s"model join must shuffle-hash:\n$p")
    assert(!p.contains("SortMergeJoin"), s"pinned shuffle_hash, got sort-merge:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must cut, not globally sort:\n$p")
  }

  test("quality prune: one narrow source shuffle, single text scan, no threshold re-join") {
    val df = SparkEntry.queries("sample_quality_prune")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"median must ride the window exchange, not a re-join:\n$p")
    val hashEx = p.linesIterator.count(_.contains("hashpartitioning"))
    assert(hashEx == 1, s"expected exactly one key shuffle, saw $hashEx:\n$p")
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"profile must run in ONE scan, saw $scans:\n$p")
  }

  test("gopher gate is one shuffle-free native projection") {
    val df = SparkEntry.queries("text_quality_gopher")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_gopher_stats"), s"native expression missing:\n$p")
    // sort for output determinism is the only exchange allowed
    assert(!p.contains("hashpartitioning"), s"gate must not shuffle:\n$p")
    assert(!p.contains("Join"), s"gate is per-row, no join:\n$p")
  }

  test("lshTopK broadcasts the bucketed query side; the corpus never pre-shuffles") {
    val df = SparkEntry.queries("sim_lsh_topk")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"query side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus must reach the candidate join without a shuffle:\n$p")
  }

  test("token-budget sampling never windows a whole source through one task") {
    val df = SparkEntry.queries("sample_token_budget")(spark, sf)
    val p = df.queryExecution.optimizedPlan.toString
    // the per-doc cumulative window must partition by (source, bucket) —
    // a naive per-source window would funnel each source into one task
    val docWindows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(docWindows.exists(l => l.contains("_bkt")),
      s"no (source,bucket)-partitioned window found:\n$p")
  }

  test("hot expressions stay inside whole-stage codegen") {
    // the shingling scan stage of ngram dedup must be codegen'd (the
    // native graft_shingles expression, not an interpreted HOF chain)
    val df = SparkEntry.queries("dedup_ngram")(spark, sf)
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_shingle_hashes"),
      "fused native shingle-hash expression missing from plan")
    // the inferred-filter rule would re-run the shingling per row in a
    // duplicate pre-Generate predicate — excluded in GraftSession
    assert("graft_shingle_hashes".r.findAllIn(optimized).length == 1,
      "graft_shingle_hashes must be evaluated exactly once per row")
    // WSCG annotations only exist on the finalized adaptive plan, and
    // only this df's own queryExecution finalizes on collect (a write
    // wraps the plan in a fresh execution)
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true"))
    assert(finalPlan.contains("*("), "no WholeStageCodegen stages (\"*(n)\" markers) at all?")
  }

  test("cdx_change_rate: ONE partial hash agg over surt; graft_surt codegen'd") {
    // the adaptive-revisit signal must stay a map-side-combined single
    // aggregation — a window or re-join formulation would shuffle the
    // whole index per signal refresh
    val df = SparkEntry.queries("cdx_change_rate")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, got:\n$p")
    assert(!p.contains("Window"), "changeStats must not window")
    assert(p.contains("graft_surt"), "native SURT expression missing from plan")
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("isFinalPlan=true") && finalPlan.contains("*("),
      "SURT keying must run inside whole-stage codegen")
  }

  test("cdx_latest: max_by hash agg with map-side partial, never a window") {
    // the latest-per-URL banner must reduce each key BEFORE the
    // exchange — a row_number window would shuffle every capture of
    // the listing unreduced and sort whole partitions to take row 1
    val df = SparkEntry.queries("cdx_latest")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val aggs = p.linesIterator.count(l =>
      l.contains("HashAggregate") || l.contains("ObjectHashAggregate") ||
        l.contains("SortAggregate"))
    assert(aggs >= 2, s"expected partial+final aggregate pair, got:\n$p")
    assert(p.contains("partial_max_by"),
      s"max_by must aggregate map-side (partial_max_by) in:\n$p")
    assert(!p.contains("Window"), "latestCaptures must not window")
  }

  test("cdx_lookup scans only cluster-selected shard files; no index broadcast") {
    // the pruning itself is pinned file-level in CdxSpec; here pin that
    // the LOOKUP plan is a plain pruned scan + filter — no join against
    // the cluster table (it is consulted driver-side, shard-count rows)
    // and nothing broadcast
    val p = plan("cdx_lookup")
    assert(!p.contains("BroadcastExchange"), s"no broadcast expected in a pruned scan:\n$p")
    assert(!p.toLowerCase.contains("cartesian"), "no cartesian in the lookup")
  }

  test("cdx_digest_batch: pruned scan semi-joins the request set shuffle-hash, never broadcast") {
    // the request set is data-sized by contract — neither it nor the
    // index side may ever broadcast; the only broadcast in lookupBatch
    // is the cluster consult, which collects driver-side BEFORE this
    // plan exists
    val p = plan("cdx_digest_batch")
    assert(p.contains("LeftSemi"), s"expected a semi join:\n$p")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("BroadcastExchange"),
      s"the index/keys join must not broadcast either large side:\n$p")
  }

  test("cdx_nearest_lookup: two as-of spines, no range-join fallback, no cartesian") {
    // nearest = backward + forward as-of — each the single-shuffle
    // window spine; a range-join formulation would fall back to
    // BroadcastNestedLoop/cartesian and go quadratic in captures
    val p = plan("cdx_nearest_lookup")
    assert(!p.toLowerCase.contains("cartesian") && !p.contains("BroadcastNestedLoopJoin"),
      s"nearest resolution must not fall back to a range join:\n$p")
    assert(p.linesIterator.count(_.contains("Window")) >= 2,
      s"expected the backward AND forward as-of window spines:\n$p")
  }

  test("cdx_nearest_at: pruned scan semi-joins the requests into one spine, no range join") {
    // the engine-composed TimeGate: the master scan is pruned to the
    // request keys' shard files (candidate discovery collected its
    // bounded cluster rows BEFORE this plan exists), the pruned scan
    // LEFT SEMI joins the keys (never broadcasting the index side),
    // and the nearest pick rides the asOfBoth spine — two window
    // passes, no range-join fallback
    val p = plan("cdx_nearest_at")
    assert(!p.toLowerCase.contains("cartesian") && !p.contains("BroadcastNestedLoopJoin"),
      s"nearest resolution must not fall back to a range join:\n$p")
    assert(p.contains("LeftSemi"), s"expected the key semi-join prune:\n$p")
    assert(p.linesIterator.count(_.contains("Window")) >= 2,
      s"expected the backward AND forward as-of window spines:\n$p")
  }

  test("stop-at-gtid filter is a pushable BETWEEN disjunction, not a UDF") {
    val p = plan("o11_stop_at_gtid")
    assert(!p.toLowerCase.contains("scalaudf"), "interval filter must not be a UDF")
    assert(p.contains("PushedFilters: [Or(And(GreaterThanOrEqual(event_id,1)"), p)
  }

  test("q1 aggregate is partial (map-side combine) before the exchange") {
    val p = plan("q1_agg")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate, got $hashAggs")
  }

  test("sampling ops are shuffle-free per-row filters/projections") {
    for (q <- Seq("sample_split", "sample_mixture")) {
      val p = plan(q)
      // the only exchange allowed is the final total-order sort's range
      // partitioning; the assignment itself must not shuffle
      val exchanges = p.linesIterator.count(_.contains("Exchange"))
      val rangeEx = p.linesIterator.count(_.contains("rangepartitioning"))
      assert(exchanges == rangeEx, s"$q shuffles beyond the output sort:\n$p")
      assert(!p.toLowerCase.contains("scalaudf"), s"$q uses a UDF")
    }
  }

  test("sequence packing shuffles exactly once (hash by shard) before the sort") {
    val df = SparkEntry.queries("pack_sequences")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val hashEx = p.linesIterator.count(l => l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected exactly one hash exchange (by shard), got $hashEx:\n$p")
  }

  test("contamination plan is bucket-joined: no cartesian, capped collect present") {
    val df = SparkEntry.queries("contamination")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"contamination must not cross-join:\n$p")
    assert(df.queryExecution.optimizedPlan.toString.contains("graft_collect_capped"),
      "hot-bucket cap missing from contamination plan")
  }

  test("stored IVF index probe dynamic-prunes to the probed lists") {
    // the 100-TB property of the persisted index: a query that probes
    // nProbe of nLists partitions must not scan the other lists —
    // DPP turns the cid join into a partition filter on the parquet read
    val emb = Tables.load(spark, sf, "embeddings")
    val (lists, cents) = graft.operators.sim.SimilaritySearch.buildIvfQuantizedIndex(
      emb, "vec_id", "embedding", nLists = 8, iters = 1)
    val dir = graft.TempDirs.scratch("graft-dpp")
    lists.write.partitionBy("cid").parquet(s"$dir/lists")
    cents.write.parquet(s"$dir/cents")
    val out = graft.operators.sim.SimilaritySearch.ivfQuantizedTopKFromIndex(
      spark.read.parquet(s"$dir/lists"), spark.read.parquet(s"$dir/cents"),
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5, nProbe = 2)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression"),
      s"index scan must carry a dynamic partition filter on cid:\n$p")
  }

  test("stored IVF-PQ index probe dynamic-prunes to the probed lists") {
    // same 100-TB property for the r8 buildIvfPqIndex layout: codes are
    // partitioned by lid, so the probe's broadcast (query, lid) join
    // must turn into a dynamic partition filter on the codes read
    val emb = Tables.load(spark, sf, "embeddings")
    val dir = graft.TempDirs.scratch("graft-ivfpq-dpp")
    graft.operators.sim.ProductQuantizer.buildIvfPqIndex(
      emb, "vec_id", "embedding", dir, dim = 64, nLists = 8)
    val out = graft.operators.sim.ProductQuantizer.ivfPqTopKFromIndex(
      spark, dir, emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      k = 5, dim = 64, nLists = 8, nProbe = 2)
    val p = out.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression"),
      s"codes scan must carry a dynamic partition filter on lid:\n$p")
  }

  test("partitioned layout prunes partitions at the scan") {
    val dir = graft.TempDirs.scratch("graft_prune")
    graft.sinks.PartitionedWriter.write(
      Tables.load(spark, sf, "documents"), dir, Seq("lang"))
    val read = spark.read.parquet(dir).filter(col("lang") === "en")
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [isnotnull(lang"),
      s"partition filter did not reach the scan:\n$p")
    // pruned scan must not enumerate every partition's files
    val nLangs = Tables.load(spark, sf, "documents")
      .select("lang").distinct().count()
    assert(nLangs > 1, "fixture needs multiple langs for this test to bite")
    assert(read.count() ==
      Tables.load(spark, sf, "documents").filter(col("lang") === "en").count())
  }

  test("new pipelines stay bucket-joined and single-scan where promised") {
    for (q <- Seq("dedup_incremental", "pipeline_ingest", "contamination")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$q grew a cross join:\n$p")
    }
    // corpus_report: profile inline next to the group key — one scan,
    // no self-join shuffle
    val cr = plan("corpus_report")
    assert(!cr.contains("Join"), s"corpus_report must not self-join:\n$cr")
    val scans = cr.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans == 1, s"corpus_report must scan documents once, saw $scans:\n$cr")
  }

  test("pipeline_quality: doc_id-keyed shuffle-hash funnel, no cartesian, no sort-merge") {
    val p = plan("pipeline_quality")
    assert(p.contains("ShuffledHashJoin"), s"funnel joins must shuffle-hash:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"), s"pinned shuffle_hash, got sort-merge:\n$p")
  }

  test("pipeline_datacard: funnel + rep join stay shuffle-hash; datacard agg is partial") {
    val df = SparkEntry.queries("pipeline_datacard")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), s"funnel joins must shuffle-hash:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"), s"pinned shuffle_hash, got sort-merge:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"datacard rollup must map-side combine:\n$p")
  }

  test("portable minhash buckets are ids-only; sig re-join is ShuffledHashJoin") {
    val qe = checkpointedPlan {
      graft.operators.dedup.MinHashDedup.portablePairs(
        Tables.load(spark, sf, "documents"), "doc_id", "text",
        n = 3, k = 64, numBands = 16, threshold = 0.5, maxBucket = 500)
    }
    val opt = qe.optimizedPlan.toString
    assert(opt.contains("graft_collect_capped"),
      "portable minhash must bound hot bands with the capped collect")
    // the 64-long signature must NOT ride the band shuffle (520B/member
    // structs); only 8-byte doc ids cross, sigs re-join afterwards
    val aggLines = opt.linesIterator.filter(_.contains("graft_collect_capped")).toSeq
    assert(aggLines.forall(l => !l.contains("sig")),
      s"signatures must not cross the bucket shuffle:\n$aggLines")
    val p = qe.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"),
      s"sig re-join must be shuffle_hash-pinned (planner broadcast of a corpus side OOMs at probe scale):\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"portable minhash grew a cross join:\n$p")
  }

  test("lshPairs candidate generation is capped and vector-free") {
    val df = SparkEntry.queries("emb_lsh_pairs")(spark, sf)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("graft_collect_capped"),
      "lshPairs must bound hot buckets with the capped collect")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"lshPairs grew a cross join:\n$p")
    // the bucket aggregation must see only (table, bucket, id) — if the
    // float vector reaches the aggregate, the wide arrays are crossing
    // the candidate shuffle again
    val aggLines = opt.linesIterator.filter(_.contains("graft_collect_capped")).toSeq
    assert(aggLines.forall(l => !l.contains("vec_a") && !l.contains("vec_b") && !l.contains("embedding")),
      s"vectors must not cross the bucket shuffle:\n$aggLines")
  }

  test("native vector expressions evaluate once inside the scan stage") {
    val opt = SparkEntry.queries("emb_l2norm")(spark, sf).queryExecution.optimizedPlan.toString
    assert("graft_l2norm".r.findAllIn(opt).length == 1,
      s"l2norm must be evaluated exactly once per row:\n$opt")
    // quantize struct is referenced twice (scale + q) — Catalyst may
    // duplicate it, but never more than the two field reads
    val optQ = SparkEntry.queries("emb_quantize")(spark, sf).queryExecution.optimizedPlan.toString
    assert("graft_quantize_i8".r.findAllIn(optQ).length <= 2,
      s"quantize re-evaluated more than its field reads:\n$optQ")
  }

  test("as-of join is union+window: one key shuffle, no range-join explosion") {
    val p = plan("q5_asof_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"as-of must not fall back to a range join:\n$p")
    assert(p.contains("Window"), s"expected the carry-forward window:\n$p")
    // both sides' rows flow through exactly one hash exchange on the key
    // (plus the output sort's range exchange)
    val hashEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"expected one key shuffle, got $hashEx:\n$p")
  }

  test("range-lookup join is an equi-join on buckets, never a nested loop") {
    val p = plan("q6_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval join must stay an equi-join:\n$p")
    assert(p.contains("HashJoin"), s"expected a hash equi-join on the bucket key:\n$p")
  }

  test("paragraph dedup: one hash exchange, hashes (not text) cross it, native blocking") {
    val df = SparkEntry.queries("dedup_paragraph")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1, s"count + first-pick must share one para_hash shuffle, got $hashEx:\n$p")
    assert(p.contains("graft_paragraphs"), s"expected the native blocking expression:\n$p")
    // the projection feeding the exchange carries the md5, never `para`
    val exchangeLine = p.linesIterator.find(_.contains("Exchange hashpartitioning")).get
    assert(exchangeLine.contains("para_hash"), s"shuffle key must be the hash:\n$exchangeLine")
  }

  test("top-ngrams aggregates partially and cuts with TakeOrdered, not a global sort") {
    val p = plan("text_top_ngrams")
    val hashAggs = p.linesIterator.count(_.contains("HashAggregate"))
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not fully sort the corpus:\n$p")
  }

  test("span dedup detection is join-free: two hash exchanges, hashes cross them") {
    val spans = graft.operators.text.SpanDedup.duplicatedSpans(
      Tables.load(spark, sf, "documents"), "doc_id", "text", n = 10)
    val p = spans.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"span detection must be window-counted, never joined:\n$p")
    assert(p.contains("graft_span_hashes"), s"expected the native positional-hash scan:\n$p")
    // exactly gh + doc_id; the (id, sid) merge aggregate must reuse the
    // doc partition (hash(id) satisfies the (id, sid) clustering)
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 2, s"expected exactly the gh and doc-id shuffles, got $hashEx:\n$p")
  }

  test("tfidf: df via window count (no countDistinct Expand), two hash exchanges") {
    val p = plan("text_tfidf")
    assert(!p.contains("Expand"), s"df must be a window count, not countDistinct:\n$p")
    // r18: per-doc (term, tf) is fused in-row (graft_term_freqs), so
    // the former (doc,term) aggregation exchange is gone — term (df
    // window) + doc (top-k window) remain
    assert(p.contains("graft_term_freqs"),
      s"per-doc tf must come from the fused in-row kernel:\n$p")
    val hashEx = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 2, s"expected term + doc exchanges only, got $hashEx:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"N must join as a broadcast single row:\n$p")
  }

  test("span trim joins shuffle-hash on the doc id, never broadcasting the span side") {
    val trim = graft.operators.text.SpanDedup.trimSpans(
      Tables.load(spark, sf, "documents"), "doc_id", "text", n = 10)
    val p = trim.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), s"span side must shuffle, not broadcast:\n$p")
    assert(!p.contains("BroadcastHashJoin"), s"corpus-proportional span side broadcast:\n$p")
  }

  test("bm25: query terms broadcast into the postings; df is a window count") {
    val p = plan("text_bm25_topk")
    assert(p.contains("BroadcastHashJoin"), s"term match must broadcast the query terms:\n$p")
    assert(!p.contains("Expand"), s"df must be a window count, not countDistinct:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    // only the 1-row stats table may ride a nested loop
    assert(!p.contains("SortMergeJoin"), s"the term join must hash, not sort-merge:\n$p")
  }

  test("pq: ADC search scans codes with a broadcast query side; refine re-join shuffle-hash") {
    val p = plan("sim_pq_topk")
    // the corpus-sized operand is the codes table; the query side rides
    // a broadcast (non-equi self-exclusion => nested loop over k rows)
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("BuildRight"),
      s"query side must broadcast into the codes scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    val pr = plan("sim_pq_topk_refined")
    assert(pr.contains("ShuffledHashJoin"),
      s"refine must re-join exact vectors shuffle-hash, never broadcast the corpus:\n$pr")
    assert(!pr.contains("CartesianProduct"), s"unexpected cartesian:\n$pr")
  }

  test("prf/percolate/mmr/bpe-family plans: no cartesian, no sort-merge surprises") {
    for (q <- Seq("text_bm25_percolate", "sim_mmr_topk")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q has a cartesian product:\n$p")
    }
    locally {
      import spark.implicits._
      val qs = Seq((1L, "spark join table"), (2L, "window agg stream"))
        .toDF("query_id", "qtext")
      val p = checkpointedPlan {
        graft.operators.text.Bm25.prfTopK(
          Tables.load(spark, sf, "documents"), qs, "doc_id", "text", "query_id", "qtext",
          k = 10, fb = 5, expand = 3)
      }.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"text_bm25_prf has a cartesian product:\n$p")
    }
    // percolate: every corpus-sized side is absent — batch tf joins the
    // broadcast query terms and the broadcast vocab df table
    val pp = plan("text_bm25_percolate")
    assert(pp.contains("BroadcastHashJoin"), s"percolate joins must broadcast:\n$pp")
    assert(!pp.contains("SortMergeJoin"), s"percolate must not sort-merge:\n$pp")
    // mmr: pool vectors re-attach via broadcast of the ids-only pool —
    // the corpus-side join must be a broadcast HASH join, and every
    // selection window partitions by query
    val pm = SparkEntry.queries("sim_mmr_topk")(spark, sf).queryExecution.executedPlan
    val bad = pm.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, "mmr selection windows must partition by query_id")
  }

  test("LSH bucketing stays on the fused native expression") {
    // the interpreted per-bit HOF fold was the measured cost (ScaleProbe
    // knn 50x: 38 -> 31 s fused); a silent revert would not fail any
    // value check, so pin the plan
    for (q <- Seq("sim_lsh_topk", "sim_knn_graph", "emb_lsh_pairs")) {
      val opt = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan.toString
      assert(opt.contains("graft_lsh_bucket"),
        s"$q lost the fused native bucketing:\n${opt.take(2000)}")
    }
  }

  test("pin hygiene: materializing operators leave no cache entries after consumption") {
    // the round-9 leak class: operators pinning multi-consumed subtrees
    // (minhash signatures, BM25 postings/stats, curate's working set)
    // returned lazy frames, so the pins outlived every call. Each must
    // now release before returning — the session cache ends each query
    // exactly as it started.
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    for (q <- Seq("dedup_minhash", "dedup_minhash_md5", "dedup_minhash_incremental",
        "text_bm25_prf", "pipeline_curate",
        "pipeline_frontier_incremental", "pipeline_crawl_loop", "crawl_revisits",
        "pipeline_crawl_loop_ranked", "pipeline_crawl_bootstrap", "pipeline_wat")) {
      SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
      assert(cm.isEmpty, s"$q leaked a pinned Dataset into the session cache")
    }
  }

  test("pipeline_rag: no cartesian; selection windows partition by query") {
    val df = SparkEntry.queries("pipeline_rag")(spark, sf)
    val p = df.queryExecution.executedPlan
    assert(!p.toString.contains("CartesianProduct"), "rag flagship has a cartesian")
    val bad = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, "rag windows must partition by query_id")
  }

  test("hybrid rrf: no cartesian; both retriever pools window-rank per query") {
    val df = SparkEntry.queries("sim_hybrid_rrf")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"bm25 term match must broadcast:\n$p")
    val phys = df.queryExecution.executedPlan
    val bad = phys.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
        if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, "rank windows must partition by query_id")
  }
}
