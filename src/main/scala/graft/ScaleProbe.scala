package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Partitioning.pinned

/** Scale-behavior probe: times the LLM-pipeline operators on k× unions
  * of the documents/embeddings fixtures (perturbed ids, salted text →
  * distinct content, same distribution) — the methodology behind the
  * README scale table. Usage:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 runMain graft.ScaleProbe 10 50
  *
  * Prints one JSON line per (op, k) with wall seconds. Not part of the
  * driver bench contract; a development tool for the 100 TB argument.
  */
object ScaleProbe {

  private def scaleDocs(docs: DataFrame, k: Int): DataFrame = {
    val n = docs.count()
    (0 until k).map { i =>
      docs.select(
        (col("doc_id") + lit(i * n)).as("doc_id"),
        (if (i == 0) col("text")
         else concat(col("text"), lit(s" variant$i shard salt $i"))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
  }

  private def scaleEmb(emb: DataFrame, k: Int): DataFrame = {
    val n = emb.count()
    (0 until k).map { i =>
      emb.select(
        (col("vec_id") + lit(i * n)).as("vec_id"),
        (if (i == 0) col("embedding")
         else transform(col("embedding"), x => x * lit(1.0f + i * 0.01f))).as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
  }

  /** k× the change stream: ids shift per copy and the key space grows
    * with the data (more users, not hotter users) — the realistic CDC
    * scale shape, where per-key history length stays bounded.
    */
  private def scaleEvents(events: DataFrame, k: Int): DataFrame = {
    val n = events.count()
    val users = events.agg(max(col("user_id"))).head().getLong(0) + 1
    (0 until k).map { i =>
      events.select(
        (col("event_id") + lit(i * n)).as("event_id"),
        (col("user_id") + lit(i * users)).as("user_id"),
        col("event_type"), col("value"), col("ts"), col("props"))
    }.reduce(_ unionByName _)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val ks = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(10)
    val spark = GraftSession.build()
    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    val events = Tables.load(spark, sfDir, "events")

    // optional comma-separated op filter for single-op iteration:
    //   SPARK_GRAFT_PROBE_OPS=sim_ivf_sq8_topk runMain graft.ScaleProbe 10
    val only = sys.env.get("SPARK_GRAFT_PROBE_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)

    val seenOps = scala.collection.mutable.LinkedHashSet.empty[String]
    def time(op: String, k: Int)(f: => DataFrame): Unit = {
      seenOps += op
      if (only.forall(_.contains(op))) {
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"op":"$op","k":$k,"sec":$sec%.2f}""")
      }
    }

    for (k <- ks) pinned { pins =>
      // lazy: a filtered run only materializes the scaled frames the
      // selected ops actually read (frame setup dominates iteration cost)
      lazy val d = pins.checkpoint(scaleDocs(docs, k))
      lazy val e = pins.checkpoint(scaleEmb(emb, k))
      lazy val v = pins.checkpoint(scaleEvents(events, k))
      time("pack_sequences", k) {
        operators.SeqPacking.pack(d, "doc_id", "text", "source", 512).toDF()
      }
      time("contamination", k) {
        // realistic shape: the TRAIN corpus scales, the eval/benchmark
        // set stays fixed (candidate volume is O(|eval| × cap))
        operators.Contamination.evalOverlap(
          d.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(10)) === 0)
            .select(col("doc_id"), col("text")),
          "doc_id", "text", minOverlap = 0.1)
      }
      time("contamination_bloom", k) {
        // same fixed-eval shape, Bloom-pruned train side
        operators.Contamination.evalOverlapBloom(
          d.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(10)) === 0)
            .select(col("doc_id"), col("text")),
          "doc_id", "text", minOverlap = 0.1)
      }
      time("dedup_incremental_bloom", k) {
        // BloomFilterAggregate clamps estimatedNumItems to
        // spark.sql.optimizer.runtime.bloomFilter.maxNumItems (4M
        // default) BEFORE sizing bits — beyond 4M items, raise THAT
        // conf (and maxNumBits with it) or accept a higher fpp; the
        // verify join keeps the result exact either way
        operators.dedup.Dedup.incrementalExactBloom(
          d.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(5)) === 0),
          "doc_id", "text", expectedItems = math.min(400000L * k, 4000000L))
      }
      time("bpe_train_local_1k", k) {
        // the trainer scale path: ONE aggregation + driver merge loop —
        // job count stays flat at any merge depth (1000 here; the
        // distributed loop would run ~2000 jobs). Time tracks the
        // corpus-scan word count, not the merge count.
        operators.text.BpeTrainer.trainLocal(d, "text", merges = 1000)
      }
      time("sample_mixture", k) {
        operators.Sampling.sampleMixture(d, "doc_id", "source",
          Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.1))
      }
      time("sample_token_budget", k) {
        // budgets sized to bite (~half of each source at any k)
        operators.Sampling.tokenBudgetSample(
          d.select(col("doc_id"), col("source"),
            operators.text.TextAnalysis.tokenCount(col("text")).as("toks")),
          "doc_id", "source", "toks",
          Map("src0" -> 7000L * k, "src1" -> 7000L * k, "src2" -> 7000L * k))
      }
      time("dedup_prefix_exact", k) {
        // dup-dense by construction (every doc has k-1 near-variants):
        // candidate volume tracks true-pair volume, the honest
        // quadratic-output caveat all exact pair finders share
        operators.dedup.Dedup.prefixJaccardPairs(d, "doc_id", "text",
          n = 3, tauNum = 3, tauDen = 5)
      }
      time("stats_heavy_hitters", k) {
        operators.TableStats.cmHeavyHitters(d, "text", depth = 4, width = 1024, k = 30)
      }
      time("stats_drift", k) {
        val tc = operators.text.TextAnalysis.tokenCount(col("text"))
        operators.TableStats.psiDrift(
          d.filter(pmod(col("doc_id"), lit(2)) === 0),
          d.filter(pmod(col("doc_id"), lit(2)) === 1),
          "source", least(floor(tc / lit(32.0)), lit(15L)).cast("long"))
      }
      time("stats_outliers", k) {
        operators.TableStats.madOutliers(
          d.select(col("doc_id"), col("source"),
            operators.text.TextAnalysis.tokenCount(col("text")).cast("long").as("tc")),
          "source", "tc", "doc_id", k = 3)
      }
      // continual-ingest shape: TODAY'S batch stays fixed, the stored
      // index covers the k×-scaled accumulated corpus. Build is the
      // once-per-corpus cost; the probe is the per-batch cost and
      // should track candidate volume, not corpus size.
      locally {
        var built: (DataFrame, DataFrame) = null
        time("dedup_minhash_index_build", k) {
          val (bands, sigs) = operators.dedup.MinHashDedup.buildPortableIndex(
            d, "doc_id", "text", n = 3, k = 16, numBands = 4)
          built = (pins.checkpoint(bands), pins.checkpoint(sigs))
          built._1.union(built._1.limit(0)) // materialized above; noop write below
        }
        if (built != null) {
          time("dedup_minhash_index_probe", k) {
            operators.dedup.MinHashDedup.nearDupAgainstIndex(built._1, built._2,
              docs.filter(pmod(col("doc_id"), lit(10)) === 0), "doc_id", "text",
              n = 3, k = 16, numBands = 4, threshold = 0.5, maxBucket = 500)
          }
          pins.release(built._1); pins.release(built._2)
        }
      }
      time("dedup_minhash_portable", k) {
        // the main dedup_minhash query path since round 6: portable-mode
        // imperative sig agg + ids-only buckets + shuffle_hash sig re-join
        operators.dedup.MinHashDedup.portablePairs(d, "doc_id", "text",
          n = 3, k = 64, numBands = 16, threshold = 0.5, maxBucket = 500)
      }
      time("dedup_simhash_portable", k) {
        operators.dedup.SimHashDedup.portablePairs(d, "doc_id", "text", maxDist = 3)
      }
      time("sample_shuffle", k) {
        operators.Sampling.deterministicShuffle(d.select(col("doc_id")), "doc_id")
      }
      time("emb_quantize", k) {
        e.select(col("vec_id"), graft.functions.VectorFunctions.quantizeInt8(col("embedding")).as("qs"))
      }
      time("emb_l2norm", k) {
        e.select(col("vec_id"), graft.functions.VectorFunctions.l2Normalize(col("embedding")).as("nv"))
      }
      time("emb_lsh_pairs", k) {
        operators.sim.SimilaritySearch.lshPairs(e, "vec_id", "embedding",
          threshold = 0.4, dim = 64, nBits = 8, tables = 4)
      }
      time("dedup_semantic", k) {
        // FIXED nLists (same rationale as sim_ivf_sq8_topk below);
        // list sizes grow linearly, the maxList cap bounds pair fanout
        operators.sim.SimilaritySearch.semanticDedupPairs(e, "vec_id",
          "embedding", threshold = 0.4, nLists = 64, iters = 1)
      }
      time("sim_ivf_sq8_topk", k) {
        // FIXED nLists: centroid assignment is O(corpus × nLists), so
        // growing lists with the corpus makes the BUILD super-linear
        // (measured 67 s at 50× with nLists=8k vs ~20 s fixed). Probed
        // LIST SIZES then grow linearly — the production trade-off is
        // rebuilding with more lists periodically, not per-ingest
        operators.sim.SimilaritySearch.ivfQuantizedTopK(e,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, nLists = 64, nProbe = 8, iters = 1)
      }
      time("sim_lsh_topk", k) {
        operators.sim.SimilaritySearch.lshTopK(e,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, dim = 64, nBits = 8, tables = 4)
      }
      time("text_bm25_topk", k) {
        // retrieval shape: the corpus scales, the query set stays
        // fixed — cost is the postings build (one corpus scan + the
        // term-df window); the match itself touches only query-term
        // postings via the broadcast
        operators.text.Bm25.topK(d,
          docs.filter(col("doc_id") < 8)
            .select(col("doc_id").as("query_id"), col("text").as("qtext")),
          "doc_id", "text", "query_id", "qtext", k = 10)
      }
      time("sim_pq_topk_refined", k) {
        // PQ train (fixed m×ks codebook, corpus-linear assignment) +
        // codes-only ADC + top-50 exact refine; the corpus-sized
        // operand after encode is 8 codes/vector, 32x under float32
        operators.sim.ProductQuantizer.adcTopKRefined(e,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 5, dim = 64, rerank = 50)
      }
      // r8 stored IVF-PQ: build once per corpus; the probe reads only
      // its nProbe list directories via DPP — probe time must track
      // candidates, not corpus size
      locally {
        var dir: String = null
        time("sim_ivfpq_index_build", k) {
          dir = TempDirs.scratch("probe_ivfpq")
          operators.sim.ProductQuantizer.buildIvfPqIndex(
            e, "vec_id", "embedding", dir, dim = 64, nLists = 16)
          e.limit(0) // built above; noop write below
        }
        if (dir != null) time("sim_ivfpq_index_probe", k) {
          operators.sim.ProductQuantizer.ivfPqTopKFromIndex(
            spark, dir, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
            k = 5, dim = 64, nLists = 16, nProbe = 4)
        }
      }
      time("sim_kmeans_clusters", k) {
        // domain discovery: train moves k·dim cells/round; assignment
        // is one corpus projection, the stats a k-row aggregate
        operators.sim.ProductQuantizer.kmeansClusterStats(
          e, "vec_id", "embedding", dim = 64, k = 8)
      }
      time("sim_hybrid_rrf", k) {
        // both retrievers at k× corpus, fixed query set; fusion cost is
        // pool-sized regardless of k
        operators.sim.HybridSearch.hybridTopK(d, e, 0L until 8L,
          "doc_id", "text", "vec_id", "embedding", k = 10, pool = 20)
      }
      time("text_bm25_prf", k) {
        // RM3 two-round retrieval: postings + stats materialize once
        // (r9) and serve the feedback pass, expansion mining, and the
        // final ranking — cost ≈ one postings build, not three
        operators.text.Bm25.prfTopK(d,
          docs.filter(col("doc_id") < 8)
            .select(col("doc_id").as("query_id"), col("text").as("qtext")),
          "doc_id", "text", "query_id", "qtext", k = 10)
      }
      time("pipeline_rag", k) {
        // the RAG context assembly at k× corpus: hybrid recall runs
        // once into the materialized pool (r9), MMR and chunking are
        // pool-sized
        val fused = operators.sim.HybridSearch.hybridTopK(d, e, 0L until 3L,
          "doc_id", "text", "vec_id", "embedding", k = 10, pool = 20)
        val sel = operators.sim.Diversify.mmrFromPool(
          fused.select(col("query_id"), col("corpus_id")), e, "vec_id", "embedding", k = 3)
        val selDocs = d.join(broadcast(sel.select(col("corpus_id")).distinct()),
            d("doc_id") === col("corpus_id"))
          .select(d("doc_id"), d("text"))
        sel.join(operators.text.TextAnalysis.chunkWindows(selDocs, "doc_id", "text",
            width = 10, stride = 5), sel("corpus_id") === col("doc_id"))
      }
      time("pipeline_curate", k) {
        // the bootstrap curation flow; the probe corpus is dup-dense by
        // construction (every doc has k-1 near-variants), so the pair
        // graph and clusters grow with k² true pairs — output-bound,
        // the same caveat as emb_lsh_pairs/dedup_prefix_exact
        operators.TrainingDataPipeline.curate(d, "doc_id", "text")
      }
      time("tokenizer_bpe_train", k) {
        // vocab-bound claim: the corpus scan feeds word counts once,
        // the 4 merge rounds run over distinct words only
        operators.text.BpeTrainer.train(d, "text", merges = 4)
      }
      time("layout_zorder", k) {
        // k x lineitem with shifted order keys: stats + interleave are
        // one scan + one 64-cell aggregate however large the input
        val li = Tables.load(spark, sfDir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"))
        val scaled = (0 until k).map(i =>
          li.select((col("l_orderkey") + lit(i * 10000000L)).as("l_orderkey"),
            col("l_partkey"))).reduce(_ unionByName _)
        graft.sinks.ZOrderLayout.zorderStats(scaled, "l_orderkey", "l_partkey")
      }
      time("layout_zorder_rank", k) {
        // rank codes: the global window runs over DISTINCT values only
        // (groupBy reduction first), the heavy table joins its codes
        graft.sinks.ZOrderLayout.zorderStatsRank(v, "event_id", "user_id")
      }
      time("layout_zorder_source", k) {
        // string-keyed rank z-order: the distinct-value table the global
        // window sorts is |sources| × |length bands| — domain counts grow
        // far slower than rows, so the window input stays metadata-sized
        // while the big table only joins its codes
        graft.sinks.ZOrderLayout.zorderStatsRankBy(
          d.filter(col("source").isNotNull && col("n_chars").isNotNull),
          "source", "n_chars", bits = 10, bucketBits = 4)
      }
      time("sim_knn_graph", k) {
        // mutual k-NN graph at the AUTO bit count (autoNBits: smallest
        // b in [4,24] with n ≤ 64·2^b): candidates bucket-bounded,
        // vectors re-join per directed pair — nothing corpus-quadratic,
        // and the cell count now grows with the corpus by default, so
        // the 50× run holds its bound with no manual knob
        operators.sim.SimilaritySearch.knnGraph(e, "vec_id", "embedding",
          k = 5, dim = 64, tables = 4)
      }
      time("sim_knn_graph_fixed8", k) {
        // the measured fixed-bits trap, kept as the cautionary row: the
        // probe's scaled copies share buckets by construction (scaling
        // preserves hyperplane signs), so per-bucket membership grows
        // k× and candidates k² under a FROZEN 2^8 cell count (233 s at
        // 50× vs 32 s at 2^12 when this was the default's failure mode)
        operators.sim.SimilaritySearch.knnGraph(e, "vec_id", "embedding",
          k = 5, dim = 64, nBits = 8, tables = 4)
      }
      time("stats_active_users", k) {
        operators.TableStats.activeUsers(v, "ts", "user_id")
      }
      time("pipeline_replicate", k) {
        // the CDC flagship at k× stream length and k× key count:
        // snapshot handoff + idempotence + upsert + interval ledger
        val cutoff = v.agg(max(col("event_id"))).head().getLong(0) / 2
        operators.Replication.replicate(
          v.withColumn("op",
            when(col("event_type") === "error", "d")
              .when(col("event_type") === "signup", "i").otherwise("u")),
          "user_id", "event_id", "op", cutoff, cutoff - cutoff / 4)
      }
      time("stats_histogram", k) {
        operators.TableStats.histogram(
          d.select(operators.text.TextAnalysis.tokenCount(col("text")).as("v")),
          col("v"), 0.0, 100.0, 10)
      }
      time("asof_join", k) {
        // k× events against k×/10 checkpoint rows, both sides growing:
        // the union+window shape should scale with the single key
        // shuffle (event_id doubles as the monotone event time)
        val ckpts = v.filter(pmod(col("event_id"), lit(10)) === 0)
          .select(col("user_id").as("ck_user"), col("event_id").as("ck_seq"),
            col("event_id").as("ckpt_id"))
        operators.AsOfJoin.asOf(v, ckpts, "user_id", "ck_user",
          "event_id", "ck_seq", payload = Seq("ckpt_id"))
      }
      time("range_join", k) {
        // k× points against 1000k irregular, overlapping intervals —
        // far past broadcast comfort at high k; the bucket chunking
        // must keep this an equi-join
        val pts = v.select(col("event_id"),
          pmod(col("event_id") * 2654435761L, lit(50000)).cast("double").as("x"))
        val iv = spark.range(1000L * k).select(col("id").as("iv_id"),
          (pmod(col("id") * 7919, lit(997)) * 50.0).as("lo"),
          (pmod(col("id") * 7919, lit(997)) * 50.0 + 25.0 + pmod(col("id"), lit(13)) * 10.0).as("hi"))
        operators.RangeLookupJoin.pointInInterval(pts, iv, "x", "lo", "hi", width = 100.0)
      }
      time("stats_quantiles", k) {
        operators.TableStats.groupQuantiles(d, "source", "n_chars", "doc_id",
          Seq(0.25, 0.5, 0.9, 0.99))
      }
      time("dedup_paragraph", k) {
        // explode-heavy: ~n_words/10 rows per doc through one window
        // shuffle, ids+hashes only
        operators.dedup.Dedup.paragraphDedup(d, "doc_id", "text")
      }
      time("text_chunk", k) {
        // shuffle-free: native window blocking + posexplode only
        operators.text.TextAnalysis.chunkWindows(d, "doc_id", "text", 50, 40)
      }
      time("text_tfidf", k) {
        // explode-heavy: (doc, term) count + term-partition df window
        // + per-doc top-k — three narrow hash exchanges
        operators.text.TextAnalysis.tfIdfTopK(d, "doc_id", "text", k = 3)
      }
      time("text_lm_score", k) {
        // realistic shape: the reference LM is FIXED (CCNet's
        // Wikipedia), the scored corpus grows — scoring volume is the
        // doc-bigram stream through two key-partitioned joins
        operators.text.TextAnalysis.lmCrossEntropy(d,
          docs.filter(col("source") === "src0"), "doc_id", "text")
      }
      time("tokenizer_bpe_pairs", k) {
        // vocab-bound: corpus scale hits only the word-count shuffle;
        // pair mining runs over distinct words
        operators.text.TextAnalysis.bpePairStats(d, "text", k = 50)
      }
      time("text_quality_gopher", k) {
        // per-row native projection: should track scan throughput
        operators.text.TextAnalysis.gopherGate(d, "doc_id", "text")
      }
      time("text_classify_nb", k) {
        // train AND score both scale with the corpus: model shuffle
        // (distinct (class, word) pairs grow sub-linearly) + the
        // doc-word shuffle-hash join against it
        operators.text.TextAnalysis.nbClassify(d, "doc_id", "text", "lang")
      }
      time("sample_quality_prune", k) {
        // one profile scan + one narrow source shuffle; medians ride
        // the window exchange
        import org.apache.spark.sql.expressions.Window
        val q = d.select(col("doc_id"), col("source"),
          round(call_function("graft_text_profile", col("text"))
            .getField("quality") * 1000000).cast("long").as("q_micros"))
        val wOrd = Window.partitionBy(col("source")).orderBy(col("q_micros"), col("doc_id"))
        val wAll = Window.partitionBy(col("source"))
        q.withColumn("_rn", row_number().over(wOrd))
          .withColumn("_n", count(lit(1)).over(wAll))
          .withColumn("med", max(when(col("_rn") === ceil(col("_n") * 0.5), col("q_micros"))).over(wAll))
          .filter(col("q_micros") >= col("med"))
      }
      time("sample_dsir", k) {
        // fixed target slice, growing corpus: raw-vocab model table
        // grows sub-linearly; scoring is the doc-word shuffle
        operators.text.TextAnalysis.dsirWeights(d,
          docs.filter(col("source") === "src0"), "doc_id", "text")
      }
      time("contamination_spans", k) {
        // fixed eval, k×-scaled train: the distinct-hash build side
        // grows sub-linearly (shared phrases dedupe), probe is flat
        operators.text.SpanDedup.contaminatedSpans(
          d.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          docs.filter(pmod(col("doc_id"), lit(10)) === 0)
            .select(col("doc_id"), col("text")),
          "doc_id", "text", n = 5)
      }
      time("text_dup_spans", k) {
        // positional-hash explode (~n_words rows/doc, longs only)
        // through the gh window shuffle, then the doc-id merge
        operators.text.SpanDedup.duplicatedSpans(d, "doc_id", "text", n = 10)
      }
      time("text_span_trim", k) {
        // detection + the corpus-side shuffle-hash join and per-doc
        // HOF rebuild — the full cutting pass
        operators.text.SpanDedup.trimSpans(d, "doc_id", "text", n = 10)
      }
      // r12 crawl path: k× docs → .warc.gz archives on disk (the build:
      // one pass, file-per-task, gzip-member framing) → readWarc
      // (streaming PortableDataStream, one record resident per task) →
      // HTTP parse → HTML extract → domain agg. Extract should track
      // archive bytes linearly; memory stays flat at any k because no
      // task ever holds an archive.
      // one record-synthesis path for BOTH archive arms (plain write
      // and CDX-sidecar write): the crawl_extract vs cdx_fetch_host
      // comparison is only meaningful if the records are identical
      def probeCrawlRecords(idPrefix: String): org.apache.spark.sql.DataFrame = {
        import spark.implicits._
        d.select(col("doc_id"), col("text"))
          .filter(col("text").isNotNull)
          .repartition(32)
          .as[(Long, String)]
          .mapPartitions(_.map { case (id, text) =>
            val esc = text.replace("&", "&amp;")
              .replace("<", "&lt;").replace(">", "&gt;")
            val html = "<html><body><nav><a href='/'>Home</a></nav>" +
              s"<h1>Shared heading for the crawl probe</h1><p>$esc</p></body></html>"
            val payload = sources.WarcIo.buildHttpResponse(200, "OK",
              Seq("Content-Type" -> "text/html; charset=utf-8"),
              html.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            ("response", s"http://site${id % 997}.example.com/p/$id",
              "2026-01-01T00:00:00Z", sources.WarcIo.recordIdFor(idPrefix + id),
              "application/http; msgtype=response", payload)
          }).toDF("rec_type", "target_uri", "warc_date", "record_id",
            "content_type", "payload")
      }
      locally {
        var warcDir: String = null
        // the build is the same writeWarc sink production uses — the
        // probe must not maintain a second archive writer
        def buildArchives(): Unit = {
          warcDir = TempDirs.scratch("probe_warc")
          sources.WarcIo.writeWarc(probeCrawlRecords("probe:"), warcDir)
        }
        time("crawl_warc_build", k) {
          buildArchives()
          d.limit(0) // archives written above; noop write below
        }
        // a filtered run asking only for crawl_extract still needs the
        // archives — build them untimed
        if (warcDir == null && only.forall(_.contains("crawl_extract")))
          buildArchives()
        if (warcDir != null) time("crawl_extract", k) {
          import spark.implicits._
          sources.WarcIo.readWarc(spark, warcDir + "/*.warc.gz")
            .where(col("rec_type") === "response")
            .select(col("target_uri"), col("payload"))
            .as[(String, Array[Byte])]
            .mapPartitions(_.map { case (uri, payload) =>
              val http = sources.WarcIo.parseHttpResponse(payload)
              val html = sources.WarcIo.decodeBody(http) // the production chain
              val etext = operators.text.HtmlExtract.content(html, 25, 0.33)
                .map(_.text).mkString("\n")
              (functions.UrlOps.registrableDomain(functions.UrlOps.parse(uri).host),
                etext.codePointCount(0, etext.length).toLong)
            }).toDF("domain", "n_chars")
            .groupBy(col("domain"))
            .agg(count(lit(1)).as("n_pages"), sum(col("n_chars")).as("total_chars"))
        }
      }
      locally {
        // the CDX payoff, measured against crawl_extract's full scan:
        // the same archives written WITH the CDXJ sidecar, compacted
        // to the master index, then ONE host of the 997 re-processed
        // via cluster-pruned lookup + positioned ranged reads. At any
        // k the fetch touches ~1/997 of the records and none of the
        // other 996 hosts' bytes — the full-scan extract grows with
        // the corpus, the indexed fetch with the host.
        var cdxWarcDir: String = null
        var cdxIdxDir: String = null
        def buildCdxArchives(): Unit = {
          cdxWarcDir = TempDirs.scratch("probe_cdxwarc")
          sources.WarcIo.writeWarcWithCdx(probeCrawlRecords("cdxprobe:"), cdxWarcDir)
          cdxIdxDir = TempDirs.scratch("probe_cdxidx")
          sources.CdxIndex.buildTable(
            sources.WarcIo.readCdxj(spark, cdxWarcDir + "/part-*.cdx.gz"),
            cdxIdxDir, nShards = 32)
        }
        time("cdx_sidecar_build", k) {
          buildCdxArchives() // archive + sidecar + master index, timed whole
          d.limit(0)
        }
        if (cdxWarcDir == null && only.forall(f =>
            f.contains("cdx_fetch_host") || f.contains("cdx_fetch_bulk")))
          buildCdxArchives()
        if (cdxWarcDir != null) time("cdx_fetch_bulk", k) {
          // bulk ranged-read throughput: every 10th record across ALL
          // hosts by pointer — the "re-tokenize a sample of the crawl"
          // shape. Sorted (filename, offset) walks inside fetchByCdx
          // keep per-file reads forward-sequential even at this volume
          sources.WarcIo.fetchByCdx(
            sources.WarcIo.readCdxj(spark, cdxWarcDir + "/part-*.cdx.gz")
              .filter(substring_index(col("url"), "/", -1).cast("long") % 10 === 0),
            cdxWarcDir)
            .select(count(col("offset")).as("n"),
              sum(col("content_length")).as("bytes"))
        }
        if (cdxWarcDir != null) time("cdx_fetch_host", k) {
          import spark.implicits._
          // IDENTICAL per-record work to crawl_extract (parse → decode
          // → main-content extract → domain agg) so the delta measures
          // the access path, not skipped extraction
          sources.WarcIo.fetchByCdx(
            sources.CdxIndex.lookupPrefix(spark, cdxIdxDir, "com,example,site42)"),
            cdxWarcDir)
            .select(col("target_uri"), col("payload"))
            .as[(String, Array[Byte])]
            .mapPartitions(_.map { case (uri, payload) =>
              val http = sources.WarcIo.parseHttpResponse(payload)
              val html = sources.WarcIo.decodeBody(http)
              val etext = operators.text.HtmlExtract.content(html, 25, 0.33)
                .map(_.text).mkString("\n")
              (functions.UrlOps.registrableDomain(functions.UrlOps.parse(uri).host),
                etext.codePointCount(0, etext.length).toLong)
            }).toDF("domain", "n_chars")
            .groupBy(col("domain"))
            .agg(count(lit(1)).as("n_pages"), sum(col("n_chars")).as("total_chars"))
        }
      }
      locally {
        // small-file compaction throughput: 32 streaming-epoch-sized
        // parts byte-concatenate into ~4 with arithmetically rewritten
        // sidecars — pure sequential IO, ZERO gzip work, so the time
        // must track archive BYTES (a decode/re-encode compactor would
        // burn ~10× the CPU on the same bytes)
        var cmpDir: String = null
        if (only.forall(_.contains("warc_compact_xl"))) {
          cmpDir = TempDirs.scratch("probe_warccmp")
          sources.WarcIo.writeWarcWithCdx(probeCrawlRecords("cmpprobe:"), cmpDir)
        }
        time("warc_compact_xl", k) {
          val total = sources.WarcIo.committedFiles(spark, cmpDir, ".warc.gz")
            .map(p => new java.io.File(new java.net.URI(p)).length).sum
          sources.WarcIo.compactArchives(spark, cmpDir, targetBytes = total / 4 + 1)
          println(s"""{"op":"warc_compact_xl_bytes","k":$k,"bytes":$total}""")
          d.limit(0) // compaction above; noop write below
        }
      }
      locally {
        // persisted frontier seen-set at k×100k urls: index build once,
        // then a 10%-of-index discovery batch (80% already seen — the
        // steady-state recrawl-discovery shape) probed against it.
        // Probe cost = bloom merge + codegen'd prefilter + verify join
        // over only the touched shards.
        var frontierDir: String = null
        def buildFrontier(): DataFrame = {
          frontierDir = TempDirs.scratch("probe_frontier_")
          val crawled = spark.range(100000L * k).select(
            concat(lit("http://h"), pmod(col("id"), lit(9973)),
              lit(".com/p/"), col("id")).as("url"),
            lit(100L).as("day"))
          operators.CrawlFrontier.buildIndex(crawled, "url", col("day"), frontierDir,
            nShards = 64, expectedItems = math.max(100000L * k, 100000L))
          spark.range(1).toDF("built")
        }
        time("frontier_index_build", k)(buildFrontier())
        if (frontierDir == null && only.forall(_.contains("frontier_probe")))
          buildFrontier()
        if (frontierDir != null) time("frontier_probe", k) {
          val batch = spark.range(10000L * k).select(
            when(pmod(col("id"), lit(5)) < 4,
              concat(lit("http://h"), pmod(col("id"), lit(9973)),
                lit(".com/p/"), col("id")))
              .otherwise(concat(lit("http://new"), col("id"), lit(".org/")))
              .as("url"))
          operators.CrawlFrontier.probeNew(spark, frontierDir, batch, "url")
        }
      }
      locally {
        // the Bloom tier pinned at web-crawl capacity: expectedItems =
        // k×10M (100M at the default k=10). The r13 design would merge
        // ~92 MB of sketch bytes onto the DRIVER per probe and embed
        // them as a plan literal — and could not exist at all past
        // ~2.3 B items (a single JVM byte array caps at 2 GB). The
        // per-shard tier keeps every sketch at expectedItems/nShards
        // (~360 KB here), merges them distributed, and the driver
        // never holds sketch bytes at any crawl size. Setup (index
        // build) and the GC/heap bookkeeping sit OUTSIDE the timed
        // block — the op times the PROBE, like its siblings.
        var xlDir: String = null
        def buildXl(): Unit = {
          xlDir = TempDirs.scratch("probe_frontier_xl_")
          val crawled = spark.range(1000000L).select(
            concat(lit("http://x"), pmod(col("id"), lit(9973)),
              lit(".com/p/"), col("id")).as("url"),
            lit(100L).as("day"))
          operators.CrawlFrontier.buildIndex(crawled, "url", col("day"), xlDir,
            nShards = 256, expectedItems = 10000000L * k)
        }
        if (only.forall(_.contains("frontier_probe_xl"))) buildXl()
        val rt = Runtime.getRuntime
        if (xlDir != null) System.gc()
        val before = if (xlDir == null) 0L else rt.totalMemory() - rt.freeMemory()
        time("frontier_probe_xl", k) {
          val batch = spark.range(200000L).select(
            when(pmod(col("id"), lit(2)) === 0,
              concat(lit("http://x"), pmod(col("id"), lit(9973)),
                lit(".com/p/"), col("id")))
              .otherwise(concat(lit("http://fresh"), col("id"), lit(".org/")))
              .as("url"))
          operators.CrawlFrontier.probeNew(spark, xlDir, batch, "url")
        }
        if (xlDir != null) {
          System.gc()
          val after = rt.totalMemory() - rt.freeMemory()
          println(f"""{"op":"frontier_probe_xl_driver_heap","k":$k,""" +
            f""""delta_mb":${(after - before) / 1048576.0}%.1f,""" +
            f""""expected_items":${10000000L * k}}""")
        }
      }
      locally {
        // CDX master index at k×1M captures over k×10k hosts: build the
        // range-partitioned sorted table + cluster.idx once (untimed,
        // like the frontier build), then time ONE host's lookup — the
        // op must stay flat in k because the cluster consult bounds the
        // scan to the intersecting shard(s); a full-scan formulation
        // would grow linearly. Also prints how many of the shard files
        // the lookup actually touched.
        var cdxDir: String = null
        def buildCdx(): Unit = {
          cdxDir = TempDirs.scratch("probe_cdx_")
          val host = pmod(col("id"), lit(10000L * k))
          val cdx = spark.range(1000000L * k).select(
            concat(lit("org,host"), host, lit(")/p/"), col("id")).as("surt"),
            lpad(pmod(col("id"), lit(97)).cast("string"), 14, "0").as("ts"),
            concat(lit("https://host"), host, lit(".org/p/"), col("id")).as("url"),
            lit("text/html").as("mime"), lit(200).as("status"),
            concat(lit("d"), col("id")).as("digest"),
            (lit(100L) + pmod(col("id"), lit(9))).as("length"),
            col("id").as("offset"),
            concat(lit("f"), pmod(col("id"), lit(64)), lit(".warc.gz")).as("filename"))
          sources.CdxIndex.buildTable(cdx, cdxDir, nShards = 64)
        }
        if (only.forall(f =>
            f.contains("cdx_lookup_xl") || f.contains("cdx_change_stats_xl")))
          buildCdx()
        time("cdx_lookup_xl", k) {
          sources.CdxIndex.lookupPrefix(spark, cdxDir, "org,host4242)")
        }
        if (cdxDir != null) {
          val touched = sources.CdxIndex
            .lookupPrefix(spark, cdxDir, "org,host4242)").inputFiles.length
          val total = spark.read.parquet(cdxDir + "/cdx").inputFiles.length
          println(s"""{"op":"cdx_lookup_xl_shards","k":$k,""" +
            s""""touched":$touched,"total":$total}""")
        }
        if (cdxDir != null) time("cdx_change_stats_xl", k) {
          // the adaptive-revisit signal over the SAME k×1M-capture
          // table: two partial hash aggs end to end — must scale
          // linearly in captures with no window, no driver state
          sources.CdxIndex.changeStats(spark.read.parquet(cdxDir + "/cdx"))
        }
      }
      locally {
        // LSM master maintenance at a k×1M-capture base: each append
        // lands a FIXED 100k-capture crawl as its own generation, so
        // the timed append must stay FLAT in k (cost tracks the new
        // crawl, not the archive — the mergeTables full re-sort this
        // layout replaces grows with k); the lookup then spans the
        // base + three un-compacted generations and must stay flat
        // too (every generation's cluster prunes independently).
        def cdxRows(from: Long, n: Long, ts: String): DataFrame = {
          val host = pmod(col("id"), lit(10000L * k))
          spark.range(from, from + n).select(
            concat(lit("org,host"), host, lit(")/p/"), col("id")).as("surt"),
            lit(ts).as("ts"),
            concat(lit("https://host"), host, lit(".org/p/"), col("id")).as("url"),
            lit("text/html").as("mime"), lit(200).as("status"),
            concat(lit("d"), col("id")).as("digest"),
            (lit(100L) + pmod(col("id"), lit(9))).as("length"),
            col("id").as("offset"),
            concat(lit("f"), pmod(col("id"), lit(64)), lit(".warc.gz")).as("filename"))
        }
        var lsmDir: String = null
        // not time()-gated (appends print their own per-gen lines) but
        // still a REQUESTABLE op: register it so a filtered run does
        // not end with a spurious names-no-known-op warning
        seenOps += "cdx_lsm_append_xl"
        if (only.forall(_.exists(_.startsWith("cdx_lsm")))) {
          lsmDir = TempDirs.scratch("probe_cdxlsm_")
          sources.CdxIndex.initMaster(cdxRows(0L, 1000000L * k, "20260101000000"),
            lsmDir, nShards = 64) // the base archive (untimed, like other builds)
          (1 to 3).foreach { g =>
            val t0 = System.nanoTime()
            sources.CdxIndex.appendCrawl(
              cdxRows(1000000L * k + 100000L * (g - 1), 100000L, s"2026010${g + 1}000000"),
              lsmDir, nShards = 64)
            val sec = (System.nanoTime() - t0) / 1e9
            println(f"""{"op":"cdx_lsm_append_xl","k":$k,"gen":$g,"sec":$sec%.2f}""")
          }
        }
        time("cdx_lsm_lookup_xl", k) {
          sources.CdxIndex.lookupPrefix(spark, lsmDir, "org,host4242)")
        }
        if (lsmDir != null) {
          val touched = sources.CdxIndex
            .lookupPrefix(spark, lsmDir, "org,host4242)").inputFiles.length
          val total = sources.CdxIndex.readMaster(spark, lsmDir).inputFiles.length
          println(s"""{"op":"cdx_lsm_lookup_xl_shards","k":$k,""" +
            s""""touched":$touched,"total":$total,"generations":4}""")
        }
        // SIZE-TIERED compaction over the same master: folds ONLY the
        // three 100k-capture appends (the smallest generations) into
        // one — the timed pass must stay FLAT in k because the k×1M
        // base generation is never read or rewritten; the full
        // compact() would grow linearly with the base
        time("cdx_lsm_tiered_compact_xl", k) {
          sources.CdxIndex.compact(spark, lsmDir, nShards = 64, maxGens = 2)
          sources.CdxIndex.lookupPrefix(spark, lsmDir, "org,host4242)")
        }
        // memento NEAREST resolution of a 100k-request set against the
        // whole k×1M master through the ENGINE-COMPOSED entry point:
        // the request surts prune the scan (cluster-broadcast + semi
        // join — the spine carries ~200k rows however big the master
        // is), then ONE exchange resolves both directions. The raw
        // resolveNearest(readMaster) formulation rode the ENTIRE
        // master on the spine and spilled at the 30M point
        // (BUILD_EVIDENCE_r16 §2); this must stay flat-in-k modulo the
        // linear semi-join scan.
        // ONE builder for every nearest-request set: the surt formula
        // must stay byte-identical to cdxRows' key or the probes
        // silently measure misses instead of resolutions
        def nearestReqs(from: Long, n: Long, want: String): DataFrame =
          spark.range(from, from + n).select(
            concat(lit("org,host"), pmod(col("id"), lit(10000L * k)),
              lit(")/p/"), col("id")).as("surt"),
            lit(want).as("want_ts"))
        time("cdx_lsm_nearest_xl", k) {
          sources.CdxIndex.resolveNearestAt(spark, lsmDir,
            nearestReqs(0L, 100000L, "20260101120000"))
        }
        if (lsmDir != null && only.forall(_.contains("cdx_lsm_nearest_xl"))) {
          // admission telemetry: the probe instant sits 12 h from the
          // base's window AND 12 h from the folded appends' window —
          // per-key wave-1 seeding admits both tying sides (key-pruning
          // still bounds the spine); the δ-feedback pass must then find
          // nothing more to re-admit
          val (_, w1, w2) = sources.CdxIndex.resolveNearestAtPlanned(spark, lsmDir,
            nearestReqs(0L, 1000L, "20260101120000"))
          println(s"""{"op":"cdx_lsm_nearest_xl_waves","k":$k,""" +
            s""""wave1":${w1.size},"wave2":${w2.size}}""")
        }
        // the TimeGate's common production shape: requests probe pages
        // the RECENT crawls captured, at an instant inside their ts
        // window — the k×1M base generation's window (a day earlier)
        // can never beat the achieved distances, so its files must be
        // SKIPPED outright (wave 1 admits only the recent generations,
        // the δ-feedback pass re-admits nothing) and the op must stay
        // flat in k because nothing scales with the base at all
        time("cdx_lsm_nearest_recent_xl", k) {
          sources.CdxIndex.resolveNearestAt(spark, lsmDir,
            nearestReqs(1000000L * k, 100000L, "20260102120000"))
        }
        if (lsmDir != null && only.forall(_.contains("cdx_lsm_nearest_recent_xl"))) {
          val (_, rw1, rw2) = sources.CdxIndex.resolveNearestAtPlanned(spark, lsmDir,
            nearestReqs(1000000L * k, 1000L, "20260102120000"))
          val baseRead = rw1.exists(_.contains("/gen-00000001/")) ||
            rw2.exists(_.contains("/gen-00000001/"))
          println(s"""{"op":"cdx_lsm_nearest_recent_xl_waves","k":$k,""" +
            s""""wave1":${rw1.size},"wave2":${rw2.size},"base_read":$baseRead}""")
        }
        // the archive-wide banner: latest capture of EVERY key across
        // base + appends — one max_by hash agg with map-side partial
        // merge, so the pass must scale linearly in captures (a full
        // scan by construction) with NO window sort and NO spill: each
        // map task reduces to its distinct keys before the exchange
        time("cdx_lsm_latest_xl", k) {
          sources.CdxIndex.latestCaptures(
            sources.CdxIndex.readMaster(spark, lsmDir))
        }
        // digest REVERSE index at k×1M captures with ~10 captures per
        // content (planted duplicates): one content's capture set must
        // come back flat in k via cluster pruning on the digest key —
        // the provenance/takedown query at archive scale
        var digDir: String = null
        if (only.forall(_.exists(_.startsWith("cdx_digest")))) {
          digDir = TempDirs.scratch("probe_cdxdig_")
          sources.CdxIndex.buildDigestIndex(
            cdxRows(0L, 1000000L * k, "20260101000000")
              .withColumn("digest",
                concat(lit("d"), pmod(col("offset"), lit(100000L * k)))),
            digDir, nShards = 64)
        }
        time("cdx_digest_lookup_xl", k) {
          sources.CdxIndex.lookupDigest(spark, digDir, "d42421")
        }
        if (digDir != null) {
          val got = sources.CdxIndex.lookupDigest(spark, digDir, "d42421")
          println(s"""{"op":"cdx_digest_lookup_xl_shards","k":$k,""" +
            s""""rows":${got.count()},"touched":${got.inputFiles.length},""" +
            s""""total":${spark.read.parquet(digDir + "/cdx").inputFiles.length}}""")
        }
      }
      time("crawl_pagerank", k) {
        // host-graph centrality at k×100k edges over k×10k hosts
        // (LCG-mixed destinations so edges stay distinct): five
        // integer power iterations — per round one hash join + one
        // hash agg on the host key
        val n = lit(10000L * k)
        val edges = spark.range(100000L * k).select(
          concat(lit("h"), pmod(col("id"), n)).as("src"),
          concat(lit("h"), pmod(col("id") * 1103515245L + 12345L, n)).as("dst"))
        operators.LinkGraph.pageRank(edges, "src", "dst", iterations = 5)
      }
      time("crawl_schedule_skew", k) {
        // planted ~100:1 domain skew: the mega-domain owns half of all
        // rows while ~1k small domains share the rest. capPerDomain's
        // bounded heap caps the hot key BEFORE the politeness window,
        // so the window partition is ≤100 rows regardless of skew and
        // probe time stays linear in k — the uncapped formulation
        // would single-task-sort the mega-domain's k·10⁴ rows
        val frontier = spark.range(20000L * k).select(
          when(pmod(col("id"), lit(2)) === 0, lit("mega.example.com"))
            .otherwise(concat(lit("d"), pmod(col("id"), lit(997)), lit(".org"))).as("domain"),
          concat(lit("http://h/p/"), col("id")).as("url"),
          pmod(col("id"), lit(101)).cast("double").as("priority"))
        operators.CrawlScheduler.schedule(
          operators.CrawlScheduler.capPerDomain(frontier, "domain", "url", col("priority"), 100),
          "domain", "url", 16, lit(1000L))
      }
    }
    only.foreach { f =>
      val unknown = f -- seenOps
      if (unknown.nonEmpty)
        System.err.println(s"[probe] WARNING: SPARK_GRAFT_PROBE_OPS names no known op: " +
          s"${unknown.mkString(",")} (known: ${seenOps.mkString(",")})")
    }
    spark.stop()
  }
}
