package graft.operators.dedup

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Partitioning
import graft.operators.Partitioning.pinned

/** Deduplication operators for training-data pipelines (beyond-parity,
  * SURVEY.md §8). All candidate generation is bucketed — never an
  * unbucketed O(n²) cross join — so each operator survives a 100×
  * scale-up: the only shuffles are hash-partitioned on content keys.
  * Its `graft_*` functions resolve through `call_function`: the session
  * needs [[graft.plans.GraftExtensions]], which [[graft.GraftSession.build]] adds.
  */
object Dedup {

  /** Normalized text used by every textual dedup: lowercase, collapse
    * whitespace, then trim (collapse-first so trailing tabs/newlines
    * reduce to a trimmable space — `trim` alone only strips ' ').
    * Runs as the native one-pass [[graft.plans.NormTextUtil]] —
    * bit-identical to `lower(trim(regexp_replace(c, "\s+", " ")))`
    * (DedupSpec pins it), which is what the DuckDB oracles reproduce,
    * without the regex engine walking every document.
    */
  def normText(c: Column): Column = call_function("graft_norm_text", c)

  /** Exact dedup: hash-groupBy on normalized content, keep the smallest
    * id per group. One shuffle on md5(text); map-side partial min keeps
    * the shuffle narrow. At 100 TB, group on the 128-bit digest (not the
    * text) so shuffle rows are fixed-width.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), md5(normText(col(textCol))).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Sub-document dedup: duplicate PARAGRAPHS removed corpus-wide, the
    * C4/RefinedWeb boilerplate pass (repeated headers, footers, license
    * blocks) — whole-doc dedup never sees these. Paragraphs here are
    * fixed `wordsPerPara`-word blocks of the normalized token stream
    * (a separator-split would work identically when the corpus carries
    * real newlines). First occurrence wins on the corpus-total
    * (doc_id, para_idx) order.
    *
    * Scale shape: one explode, then ONLY (id, idx, md5) cross the
    * paragraph-hash shuffle — never paragraph text; the count and the
    * first-occurrence pick share one window partitioning, so it is a
    * single exchange end to end.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     wordsPerPara: Int = 10): DataFrame = {
    require(wordsPerPara > 0, "paragraph size must be positive")
    import org.apache.spark.sql.expressions.Window
    // native one-pass blocking ([[graft.plans.ParagraphUtil]]): the
    // HOF transform/slice formulation re-splits the text per paragraph
    // (interpreted lambda) — 6.6× slower at the 50× probe corpus
    val paras = call_function("graft_paragraphs", col(textCol), lit(wordsPerPara))
    val w = Window.partitionBy(col("para_hash"))
    val exploded = docs.select(col(idCol), posexplode(paras).as(Seq("para_idx", "para")))
      .select(col(idCol), col("para_idx"), md5(col("para")).as("para_hash"))
    exploded
      .withColumn("n_copies", count(lit(1)).over(w))
      .withColumn("keep", row_number().over(
        w.orderBy(col(idCol), col("para_idx"))) === 1)
  }

  /** Word n-gram shingles of the normalized text, distinct per doc —
    * the native one-pass [[graft.plans.ShingleUtil]] kernel
    * (registered by GraftSession). The HOF formulation it replaces was
    * quadratic: interpreted lambdas re-evaluated the duplicated
    * `split(regexp_replace(...))` subtree per element.
    */
  def shingles(textCol: Column, n: Int): Column =
    call_function("graft_shingles", textCol, lit(n))

  /** Distinct shingles pre-reduced to their xxhash64 values inside the
    * scan stage ([[graft.plans.ShingleHashUtil]]) — the dedup
    * candidate generators explode these 8-byte longs instead of
    * materializing every shingle string through the explode just to
    * hash it on the next line. Bit-identical to
    * `xxhash64(shingles(text, n)[i])` (pinned in DedupSpec).
    */
  def shingleHashes(textCol: Column, n: Int): Column =
    call_function("graft_shingle_hashes", textCol, lit(n))

  /** N-gram Jaccard near-dup pairs. Candidates = docs sharing at least
    * one shingle (explode + self-join on the shingle hash = one
    * hash-partitioned shuffle); Jaccard from per-pair common-shingle
    * counts vs per-doc totals. `maxShingleDf` drops stop-shingles that
    * occur in too many docs — the classic skew guard: without it a
    * shingle shared by 1% of a 100 TB corpus creates a quadratic bucket.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxShingleDf: Int = 1000): DataFrame =
    pairCommonCounts(docs, idCol, textCol, n, maxShingleDf)
      .withColumn("jaccard", col("common").cast("double") /
        (col("na") + col("nb") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))

  /** Directional containment near-dup pairs: `common/|A|` and
    * `common/|B|` per candidate pair, kept when either direction
    * reaches `threshold`. Catches what symmetric Jaccard structurally
    * cannot: a short document quoted whole inside a much longer one
    * has containment ≈ 1 in one direction while Jaccard ≈ |A|/|B| ≈ 0
    * — the subset/quotation case (RealNews/C4-style dedup keys on
    * exactly this). Same bucketed candidate machinery and skew caps as
    * [[ngramJaccardPairs]].
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       maxShingleDf: Int = 1000): DataFrame =
    pairCommonCounts(docs, idCol, textCol, n, maxShingleDf)
      .withColumn("c_a_in_b", col("common").cast("double") / col("na").cast("double"))
      .withColumn("c_b_in_a", col("common").cast("double") / col("nb").cast("double"))
      .filter(greatest(col("c_a_in_b"), col("c_b_in_a")) >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("c_a_in_b"), 6).as("c_a_in_b"),
        round(col("c_b_in_a"), 6).as("c_b_in_a"))

  /** Shared candidate pipeline: per-pair common-shingle counts with
    * per-doc totals, `(id_a, id_b, na, nb, common)`.
    *
    * Strings are dropped for an 8-byte hash before the shuffle
    * (collision odds at 64 bits are negligible next to the sketch's
    * own error). Per-doc shingle counts ride along each exploded row
    * (size() of the already-built array — the shingling itself runs
    * once; Catalyst's CollapseProject keeps multiply-referenced
    * non-cheap aliases materialized). Two shuffles total: bucket by
    * shingle, then count per pair — the earlier shape spent two
    * window sorts and a self-join on the same answer.
    */
  private def pairCommonCounts(docs: DataFrame, idCol: String, textCol: String,
                               n: Int, maxShingleDf: Int): DataFrame = {
    val exploded = docs.select(col(idCol).as("doc_id"), col(textCol))
      .select(col("doc_id"), shingleHashes(col(textCol), n).as("sh_arr"))
      .select(col("doc_id"), size(col("sh_arr")).as("n_shingles"),
        explode(col("sh_arr")).as("sh"))
    // Capped collect: a stop-shingle's bucket buffer is bounded at
    // maxShingleDf+1 members instead of growing with its document
    // frequency before the size filter drops it (hot-key OOM guard).
    val buckets = exploded
      .groupBy(col("sh"))
      .agg(graft.functions.BoundedCollectList.column(
        struct(col("doc_id"), col("n_shingles")), maxShingleDf).as("members"))
      .filter(size(col("members")).between(2, maxShingleDf))
    MinHashDedup.explodePairs(buckets, "members")
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.n_shingles").as("na"), col("b.n_shingles").as("nb"))
      .agg(count(lit(1)).as("common"))
  }

  /** Cross-corpus n-gram Jaccard pairs (batch × index): same bucketed
    * shape as [[ngramJaccardPairs]], but the two corpora collect into
    * per-side capped arrays so only the `m_batch × m_index` cross
    * product ever explodes (see [[graft.operators.Contamination]] for
    * the measured rationale). Used by [[incrementalAgainst]].
    */
  private[dedup] def crossJaccardPairs(index: DataFrame, batch: DataFrame,
                                       idCol: String, textCol: String,
                                       n: Int, threshold: Double,
                                       maxShingleDf: Int): DataFrame = {
    def side(df: DataFrame, tag: Int): DataFrame =
      df.select(col(idCol).as("doc_id"), col(textCol).as("text"))
        .select(col("doc_id"), shingleHashes(col("text"), n).as("sh_arr"))
        .select(lit(tag).as("side"), col("doc_id"),
          size(col("sh_arr")).as("n_sh"), explode(col("sh_arr")).as("sh"))
    val buckets = side(index, 0).unionByName(side(batch, 1))
      .groupBy(col("sh"))
      .agg(
        graft.functions.BoundedCollectList.column(
          when(col("side") === 1, struct(col("doc_id"), col("n_sh"))), maxShingleDf).as("batches"),
        graft.functions.BoundedCollectList.column(
          when(col("side") === 0, struct(col("doc_id"), col("n_sh"))), maxShingleDf).as("indexes"))
      .filter(size(col("batches")) >= 1 && size(col("indexes")) >= 1 &&
        size(col("batches")) + size(col("indexes")) <= maxShingleDf)
    buckets
      .select(explode(col("batches")).as("b"), col("indexes"))
      .select(col("b"), explode(col("indexes")).as("i"))
      .groupBy(col("b.doc_id").as("batch_id"), col("i.doc_id").as("index_id"),
        col("b.n_sh").as("nb"), col("i.n_sh").as("ni"))
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("nb") + col("ni") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("batch_id"), col("index_id"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Incremental dedup for continual ingest: drop from `batch` every
    * document already in `index` — exactly (same normalized content) or
    * nearly (n-gram Jaccard ≥ `threshold` against ANY index doc). The
    * realistic shape for a growing 100 TB corpus: the index is the
    * accumulated curated set, the batch is today's crawl; index-side
    * work is one scan + the bucket shuffle, never an index-×-index
    * pairing. Returns the surviving batch rows.
    */
  def incrementalAgainst(index: DataFrame, batch: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 3, threshold: Double = 0.5,
                         maxShingleDf: Int = 1000): DataFrame = {
    // the index is the accumulated corpus — its hash set can never
    // broadcast at scale; shuffle_hash pins the content_hash-keyed
    // exchange instead of letting the planner try
    val indexHashes = index
      .select(md5(normText(col(textCol))).as("content_hash")).distinct()
    val exactDrop = batch
      .select(col(idCol), md5(normText(col(textCol))).as("content_hash"))
      .join(indexHashes.hint("shuffle_hash"), "content_hash")
      .select(col(idCol).as("__drop"))
    val nearDrop = crossJaccardPairs(index, batch, idCol, textCol, n, threshold, maxShingleDf)
      .select(col("batch_id").as("__drop"))
    batch.join(exactDrop.unionByName(nearDrop).distinct(),
      batch(idCol) === col("__drop"), "left_anti")
  }

  /** Exact incremental dedup with a Bloom pre-filter — the 100 TB shape
    * of "is today's doc already in the corpus". The accumulated index's
    * content hashes fold into ONE Bloom sketch (native
    * `graft_bloom_agg`, bytes ∝ `expectedItems`, independent of corpus
    * bytes — map-side partial merge, the shuffle carries sketch bytes
    * not hashes), the batch probes it with a codegen'd
    * `graft_might_contain` literal (the ~99% of rows the sketch clears
    * NEVER enter a shuffle), and only the candidates exact-join back
    * against the index's md5 set to kill false positives. Bloom has no
    * false negatives and the verify join is 128-bit-exact, so the
    * result is bit-identical to the plain exact anti-join — same
    * oracle, radically less shuffle at scale.
    */
  def incrementalExactBloom(index: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String,
                            expectedItems: Long = 4000000L,
                            nShards: Int = 64): DataFrame = {
    import org.apache.spark.sql.functions.call_function
    val h64 = xxhash64(normText(col(textCol)))
    // per-shard sketches, built DISTRIBUTED and joined to the batch by
    // shard — no driver collect, no plan literal. The index (and so
    // total sketch bytes) grows with the corpus, and a driver-merged
    // literal hits the JVM's 2 GB array ceiling exactly like the
    // pre-r14 frontier tier did; the sharded join is the same fix
    // (graft_bloom_probe's per-task shard cache amortizes the
    // deserialization to once per shard per task). Null/absent text:
    // Spark's xxhash64 maps a null input to the SEED constant, so
    // null-text rows hash like any value and may ride either branch —
    // exactness does not depend on the sketch for them (or anyone):
    // the md5 verify join decides, and md5(null) is null, which a
    // left_anti never matches — null-text batch rows always survive,
    // exactly like the plain anti-join. The coalesce(false) below only
    // covers a shard with NO sketch row (empty index side).
    val perShard = math.max(expectedItems / nShards, 1L)
    val sketches = index.select(h64.as("__h"))
      .withColumn("__shard", pmod(col("__h"), lit(nShards)).cast("int"))
      .groupBy(col("__shard"))
      .agg(call_function("graft_bloom_agg", col("__h"), lit(perShard)).as("__bf"))
      .filter(col("__bf").isNotNull)
    val probed = batch
      .withColumn("__h", h64)
      .withColumn("__shard", pmod(col("__h"), lit(nShards)).cast("int"))
      .join(sketches.hint("shuffle_hash"), Seq("__shard"), "left")
      .withColumn("__hit",
        coalesce(call_function("graft_bloom_probe",
          col("__shard"), col("__bf"), col("__h")), lit(false)))
      .drop("__bf", "__h", "__shard")
    val clear = probed.filter(!col("__hit"))
    val indexSet = index.select(md5(normText(col(textCol))).as("__md5")).distinct()
    val surviving = probed.filter(col("__hit"))
      .withColumn("__md5", md5(normText(col(textCol))))
      // the index md5 set is corpus-sized: pin shuffle_hash, never let
      // the planner broadcast it (the measured lshPairs OOM shape)
      .join(indexSet.hint("shuffle_hash"), Seq("__md5"), "left_anti")
      .drop("__md5")
    clear.unionByName(surviving).drop("__hit")
  }

  /** Connected-component style cluster assignment from a pair list:
    * each doc maps to the min id it is (transitively, one hop) paired
    * with. Full transitive closure needs iterative joins (GraphX-style
    * label propagation); one hop covers the dominant near-dup shape
    * (clusters of 2-3) and is a single shuffle.
    */
  def keepList(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val drop = pairs.select(col("id_b").as("drop_id")).distinct()
    docs.join(drop, col(idCol) === col("drop_id"), "left_anti")
  }

  /** QUALITY-AWARE cluster representatives: within each near-dup
    * component keep the HIGHEST-scoring member (ties to the smallest
    * id) instead of the min-id default — the pipeline choice that
    * retains the longest/cleanest copy of every duplicated document
    * (RefinedWeb/FineWeb keep-best-of-cluster). `scored` carries
    * (idCol, scoreCol); `components` is [[connectedComponents]]
    * output — docs absent from it are their own singletons and always
    * keep. Components table is pair-graph-sized (dups only), so it
    * broadcasts; the window partitions by component — dup-cluster
    * sized groups, never a global sort.
    */
  def keepBest(scored: DataFrame, idCol: String, scoreCol: String,
               components: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val j = scored
      .join(broadcast(components.withColumnRenamed("node", idCol)), Seq(idCol), "left")
      .withColumn("component", coalesce(col("cluster"), col(idCol)))
    val w = Window.partitionBy(col("component"))
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    j.withColumn("kept", (row_number().over(w) === 1).cast("int"))
      .select(col(idCol), col("component"), col("kept"), col(scoreCol))
  }

  /** Full transitive dedup clusters over the near-dup pair graph.
    * Output: (node, cluster) where cluster = the min doc id reachable
    * through pairs, one row per distinct endpoint. An edge with a null
    * endpoint joins nothing: its other endpoint is still a node, and a
    * null endpoint adds one (null, null) row.
    *
    * The edge list is pinned first (one count job), because `pairs` is
    * usually a whole candidate pipeline (ngram/minhash) that must run
    * once. Its pinned size then picks one of two ways, by the rule Spark
    * uses before collecting a join side to the driver for a broadcast:
    *
    *  - at most `spark.sql.autoBroadcastJoinThreshold` bytes (and ≤ 0
    *    turns this way off), with both id columns of one integral type:
    *    collect the edges and run union-find on the driver over primitive
    *    arrays — one collect job, and the output is a local relation
    *    that holds no pin. Near-dup graphs are sparse (a few edges per
    *    duplicated doc), so this is the common case.
    *  - otherwise min-label propagation rounds until fixpoint, bounded by
    *    `maxIters`. A round joins both ends of every edge to their
    *    labels, aggregates the neighbour minimum per node and per label
    *    node, and joins it back; a pointer-jumping self-join of that
    *    result (both sides recompute it) shortcuts label chains; then a
    *    checkpoint of the new labels and a separate convergence join
    *    against the old. That is about ten Spark jobs a round, and every
    *    graph takes at least two. Rounds grow with log(size): a
    *    3,200-node path with shuffled ids takes 11–12. The checkpoint
    *    truncates the lineage so round N does not replan rounds 1..N-1,
    *    and the superseded round releases at once; the output is the
    *    last round's kept checkpoint.
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
                          maxIters: Int = 20): DataFrame = pinned { pins =>
    val p = pins.once(pairs.select(col(idA).as("src"), col(idB).as("dst")))
    val threshold = p.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val integralIds = Seq("src", "dst").map(p.schema(_).dataType).distinct match {
      case Seq(ByteType | ShortType | IntegerType | LongType) => true
      case _ => false
    }
    if (threshold > 0 && integralIds &&
        p.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold) unionFind(p)
    else labelRounds(pins, p, maxIters)
  }

  /** [[connectedComponents]] on the driver: the collected (src, dst)
    * edges, ids sorted into one primitive array and unioned by index
    * with the smaller root kept, so every root is its set's min id.
    */
  private def unionFind(edges: DataFrame): DataFrame = {
    val rows = edges.collect()
    val ends = new scala.collection.mutable.ArrayBuilder.ofLong
    var nullEnd = false
    for (r <- rows; i <- 0 to 1)
      if (r.isNullAt(i)) nullEnd = true else ends += r.getAs[Number](i).longValue
    val ids = ends.result()
    java.util.Arrays.sort(ids)
    var n = 0
    for (i <- ids.indices) if (n == 0 || ids(n - 1) != ids(i)) { ids(n) = ids(i); n += 1 }
    def index(r: Row, i: Int): Int =
      java.util.Arrays.binarySearch(ids, 0, n, r.getAs[Number](i).longValue)
    val parent = Array.range(0, n)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (r <- rows if !r.isNullAt(0) && !r.isNullAt(1)) {
      val a = find(index(r, 0))
      val b = find(index(r, 1))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val idType = edges.schema("src").dataType
    val box: Long => Any = idType match {
      case ByteType => _.toByte
      case ShortType => _.toShort
      case IntegerType => _.toInt
      case _ => identity
    }
    val out = new java.util.ArrayList[Row](n + 1)
    for (i <- 0 until n) out.add(Row(box(ids(i)), box(ids(find(i)))))
    if (nullEnd) out.add(Row(null, null))
    // the rounds' schema: both columns take the edge list's id type and
    // are nullable when either id column is
    val nullable = edges.schema("src").nullable || edges.schema("dst").nullable
    edges.sparkSession.createDataFrame(out, StructType(Seq(
      StructField("node", idType, nullable), StructField("cluster", idType, nullable))))
  }

  /** [[connectedComponents]] as min-label propagation rounds over the
    * pinned edge list `p`; the output is the kept last-round checkpoint.
    */
  private def labelRounds(pins: Partitioning.Pins, p: DataFrame, maxIters: Int): DataFrame = {
    // reverse the cached rows; release once edges are pinned
    val edges = pins.checkpoint(
      p.union(p.select(col("dst").as("src"), col("src").as("dst"))))
    pins.release(p)
    var labels = pins.checkpoint(edges.select(col("src").as("node")).distinct()
      .withColumn("cluster", col("node")))
    var i = 0
    var converged = false
    while (!converged && i < maxIters) {
      // Root hooking: the smallest neighbour label reaches both the node
      // and the node its label names, so a whole label tree moves as one.
      // Messages to the node alone move a label about one hop a round: a
      // path with shuffled ids then needs ~n/3 rounds (11–23 at 40 nodes).
      val nbr = edges
        .join(labels.select(col("node").as("src"), col("cluster").as("src_cluster")), "src")
        .join(labels.select(col("node").as("dst"), col("cluster").as("dst_cluster")), "dst")
        .select(explode(array(col("src"), col("src_cluster"))).as("src"), col("dst_cluster"))
        .groupBy(col("src")).agg(min(col("dst_cluster")).as("nbr_cluster"))
      val viaEdges = labels.join(nbr, labels("node") === nbr("src"), "left")
        .select(labels("node"),
          least(labels("cluster"), coalesce(col("nbr_cluster"), labels("cluster"))).as("cluster"))
      // Pointer jumping: also adopt the label OF my current label (labels
      // join labels). Plain edge propagation needs diameter iterations;
      // with root hooking, this compression keeps rounds logarithmic.
      val viaLabels = viaEdges.as("x")
        .join(viaEdges.select(col("node").as("ln"), col("cluster").as("lc")).as("y"),
          col("x.cluster") === col("y.ln"), "left")
        .select(col("x.node").as("node"),
          least(col("x.cluster"), coalesce(col("lc"), col("x.cluster"))).as("cluster"))
      val updated = pins.checkpoint(viaLabels)
      val noChange = updated.as("u")
        .join(labels.withColumnRenamed("cluster", "old").as("l"), "node")
        .filter(col("cluster") =!= col("old"))
        .isEmpty
      pins.release(labels) // superseded round: its blocks must not pile up
      labels = updated
      converged = noChange
      i += 1
    }
    // A silent exit with unconverged labels would split clusters and let
    // near-duplicates survive curate() with no signal — fail instead.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters iterations " +
          "(component label depth still shrinking); raise maxIters")
    pins.keep(labels)
  }

  /** Persistable exact-prefix-join index: the continual-ingest form of
    * [[prefixJaccardPairs]]. Three parquet-able frames — the frozen
    * document-frequency table, the df-ordered prefix buckets, and the
    * full shingle sets — built ONCE over the accumulated corpus;
    * [[prefixJaccardAgainstIndex]] then dedups each day's batch
    * against them without re-shingling the corpus.
    *
    * Exactness across builds: the prefix theorem needs one total order
    * SHARED by both sides, not the "true" current df — so the batch
    * ranks its shingles under the INDEX's frozen (df, hash) order,
    * with unseen shingles at df 0 (they cannot be common with any
    * index doc, and the completeness argument is purely positional, so
    * where they land in the order is immaterial).
    */
  def buildPrefixIndex(corpus: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, tauNum: Int = 3, tauDen: Int = 5)
      : (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val sets = corpus.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .select(col("doc_id"), shingleHashes(col("__text"), n).as("sh_arr"))
      .filter(size(col("sh_arr")) > 0)
    val exploded = sets
      .select(col("doc_id"), size(col("sh_arr")).as("nsh"), explode(col("sh_arr")).as("sh"))
    val dfTable = exploded.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val prefixLen = col("nsh") - expr(s"(nsh * $tauNum + ${tauDen - 1}) div $tauDen") + lit(1)
    val prefixes = exploded.join(dfTable.hint("shuffle_hash"), "sh")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
      .filter(col("rk") <= prefixLen)
      .select(col("sh"), col("doc_id"), col("nsh"), col("rk"))
    (dfTable, prefixes, sets)
  }

  /** Batch × index exact Jaccard pairs: candidates from shared prefix
    * shingles under the index's frozen order, the same lossless PPJoin
    * length + positional filters as the self-join, then array verify
    * against both sides' sets. Returns (batch_id, index_id, na, nb,
    * common, jaccard) — na is the batch side.
    */
  def prefixJaccardAgainstIndex(dfTable: DataFrame, idxPrefixes: DataFrame,
                                idxSets: DataFrame, batch: DataFrame,
                                idCol: String, textCol: String,
                                n: Int = 3, tauNum: Int = 3, tauDen: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bSets = batch.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .select(col("doc_id"), shingleHashes(col("__text"), n).as("sh_arr"))
      .filter(size(col("sh_arr")) > 0)
    val bExploded = bSets
      .select(col("doc_id"), size(col("sh_arr")).as("nsh"), explode(col("sh_arr")).as("sh"))
    val prefixLen = col("nsh") - expr(s"(nsh * $tauNum + ${tauDen - 1}) div $tauDen") + lit(1)
    // unseen shingles rank rarest (df 0). Completeness is positional:
    // the theorem only needs "common tokens past the prefix number
    // fewer than the required overlap", which holds whatever occupies
    // the prefix slots — and an index-unseen shingle can never be a
    // common token anyway
    val bPrefix = bExploded.join(dfTable.hint("shuffle_hash"), Seq("sh"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
      .filter(col("rk") <= prefixLen)
      .select(col("sh"), col("doc_id").as("batch_id"),
        col("nsh").as("na"), col("rk").as("rka"))
    val o = expr(s"($tauNum * (na + nb) + ${tauNum + tauDen - 1}) div ${tauNum + tauDen}")
    val cands = bPrefix.join(
        idxPrefixes.select(col("sh"), col("doc_id").as("index_id"),
          col("nsh").as("nb"), col("rk").as("rkb")).hint("shuffle_hash"), "sh")
      .filter(col("nb") * tauDen >= col("na") * tauNum &&
        col("na") * tauDen >= col("nb") * tauNum)
      .groupBy(col("batch_id"), col("index_id"),
        col("na").cast("long").as("na"), col("nb").cast("long").as("nb"))
      .agg(max(least(col("na") - col("rka"), col("nb") - col("rkb"))).as("__best"))
      .filter(col("__best") + 1 >= o)
      .select(col("batch_id"), col("index_id"))
    cands
      .join(bSets.select(col("doc_id").as("batch_id"), col("sh_arr").as("__sa"))
        .hint("shuffle_hash"), "batch_id")
      .join(idxSets.select(col("doc_id").as("index_id"), col("sh_arr").as("__sb"))
        .hint("shuffle_hash"), "index_id")
      .select(col("batch_id"), col("index_id"),
        size(col("__sa")).cast("long").as("na"), size(col("__sb")).cast("long").as("nb"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("long").as("common"))
      .filter(col("common") * tauDen >= (col("na") + col("nb") - col("common")) * tauNum)
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("na") + col("nb") - col("common")).cast("double"), 6))
  }

  /** EXACT n-gram Jaccard self-join via prefix filtering (the
    * SSJoin/PPJoin candidate rule: Chaudhuri et al. ICDE'06, Bayardo
    * et al. WWW'07). Where [[ngramJaccardPairs]] buckets on EVERY
    * shingle and needs a document-frequency cap (dropping stop-shingle
    * pairs), this generates candidates only from each document's
    * PREFIX — its `|S| - ceil(tau*|S|) + 1` rarest shingles under one
    * global (df, hash) total order. The prefix-filter theorem makes
    * that lossless: two sets with Jaccard >= tau must collide inside
    * their prefixes, so the result equals the brute-force truth with
    * no frequency cutoff — the oracle brute-forces ALL shared-shingle
    * pairs and the gate proves nothing was lost.
    *
    * The threshold is the rational `tauNum/tauDen`; both the prefix
    * length (`n - ceil(tauNum*n/tauDen) + 1` via integer division) and
    * the final filter (`tauDen*common >= tauNum*(na+nb-common)`) are
    * pure integer arithmetic, so no IEEE boundary can flip a pair in
    * either engine.
    *
    * Prefix filtering ALONE collapses on low-entropy corpora — the
    * ScaleProbe's dup-dense 50k-doc corpus has a 36k-shingle vocab, and
    * "rarest-first" prunes nothing when nothing is rare: 31M distinct
    * candidates for 241k true pairs, all shipped to the array verify.
    * So the candidate aggregate applies the REST of the PPJoin battery,
    * both lossless:
    *   - length filter: J ≥ tau forces tau·|A| ≤ |B| ≤ |A|/tau;
    *   - positional filter: a shared prefix shingle at (1-based) ranks
    *     (i, j) bounds the overlap by `1 + min(|A|−i, |B|−j)`; a pair
    *     survives only if its BEST shared-prefix bound reaches the
    *     required overlap `ceil(tau/(1+tau)·(|A|+|B|))` (taking the max
    *     over shared shingles is a superset of PPJoin's first-match
    *     rule, so nothing true is lost).
    * Both run inside the pair aggregate that replaces dropDuplicates —
    * same exchange, no extra shuffle — and only survivors meet the
    * shingle-set arrays in the verify join.
    *
    * Scale shape: the df pass is one map-side-combined groupBy; rarity
    * re-join and candidate bucketing shuffle only (id, 8-byte hash)
    * rows, and only ~(1-tau) of them. `maxBucket` stays as a hot-key
    * OOM backstop; a trip would surface as a gate mismatch, not silent
    * loss. Verification re-joins the two shingle-set arrays per
    * surviving candidate pair (shuffle_hash — corpus-sized sides never
    * broadcast) and intersects in one codegen'd pass.
    */
  def prefixJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, tauNum: Int = 3, tauDen: Int = 5,
                         maxBucket: Int = 10000): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen, "tau must be in (0, 1]")
    import org.apache.spark.sql.expressions.Window
    val sets = docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .select(col("doc_id"), shingleHashes(col("__text"), n).as("sh_arr"))
      .filter(size(col("sh_arr")) > 0)
    val exploded = sets
      .select(col("doc_id"), size(col("sh_arr")).as("nsh"), explode(col("sh_arr")).as("sh"))
    // df via groupBy (map-side partial combine — a window count over a
    // hot shingle would funnel its rows into one task with no combine)
    val df = exploded.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // ceil(tauNum*n/tauDen) as integer: (tauNum*n + tauDen - 1) div tauDen
    val prefixLen = col("nsh") - expr(s"(nsh * $tauNum + ${tauDen - 1}) div $tauDen") + lit(1)
    val prefix = exploded.join(df.hint("shuffle_hash"), "sh")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
      .filter(col("rk") <= prefixLen)
    val buckets = prefix
      .groupBy(col("sh"))
      .agg(graft.functions.BoundedCollectList.column(
        struct(col("doc_id"), col("nsh"), col("rk")), maxBucket).as("members"))
      .filter(size(col("members")).between(2, maxBucket))
    val o = expr(s"($tauNum * (na + nb) + ${tauNum + tauDen - 1}) div ${tauNum + tauDen}")
    val cands = buckets
      .select(explode(col("members")).as("a"), col("members"))
      .select(col("a"), explode(col("members")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      // length filter before anything aggregates
      .filter(col("b.nsh") * tauDen >= col("a.nsh") * tauNum &&
        col("a.nsh") * tauDen >= col("b.nsh") * tauNum)
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.nsh").cast("long").as("na"), col("b.nsh").cast("long").as("nb"))
      .agg(max(least(col("a.nsh") - col("a.rk"), col("b.nsh") - col("b.rk"))).as("__best"))
      .filter(col("__best") + 1 >= o)
      .select(col("id_a"), col("id_b"))
    val sa = sets.select(col("doc_id").as("id_a"), col("sh_arr").as("__sa"))
    val sb = sets.select(col("doc_id").as("id_b"), col("sh_arr").as("__sb"))
    cands
      .join(sa.hint("shuffle_hash"), "id_a")
      .join(sb.hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
        size(col("__sa")).cast("long").as("na"), size(col("__sb")).cast("long").as("nb"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("long").as("common"))
      .filter(col("common") * tauDen >= (col("na") + col("nb") - col("common")) * tauNum)
      .withColumn("jaccard", round(col("common").cast("double") /
        (col("na") + col("nb") - col("common")).cast("double"), 6))
  }
}
