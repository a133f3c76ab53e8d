package graft.operators.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Partitioning.{Pins, pinned}

/** Okapi BM25 full-text retrieval over the corpus (beyond-parity,
  * SURVEY.md §8) — the lexical half of every RAG / data-curation
  * retrieval stack, and the standard relevance filter for targeted
  * corpus slicing ("give me the docs about X" at corpus scale).
  *
  * Scoring is the Lucene/ATIRE BM25 formulation with k1 = 6/5 and
  * b = 3/4 held as EXACT rationals so the whole per-term weight reduces
  * to integer arithmetic:
  *
  *   idf(t)      = ln( (N − df + 0.5) / (df + 0.5) + 1 )      — rounded
  *                 ONCE per distinct df to integer micros (≤ N distinct
  *                 values, the same single-rounding contract as TF-IDF);
  *   tfw(t, D)   = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
  *
  * with avgdl = T/N (total corpus tokens over doc count) the tf weight
  * cross-multiplies to the integer ratio
  *
  *   tfw = 22·tf·T / (T·(10·tf + 3) + 9·dl·N)
  *
  * quantized half-up to micros with one BIGINT division
  * (`(44·tf·T·10^6 + den) div (2·den)`), and each term's contribution
  * is `(idf_micros · tfw_micros + 5·10^5) div 10^6` — every step pure
  * integer, so scores hash-match any ANSI engine bit for bit (no float
  * accumulation anywhere). The widest intermediate, `44·tf·T·10^6`,
  * runs in DECIMAL(38,0) (a BIGINT form would wrap silently past
  * tf·T ≈ 2.1e11 — inside a 10^11-token corpus; decimal is exact to
  * tf·T ≈ 2.3e30) and the integral divide returns the micro weight to
  * BIGINT, identical to the narrow arithmetic wherever both are
  * defined.
  *
  * Scale shape: one corpus scan builds (doc, term, tf, dl); df is a
  * window count over the term partition (rows are distinct per doc, so
  * plain COUNT is document frequency — no countDistinct double
  * shuffle); corpus stats (N, T) join as a broadcast single row; the
  * query-term table is tiny by contract and BROADCASTs into the
  * postings, so the corpus never shuffles for the match — only
  * (query, doc, contribution) scalars reach the score aggregation, and
  * the final top-k is a per-query window over k·|queries| candidates.
  * For repeated querying, [[buildIndex]] persists the postings (sorted
  * by term for row-group skipping) so later queries touch only the
  * postings of their own terms — see [[scoreAgainstIndex]].
  *
  * Reference basis: dtle has no text retrieval (this is beyond-parity);
  * formula per Robertson & Zaragoza 2009, the +1 idf per Lucene's
  * BM25Similarity.
  * Its `graft_*` functions resolve through `call_function`: the session
  * needs [[graft.plans.GraftExtensions]], which [[graft.GraftSession.build]] adds.
  */
object Bm25 {

  /** Postings + corpus stats from one scan: (term, doc_id, tf, dl) with
    * df attached per term. Null-text docs are excluded (the corpus-wide
    * text contract); an empty string contributes its single ''-token
    * like every other text-derived operator.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val nonNull = docs.filter(col(textCol).isNotNull)
    // (dl, term, tf) fused in-row ([[graft.plans.TermFreqsUtil]]): the old
    // size(tokens) + explode(tokens) → groupBy(doc_id, dl, term) chain
    // tokenized every document twice and shuffled per-OCCURRENCE rows
    // into an aggregation whose groups were per-document anyway —
    // guide §1.2/§2.4; Bm25Spec pins the row-set equivalence. The df
    // window below is now the postings build's only exchange.
    val p = call_function("graft_term_freqs", col(textCol))
    val tf = nonNull
      .select(col(idCol).as("doc_id"), p.getField("dl").as("dl"),
        explode(p.getField("entries")).as("e"))
      .select(col("doc_id"), col("dl"),
        col("e.term").as("term"), col("e.tf").as("tf"))
    tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
  }

  /** Corpus stats broadcast row: (n_docs, total_tokens). */
  def corpusStats(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.tokens(col(textCol))).cast("long")).as("total_tokens"))

  /** Explode query strings to distinct match terms: (query_id, term).
    * Distinct per query — BM25 is a set-of-terms model; repeated query
    * terms do not double-score (the Robertson formulation's query-side
    * tf is omitted, as in Lucene).
    */
  def queryTerms(queries: DataFrame, qidCol: String, qtextCol: String): DataFrame =
    queries.filter(col(qtextCol).isNotNull)
      .select(col(qidCol).as("query_id"),
        explode(array_distinct(TextAnalysis.tokens(col(qtextCol)))).as("term"))

  /** The ONE scoring expression both [[scores]] and [[percolate]]
    * apply to a joined (tf, dl, df, n_docs, total_tokens) row set
    * (they previously duplicated it — review catch). The tf-weight
    * numerator `44·tf·T·10^6` runs in DECIMAL(38,0): the BIGINT form
    * wrapped silently past tf·T ≈ 2.1e11 (inside a ~1e11-token
    * corpus); decimal carries it exactly to tf·T ≈ 2.3e30 — beyond any
    * corpus — and the integral divide lands back in BIGINT micros, so
    * results are bit-identical to the narrow form wherever both are
    * defined. idf·tfw ≤ 1.4e7·2.2e6 ≈ 3e13 keeps `contrib` in BIGINT.
    */
  private def withScoreCols(joined: DataFrame): DataFrame =
    joined
      .withColumn("idf_micros",
        round(log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
          * lit(1e6)).cast("long"))
      .withColumn("den",
        expr("cast(total_tokens as decimal(38,0)) * (10 * tf + 3) + " +
          "9 * cast(dl as decimal(38,0)) * n_docs"))
      .withColumn("tfw_micros",
        expr("(44 * cast(tf as decimal(38,0)) * total_tokens * 1000000 + den) div (2 * den)"))
      .withColumn("contrib",
        expr("(idf_micros * tfw_micros + 500000) div 1000000"))

  /** Unranked BM25 scores: (query_id, doc_id, score_micros,
    * n_terms_hit) for every doc matching ≥ 1 query term. The postings
    * side carries df already; stats ride in as one broadcast row.
    */
  def scores(post: DataFrame, stats: DataFrame, qterms: DataFrame): DataFrame =
    withScoreCols(post
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(stats)))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score_micros"),
        count(lit(1)).as("n_terms_hit"))

  /** Top-k docs per query by BM25, the one-shot path (postings built in
    * the same plan). Tie-break (score DESC, doc_id ASC) keeps the cut
    * total-ordered.
    */
  def topK(docs: DataFrame, queries: DataFrame, idCol: String, textCol: String,
           qidCol: String, qtextCol: String, k: Int = 10): DataFrame =
    rankTopK(scores(postings(docs, idCol, textCol), corpusStats(docs, textCol),
      queryTerms(queries, qidCol, qtextCol)), k)

  /** The shared rank tail: per-query top-k with the canonical
    * (score DESC, doc_id ASC) tie-break.
    */
  def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("score_micros").desc, col("doc_id").asc)))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"), col("doc_id"),
        col("score_micros"), col("n_terms_hit"))

  /** Build the persistable inverted index: postings written SORTED BY
    * term inside each term-hash partition, so a probe for a handful of
    * query terms prunes to a few row groups via parquet min/max stats
    * instead of scanning the corpus posting list — the pay-once search
    * structure behind every repeated-retrieval workload. Returns
    * (postings, stats) for immediate use; `dir` non-empty also persists
    * both (postings under dir/postings, stats under dir/stats).
    */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
                 dir: String = ""): (DataFrame, DataFrame) = {
    val post = postings(docs, idCol, textCol)
    val stats = corpusStats(docs, textCol)
    if (dir.nonEmpty) {
      post.repartition(col("term")).sortWithinPartitions(col("term"))
        .write.mode("overwrite").parquet(s"$dir/postings")
      stats.write.mode("overwrite").parquet(s"$dir/stats")
    }
    (post, stats)
  }

  /** Search a PERSISTED index (the [[buildIndex]] layout read back from
    * parquet): df/dl/tf come from the stored postings, so the query
    * pays only the pushed-down postings scan for its own terms plus a
    * k·|queries| window — the corpus text is never re-tokenized.
    */
  def scoreAgainstIndex(post: DataFrame, stats: DataFrame, queries: DataFrame,
                        qidCol: String, qtextCol: String, k: Int = 10): DataFrame =
    rankTopK(scores(post, stats, queryTerms(queries, qidCol, qtextCol)), k)

  /** Distinct per-term document frequencies of a postings table — the
    * tiny (vocab-sized) side table the percolator broadcasts.
    */
  def termDf(post: DataFrame): DataFrame =
    post.select(col("term"), col("df")).distinct()

  // ---- versioned index: rebuild-and-swap -------------------------------
  //
  // The deployed retrieval/percolator shape: a standing index serves
  // queries under FROZEN statistics while the corpus keeps growing;
  // periodically the postings are re-derived from the current corpus
  // and the index is repointed ATOMICALLY — readers either see the old
  // version whole or the new version whole, never a half-written mix.
  //
  // Layout: dir/v<NNNNNN>/{postings,stats} + dir/_CURRENT, a one-line
  // pointer file naming the active version. The pointer is written to a
  // temp name and renamed into place — rename is the atomic primitive
  // on POSIX and HDFS (object stores substitute a conditional put).
  // Old versions stay on disk until pruned, so an in-flight query that
  // resolved the pointer before a swap finishes its scan against intact
  // files.

  private def currentFile(dir: String) = java.nio.file.Paths.get(dir, "_CURRENT")

  // Pointer-publish critical section: a per-dir JVM monitor (same-process
  // writers) nested around an OS FileLock (cross-process writers; the lock
  // dies with its holder, so no stale-lockfile recovery is ever needed).
  // POSIX only — on an object store replace with a conditional put.
  private val pointerMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withPointerLock[A](dir: String)(body: => A): A = {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val mon = pointerMonitors.computeIfAbsent(
      Paths.get(dir).toAbsolutePath.normalize.toString, _ => new Object)
    mon.synchronized {
      Files.createDirectories(Paths.get(dir))
      val ch = java.nio.channels.FileChannel.open(
        Paths.get(dir, "_CURRENT.lockfile"),
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lk = ch.lock()
        try body finally lk.release()
      } finally ch.close()
    }
  }

  /** The active version name (e.g. "v000002"), if the index exists. */
  def currentIndexVersion(dir: String): Option[String] = {
    val f = currentFile(dir)
    if (java.nio.file.Files.exists(f))
      Some(java.nio.file.Files.readString(f).trim).filter(_.nonEmpty)
    else None
  }

  /** Open the active version of a versioned index: resolves `_CURRENT`
    * once at call time (the freeze point — a later swap does not move
    * this handle) and reads its postings/stats.
    */
  def openIndex(spark: org.apache.spark.sql.SparkSession,
                dir: String): (DataFrame, DataFrame) = {
    val v = currentIndexVersion(dir).getOrElse(
      throw new IllegalStateException(s"no _CURRENT index under $dir"))
    (spark.read.parquet(s"$dir/$v/postings"), spark.read.parquet(s"$dir/$v/stats"))
  }

  /** Re-derive the index from `docs` into the next version dir, then
    * atomically repoint `_CURRENT`. Queries opened before the swap keep
    * their frozen statistics; queries opened after see the new corpus.
    * Returns the new version name.
    */
  def refreshIndex(docs: DataFrame, idCol: String, textCol: String,
                   dir: String): String = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // Build into a WRITER-UNIQUE staging dir first: two concurrent
    // refreshes that both read the same _CURRENT would otherwise
    // compute the same next version and interleave writes into ONE
    // directory — the pointer rename protects readers, not writers.
    // The staging dir then renames (atomic, same filesystem) into its
    // version slot; losing a version-number race just means retrying
    // the rename under the next number — the built files never mix.
    Files.createDirectories(Paths.get(dir))
    val stage = s"$dir/.stage-${java.util.UUID.randomUUID().toString.take(8)}"
    buildIndex(docs, idCol, textCol, stage)
    var next = "v%06d".format(
      currentIndexVersion(dir).map(_.stripPrefix("v").toInt).getOrElse(0) + 1)
    var placed = false
    while (!placed) {
      try {
        Files.move(Paths.get(stage), Paths.get(dir, next),
          StandardCopyOption.ATOMIC_MOVE)
        placed = true
      } catch {
        // a populated target dir surfaces differently by filesystem AND
        // by race timing: FileAlreadyExistsException,
        // DirectoryNotEmptyException, or (rename(2) returning ENOTEMPTY
        // under ATOMIC_MOVE) a plain FileSystemException — measured in
        // the 6-writer concurrency spec. All mean "version taken, try
        // next", but ONLY when the target actually exists; anything
        // else (EXDEV, permissions) must stay loud.
        case e: java.nio.file.FileSystemException
            if Files.exists(Paths.get(dir, next)) =>
          next = "v%06d".format(next.stripPrefix("v").toInt + 1)
      }
    }
    // never repoint BACKWARDS: if a concurrent writer already published
    // a higher version while we were renaming, leave its pointer alone
    // (our version stays on disk; prune will retire it in order). The
    // read+move runs under the pointer lock — without it two writers
    // finishing near-simultaneously could interleave between the check
    // and the move and let the LOWER version repoint last.
    withPointerLock(dir) {
      val stillNewest = currentIndexVersion(dir)
        .forall(_.stripPrefix("v").toInt < next.stripPrefix("v").toInt)
      if (stillNewest) {
        val tmp = Paths.get(dir, s"_CURRENT.$next.tmp")
        Files.writeString(tmp, next)
        Files.move(tmp, currentFile(dir),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      }
    }
    next
  }

  /** Delete all but the `keep` newest version dirs (never the current
    * one). Run well after a swap, once in-flight readers of older
    * versions have drained.
    */
  def pruneIndexVersions(dir: String, keep: Int = 2): Seq[String] = {
    import java.nio.file.{Files, Paths}
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Nil
    val cur = currentIndexVersion(dir)
    // Files.list/walk hold a directory handle until closed — leak-free
    // via Using, and deletes tolerate files vanishing underneath (a
    // concurrent prune or an aborted staging dir being cleaned up).
    val versions = scala.util.Using.resource(Files.list(d)) { s =>
      s.iterator().asScalaSeq
        .filter(p => p.getFileName.toString.matches("v\\d{6}"))
        .map(_.getFileName.toString).sorted
    }
    val doomed = versions.dropRight(keep).filterNot(cur.contains)
    doomed.foreach { v =>
      val root = Paths.get(dir, v)
      scala.util.Using.resource(Files.walk(root)) { s =>
        s.sorted(java.util.Comparator.reverseOrder())
          .iterator().forEachRemaining(p =>
            try Files.deleteIfExists(p)
            catch { case _: java.nio.file.NoSuchFileException => () })
      }
    }
    doomed
  }

  private implicit class IterOps[A](it: java.util.Iterator[A]) {
    def asScalaSeq: Seq[A] = {
      val b = Seq.newBuilder[A]
      while (it.hasNext) b += it.next()
      b.result()
    }
  }

  /** Match a batch of INCOMING docs against a STANDING query set under
    * the frozen statistics of a stored index (df/N/T from the
    * reference corpus, dl from the incoming doc) — the
    * Elasticsearch-percolator shape: alerting/routing on a document
    * stream, where the queries stand still and the docs flow. Terms
    * unseen by the index carry df = 0 (maximal idf — a brand-new term
    * is maximally distinctive). Emits EVERY (query, doc) match with
    * its score, no top-k: alert consumers threshold downstream.
    *
    * Works identically per micro-batch inside `foreachBatch` (parity
    * pinned in Bm25Spec): the broadcast sides (query terms, term dfs,
    * the stats row) are batch-invariant, so each micro-batch pays only
    * its own tokenize + two broadcast joins — no state, no shuffle of
    * anything corpus-sized.
    */
  def percolate(tdf: DataFrame, stats: DataFrame, queries: DataFrame,
                qidCol: String, qtextCol: String,
                batch: DataFrame, idCol: String, textCol: String): DataFrame = {
    val qt = queryTerms(queries, qidCol, qtextCol)
    // same in-row (dl, term, tf) fusion as [[postings]] — a micro-batch
    // pays only the single tokenize pass, no per-batch aggregation
    val p = call_function("graft_term_freqs", col(textCol))
    val btf = batch.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"), p.getField("dl").as("dl"),
        explode(p.getField("entries")).as("e"))
      .select(col("doc_id"), col("dl"),
        col("e.term").as("term"), col("e.tf").as("tf"))
    withScoreCols(btf
      .join(broadcast(qt), Seq("term"))
      .join(broadcast(tdf), Seq("term"), "left")
      .withColumn("df", coalesce(col("df"), lit(0L)))
      .join(broadcast(stats)))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib")).as("score_micros"),
        count(lit(1)).as("n_terms_hit"))
  }

  /** Streaming percolation over a VERSIONED index: the standing-query
    * stream runs in `foreachBatch`, and each micro-batch resolves
    * `_CURRENT` at ITS OWN boundary — so a [[refreshIndex]] swap
    * mid-stream takes effect exactly at the next batch: frozen old
    * statistics until the swap, new statistics after, never a mix
    * inside one batch ([[openIndex]]'s freeze point, through the
    * stream). The broadcast sides (term dfs, the stats row) are
    * re-derived once per VERSION, not per batch: they are eagerly
    * localCheckpointed (vocab-sized) under one [[graft.operators.Partitioning.Pins]]
    * per version, released when a swap replaces it, so a long-running
    * stream pins at most one version's sides.
    *
    * `sink(matches, batchId, version)` receives each batch's
    * percolation with the version it scored under — alert consumers
    * log it so a score step at a swap is attributable. `matches` reads
    * the version's sides, so a sink consumes it before returning.
    */
  def percolateStreamVersioned(dir: String, queries: DataFrame,
      qidCol: String, qtextCol: String,
      stream: DataFrame, idCol: String, textCol: String)
      (sink: (DataFrame, Long, String) => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = queries.sparkSession
    var held: (String, Pins, DataFrame, DataFrame) = null
    stream.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val v = currentIndexVersion(dir).getOrElse(
        throw new IllegalStateException(s"no _CURRENT index under $dir"))
      if (held == null || held._1 != v) {
        val (post, st) = openIndex(spark, dir)
        val pins = new Pins
        val next = (v, pins, pins.checkpoint(termDf(post)), pins.checkpoint(st))
        if (held != null) held._2.releaseAll()
        held = next
      }
      sink(percolate(held._3, held._4, queries, qidCol, qtextCol,
        batch, idCol, textCol), batchId, v)
      ()
    }.start()
  }

  /** Pseudo-relevance-feedback expansion (the RM3 shape, integer-exact):
    * the initial BM25 top-`fb` docs per query are assumed relevant,
    * their highest-weight terms (Σ tf·idf_micros over the feedback
    * docs, original query terms excluded) join the query, and the
    * expanded term set retrieves the final top-k — the classic fix for
    * vocabulary mismatch ("car" finds docs that only say "automobile").
    *
    * Scale shape: two passes over the SAME postings plan; the feedback
    * pool (fb·|queries| rows) BROADCASTS into the postings to collect
    * candidate expansion terms, so the corpus again never shuffles;
    * expansion scoring and both rank cuts are per-query windows over
    * pool-sized data. Every weight is BIGINT (tf · once-rounded idf
    * micros), so the whole two-round retrieval hash-oracles.
    */
  def prfTopK(docs: DataFrame, queries: DataFrame, idCol: String, textCol: String,
              qidCol: String, qtextCol: String, k: Int = 10, fb: Int = 5,
              expand: Int = 3): DataFrame = pinned { pins =>
    // postings (corpus tokenize + df window) feed three consumers —
    // feedback scoring, expansion mining, final scoring — and stats
    // (a corpus scan) broadcast into each: materialized once, or both
    // derivations re-run per consumer (Partitioning.Pins.once has the
    // mechanism)
    val post = pins.once(postings(docs, idCol, textCol))
    val stats = pins.once(corpusStats(docs, textCol))
    val qt = queryTerms(queries, qidCol, qtextCol)
    val feedback = rankTopK(scores(post, stats, qt), fb)
      .select(col("query_id"), col("doc_id"))
    val expTerms = post
      .join(broadcast(feedback), Seq("doc_id"))
      .join(broadcast(qt), Seq("query_id", "term"), "left_anti")
      .join(broadcast(stats))
      .withColumn("w", col("tf") *
        round(log((col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
          * lit(1e6)).cast("long"))
      .groupBy(col("query_id"), col("term"))
      .agg(sum(col("w")).as("w"))
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("w").desc, col("term").asc)))
      .filter(col("rk") <= expand)
      .select(col("query_id"), col("term"))
    // top-k-sized output: eager checkpoint before the postings/stats
    // pins drop (Partitioning.pinned has the release rule)
    rankTopK(scores(post, stats, qt.union(expTerms)), k).localCheckpoint(true)
  }
}
