package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Partitioning.pinned

/** Persistent crawl-frontier maintenance — the seen-set as a STORED,
  * sharded url-hash index probed per discovery batch, never a
  * broadcast (or driver copy) of the crawled set.
  *
  * A real frontier's seen-set is crawl-sized — billions of URLs at
  * 100 TB — while each discovery batch is comparatively small and, in
  * steady state, MOSTLY already seen. The layout and probe exploit
  * both facts:
  *
  * `<dir>/urls/` — parquet, directory-partitioned by
  * `shard = pmod(xxhash64(url), nShards)`, carrying
  * `(url_md5, url, last_crawl)`. Partitioning by a hash shard means a
  * probe that only touches some shards reads only those directories
  * (genuine partition pruning at the scan), and appends land as new
  * files under existing shard directories — no rewrite, no compaction
  * coupling.
  *
  * `<dir>/bloom/` — parquet, PER-SHARD sketch rows `(shard, bf)`: each
  * build/append writes one `graft_bloom_agg` row per touched shard,
  * sized `expectedItems / nShards`. Sharding the sketch is what keeps
  * the tier alive at crawl scale — a single merged sketch for 10⁹–10¹⁰
  * URLs is a multi-GB byte array (past ~2.3 B items it cannot even
  * exist: JVM arrays cap at 2 GB) that would have to be driver-merged
  * and shipped to every task as a plan literal. Per shard, every
  * sketch stays `total/nShards` sized, merging is a distributed
  * per-shard aggregate, and NOTHING sketch-like ever lands on the
  * driver or in a literal, at any crawl size.
  *
  * Probe ([[probeNew]]): candidates compute their shard and join the
  * per-shard sketch rows on it (shuffle-hash — the sketch side must
  * never broadcast: its total bytes are crawl-proportional), then test
  * membership via `graft_bloom_probe`, which deserializes each shard's
  * sketch once per task ([[graft.plans.BloomShardProbe]]). No false
  * negatives, so the ~all genuinely-new URLs of a discovery batch that
  * miss their sketch are ACCEPTED without touching the index at all.
  * Only sketch hits (true dups + ~1% false positives) verify against
  * the stored md5 set, scanning only the shards the survivors actually
  * hash into and joining shuffle-hash on the 128-bit key — so the
  * result is bit-identical to the plain `left_anti` against the full
  * crawled set (the oracle states exactly that), at a fraction of its
  * IO and shuffle. Worst case (a replayed batch that is 100% seen)
  * degrades to scanning the touched shards — still never a broadcast
  * and never a driver-side set.
  *
  * Recrawl selection ([[recrawlDue]]): sitemap `lastmod` updates join
  * the SEEN side of the index (same pruned-shard probe) and return
  * URLs whose content changed after their stored `last_crawl` — the
  * age-based re-fetch feed that complements the new-URL feed.
  *
  * Concurrency contract: ONE writer at a time, enforced — every
  * mutating entry point takes an exclusive `<dir>/_writer.lock` lease
  * (atomic create-if-absent: HDFS natively, `file://` via NIO's
  * O_EXCL; S3 has no atomic create, so run a single writer by
  * construction there) and a second concurrent writer fails fast
  * instead of silently corrupting the urls/bloom invariants. Probes
  * may run concurrently with a maintenance pass: compactions
  * ([[compactIndex]], the bounded sketch compaction inside
  * [[appendBatch]]) publish NEW versioned dirs through numbered
  * pointer files and retain the previous generation until the next
  * pass, so a probe resolves one complete generation and completes
  * against it ([[resolveDirs]]) — never a mid-rename mix. The
  * retention bound is ONE generation: a probe still in flight after
  * TWO subsequent maintenance publications can find its pinned dirs
  * reclaimed (a loud missing-file failure, the same
  * `keepManifests`-style bound `CdxIndex` documents) — serialize
  * probes against repeated maintenance if they can straddle two
  * passes. The other caveat is an in-flight [[appendBatch]]'s tail:
  * between
  * the urls write and the sketch write a concurrent probe can miss
  * the in-flight batch and re-accept its URLs (a duplicate fetch, not
  * corruption — membership never regresses because sketches only gain
  * members). [[buildIndex]] is construction, not maintenance: it
  * resets the layout in place and offers no concurrent-probe
  * guarantee. The streaming [[ingest]] loop serializes micro-batches,
  * so it satisfies every clause by construction.
  *
  * Reference behavior: dtle's incremental replication keeps a
  * persisted applied-GTID ledger consulted per batch rather than
  * re-reading history (drivers/mysql/applier.go); this is the same
  * contract for crawl URLs, Spark-shaped.
  */
object CrawlFrontier {

  private def shardCol(urlCol: String, nShards: Int): Column =
    pmod(xxhash64(col(urlCol)), lit(nShards.toLong)).cast("int")

  /** Per-shard sketch capacity: the url hash is uniform, so shards fill
    * evenly at `expectedItems / nShards` each.
    */
  private def perShardItems(expectedItems: Long, nShards: Int): Long =
    math.max(expectedItems / nShards, 1L)

  /** Build (overwrite) the index from the crawled history.
    * `lastCrawlCol` is any orderable recrawl clock — epoch day, fetch
    * timestamp — stored per URL for [[recrawlDue]].
    */
  def buildIndex(crawled: DataFrame, urlCol: String, lastCrawlCol: Column,
      dir: String, nShards: Int = 64, expectedItems: Long = 4000000L): Unit = {
    require(nShards > 0, "nShards must be positive")
    val spark = crawled.sparkSession
    // BloomFilterAggregate silently CLAMPS its item estimate to the
    // maxNumItems conf (default 4M) AND its bit budget (items·8) to
    // the maxNumBits conf (default 64Mi bits ≈ 8.4M items) — either
    // clamp degrades the advertised fpp without any signal, so an
    // over-capacity shard must fail loudly at build time. Raising
    // nShards is the fix (NOT raising maxNumItems, which would just
    // run into the bit clamp): 10¹⁰ expected URLs at 4096 shards is
    // ~2.4M per shard, comfortably inside both engine caps.
    val itemCap = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems").toLong
    val bitCap = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
    val cap = math.min(itemCap, bitCap / 8)
    require(perShardItems(expectedItems, nShards) <= cap,
      s"per-shard sketch capacity ${perShardItems(expectedItems, nShards)} exceeds " +
        s"the engine's bloom caps (maxNumItems=$itemCap, maxNumBits/8=${bitCap / 8}) — " +
        s"raise nShards to at least ${math.ceil(expectedItems.toDouble / cap).toInt}")
    withWriterLock(spark, dir) {
      // a REBUILD is construction, not maintenance: reset any
      // versioned layout a previous life left (a stale CURRENT
      // pointing past the legacy names would silently serve the OLD
      // index to every reader after this overwrite)
      val dirPath = new org.apache.hadoop.fs.Path(dir)
      val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(dirPath)) {
        fs.listStatus(dirPath).map(_.getPath)
          .filter(p => p.getName.matches("(urls|bloom)-\\d{8}") ||
            p.getName.matches("current-\\d{8}(\\.tmp)?"))
          .foreach(fs.delete(_, true))
      }
      writeUrls(crawled, urlCol, lastCrawlCol, nShards, expectedItems,
        s"$dir/urls", s"$dir/bloom", overwrite = true)
      spark.createDataFrame(Seq((nShards, expectedItems)))
        .toDF("n_shards", "expected_items")
        .write.mode("overwrite").parquet(s"$dir/meta")
    }
  }

  /** Append a newly-crawled batch: new files under the existing shard
    * directories plus one more sketch row per touched shard — nothing
    * is rewritten (until the bounded sketch-table compaction; see
    * [[compactBloom]]). Appending an already-indexed URL (a re-crawl
    * recorded with a newer `lastCrawlCol`) adds a second row for that
    * URL: membership probes dedup on the md5 ([[probeNew]]) and
    * recrawl selection takes the LATEST clock ([[recrawlDue]]'s max),
    * so duplicates are only a storage cost until a compaction pass
    * rewrites the shard. Probing concurrently with the tail of an
    * append can re-accept the in-flight batch's URLs (see the class
    * doc) — callers needing strict once-delivery serialize probes
    * against appends, as [[ingest]] does. The appended files land in
    * the CURRENT generation's dirs ([[resolveDirs]]); a probe pinned
    * to the previous generation simply does not see them yet.
    */
  def appendBatch(newlyCrawled: DataFrame, urlCol: String, lastCrawlCol: Column,
      dir: String): Unit = {
    val spark = newlyCrawled.sparkSession
    withWriterLock(spark, dir) {
      val (nShards, expectedItems) = readMeta(spark, dir)
      val (urlsDir, bloomDir) = resolveDirs(spark, dir)
      writeUrls(newlyCrawled, urlCol, lastCrawlCol, nShards, expectedItems,
        urlsDir, bloomDir, overwrite = false)
      compactBloom(spark, dir, nShards)
    }
  }

  /** Keep the sketch table bounded: every append adds a row per touched
    * shard, and probes pre-merge a shard's rows per batch — without
    * compaction a long-lived frontier's probe-side merge work would
    * grow linearly with crawl age. Past `2 * nShards` rows, the table
    * rewrites to ONE row per shard via a DISTRIBUTED per-shard merge
    * (`graft_bloom_merge` over `collect_list` — same m/k since
    * `expectedItems` is pinned, so `mergeInPlace` is exact; the driver
    * never touches sketch bytes). The rewrite lands in a NEW versioned
    * dir published through the CURRENT pointer ([[publishCurrent]]),
    * retaining the previous sketch dir one generation — a probe that
    * resolved before this compaction reads its pinned (complete,
    * slightly staler) sketch table instead of racing a directory
    * rename; membership never regresses because the retained table
    * covers the same URL set minus at most the in-flight append, whose
    * probe-concurrency caveat the class doc already documents.
    */
  private def compactBloom(spark: SparkSession, dir: String, nShards: Int): Unit = {
    val (urlsDir, bloomDir) = resolveDirs(spark, dir)
    if (parquetRowCount(spark, bloomDir) > 2L * nShards) {
      val dirPath = new org.apache.hadoop.fs.Path(dir)
      val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
      val next = f"bloom-${nextVersion(fs, dirPath)}%08d"
      spark.read.parquet(bloomDir)
        .groupBy(col("shard"))
        .agg(call_function("graft_bloom_merge", collect_list(col("bf"))).as("bf"))
        .filter(col("bf").isNotNull)
        .write.mode("overwrite").parquet(s"$dir/$next")
      val urlsName = new org.apache.hadoop.fs.Path(urlsDir).getName
      publishCurrent(fs, dirPath, urlsName, next,
        retain = Set(urlsName, new org.apache.hadoop.fs.Path(bloomDir).getName))
    }
  }

  /** Rewrite the index with ONE row per URL (latest `last_crawl`) and
    * one fresh sketch row per shard — the periodic maintenance pass
    * that reclaims the storage growth [[appendBatch]] trades for
    * append-only writes (re-crawled URLs accumulate a row per crawl;
    * probes stay correct without compaction, this is purely a
    * storage/scan-cost pass). The rewrite lands in NEW versioned dirs
    * (`urls-NNNNNNNN`/`bloom-NNNNNNNN`) published atomically through
    * the `CURRENT` pointer, and the PREVIOUS generation's dirs are
    * retained until the next compaction — readers never see a MIX of
    * old and new rows, a crash before the publish leaves the old
    * generation live and complete, and a probe in flight ACROSS the
    * compaction completes against its pinned generation (the same
    * availability contract as `CdxIndex`'s manifest; the old staged-
    * rename design failed such probes loudly on renamed-away files).
    * Holds the writer lease like every mutator.
    */
  def compactIndex(spark: SparkSession, dir: String): Unit = withWriterLock(spark, dir) {
    val (nShards, expectedItems) = readMeta(spark, dir)
    val (urlsDir, bloomDir) = resolveDirs(spark, dir)
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    val v = nextVersion(fs, dirPath)
    val (newUrls, newBloom) = (f"urls-$v%08d", f"bloom-$v%08d")
    val urls = spark.read.parquet(urlsDir)
      .groupBy(col("url_md5"), col("url"))
      .agg(max(col("last_crawl")).as("last_crawl"))
      .withColumn("shard", shardCol("url", nShards))
    urls.repartition(col("shard")) // one file per shard (see buildIndex)
      .write.mode("overwrite").partitionBy("shard").parquet(s"$dir/$newUrls")
    // fresh per-shard sketches over the deduped set replace the append trail
    spark.read.parquet(s"$dir/$newUrls")
      .select(col("url"), shardCol("url", nShards).as("shard"))
      .groupBy(col("shard"))
      .agg(call_function("graft_bloom_agg", xxhash64(col("url")),
        lit(perShardItems(expectedItems, nShards))).as("bf"))
      .filter(col("bf").isNotNull)
      .write.mode("overwrite").parquet(s"$dir/$newBloom")
    publishCurrent(fs, dirPath, newUrls, newBloom,
      retain = Set(new org.apache.hadoop.fs.Path(urlsDir).getName,
        new org.apache.hadoop.fs.Path(bloomDir).getName))
  }

  /** The batch rows whose `urlCol` is NOT in the index — bit-identical
    * to `batch LEFT ANTI JOIN index ON url` (null URLs kept, as an
    * anti-join would), via per-shard Bloom prefilter + pruned-shard
    * md5 verify (see class doc). All columns of `batch` ride through.
    *
    * Evaluation contract: the batch plan is consumed up to three
    * times (clear filter, shard discovery, verify join) — callers
    * with an expensive upstream should pass a persisted frame, as
    * [[ingest]] does; discovery batches are small relative to the
    * index, so this is the same probe-side trade
    * [[graft.operators.dedup.Dedup.incrementalExactBloom]] makes.
    */
  def probeNew(spark: SparkSession, dir: String, batch: DataFrame, urlCol: String): DataFrame = {
    val (nShards, _) = readMeta(spark, dir)
    // ONE generation resolution for the whole probe: sketch prefilter
    // and md5 verify read the SAME pinned (urls, bloom) pair, so a
    // compaction publishing mid-probe cannot mix generations
    val (urlsDir, bloomDir) = resolveDirs(spark, dir)
    // eager checkpoint: `probed` feeds THREE consumers (the clear
    // branch, the shards collect, the verify anti-join), and Catalyst
    // shares no subtrees — the batch-sized bloom probe ran three times
    // per call (guide §5; the WarcIo.replay precedent — checkpoint
    // blocks are ContextCleaner-reaped with the output)
    val probed = bloomProbed(spark, bloomDir, batch, urlCol, nShards) match {
      case Some(p) => p.localCheckpoint(true)
      case None => return batch // empty index: everything is new
    }
    val clear = probed.filter(!col("__hit")).drop("__shard")
    val candidates = probed.filter(col("__hit"))
      .withColumn("__md5", md5(col(urlCol)))
    // shards the survivors actually occupy — ≤ nShards ints, driver-safe
    val shards = candidates.select(col("__shard")).distinct()
      .collect().map(_.getInt(0))
    val verified =
      if (shards.isEmpty) candidates.drop("__md5", "__shard")
      else {
        // shard ∈ … is a PARTITION filter on the parquet source: only
        // the touched directories are read; the anti-join shuffles on
        // the 128-bit key, shuffle_hash pinned (the index side must
        // never be broadcast — it is crawl-sized)
        val seen = spark.read.parquet(urlsDir)
          .filter(col("shard").isin(shards.map(Integer.valueOf): _*))
          .select(col("url_md5").as("__md5")).distinct()
        candidates.join(seen.hint("shuffle_hash"), Seq("__md5"), "left_anti")
          .drop("__md5", "__shard")
      }
    clear.unionByName(verified).drop("__hit")
  }

  /** URLs due for re-fetch: `updates` carries change signals —
    * typically sitemap `<lastmod>` ([[graft.sources.SitemapXml]]) —
    * and a URL is due when it IS indexed and its signal clock exceeds
    * the stored `last_crawl`. Same pruned-shard probe as [[probeNew]]
    * (the Bloom pass keeps never-crawled sitemap URLs out of the
    * join — those belong to the NEW feed, not the recrawl feed).
    * Returns `(url, last_crawl, signal)` sorted nowhere — callers rank
    * by staleness ([[CrawlScheduler.capPerDomain]] downstream).
    */
  def recrawlDue(spark: SparkSession, dir: String, updates: DataFrame,
      urlCol: String, signalCol: Column): DataFrame = {
    val (nShards, _) = readMeta(spark, dir)
    val (urlsDir, bloomDir) = resolveDirs(spark, dir)
    val renamed = updates.select(col(urlCol).as("url"), signalCol.as("signal"))
    // eager checkpoint — same multi-consumer shape as probeNew
    val probed = bloomProbed(spark, bloomDir, renamed, "url", nShards) match {
      case Some(p) => p.localCheckpoint(true)
      case None => // empty index: nothing was ever crawled, nothing is due
        return renamed.select(col("url"), col("signal").as("last_crawl"),
          col("signal")).limit(0)
    }
    val candidates = probed.filter(col("__hit")).drop("__hit")
      .withColumn("__md5", md5(col("url")))
    val shards = candidates.select(col("__shard")).distinct()
      .collect().map(_.getInt(0))
    if (shards.isEmpty)
      return candidates.select(col("url"), col("signal").as("last_crawl"), col("signal"))
        .limit(0)
    // last_crawl comes back in the SIGNAL's type so the empty-index
    // branch and this one agree on the schema (the two clocks must be
    // comparable for the `>` below anyway). A URL re-crawled across
    // appends has MULTIPLE index rows — its recrawl clock is the
    // LATEST one, and without the max() the join would emit duplicate
    // dues against stale clocks.
    val sigType = updates.select(signalCol).schema.head.dataType
    val seen = spark.read.parquet(urlsDir)
      .filter(col("shard").isin(shards.map(Integer.valueOf): _*))
      .groupBy(col("url_md5").as("__md5"))
      .agg(max(col("last_crawl")).cast(sigType).as("last_crawl"))
    candidates.join(seen.hint("shuffle_hash"), Seq("__md5"))
      .filter(col("signal") > col("last_crawl"))
      .select(col("url"), col("last_crawl"), col("signal"))
  }

  /** One frontier turn — [[probeNew]], stage the accepted set
    * durably, index it ([[appendBatch]]), hand it to `accept` — shaped
    * as a `foreachBatch` body like
    * [[graft.streaming.StreamingDedup.indexedIngest]].
    *
    * Replay semantics (at-least-once, like every foreachBatch sink): a
    * replayed epoch whose staging dir already COMMITTED re-delivers
    * exactly that accepted set to `accept` — never a recomputed
    * (empty, because self-indexed) one and never a different one —
    * so downstream consumers see the same URLs again only across a
    * crash boundary and can dedupe idempotently. New epochs probe the
    * index as usual; URLs accepted by an earlier epoch are dropped by
    * the probe — the index is the cross-epoch idempotence ledger.
    */
  def ingest(dir: String, urlCol: String, lastCrawlCol: Column)(
      accept: (DataFrame, Long) => Unit): (DataFrame, Long) => Unit =
    (batch: DataFrame, epochId: Long) => {
      val spark = batch.sparkSession
      // STAGE the accepted set durably BEFORE touching the index: the
      // accepted frame's lazy plan probes the index, so if it were
      // re-evaluated after appendBatch (cache-block loss on executor
      // failure), it would find its own URLs indexed and recompute to
      // EMPTY — indexed-but-never-delivered, the silent-loss shape.
      //
      // On REPLAY a committed staging dir for this epoch is
      // RE-DELIVERED, never recomputed: a crash after appendBatch
      // would otherwise make the replay's probe find its own URLs
      // indexed and overwrite the good staging data with an empty
      // frame — the same loss through the other door. Re-running
      // appendBatch on the re-delivered frame is safe (duplicate
      // rows are membership-harmless; compactIndex reclaims them)
      // and heals the crash-between-urls-and-bloom window too.
      val staging = s"$dir/staging/epoch-$epochId"
      val hconf = spark.sessionState.newHadoopConf()
      val marker = new org.apache.hadoop.fs.Path(staging, "_SUCCESS")
      val fs = marker.getFileSystem(hconf)
      if (!fs.exists(marker)) pinned { pins =>
        // the pinned batch is one stable relation for the probe's passes
        probeNew(spark, dir, pins.once(batch), urlCol)
          .write.mode("overwrite").parquet(staging)
      }
      val accepted = spark.read.parquet(staging)
      appendBatch(accepted, urlCol, lastCrawlCol, dir)
      accept(accepted, epochId)
      // retention: replay only ever needs THIS epoch's staging dir —
      // drop older ones so a long-running stream doesn't accumulate
      // unbounded small-file dirs
      val stagingRoot = new org.apache.hadoop.fs.Path(s"$dir/staging")
      if (fs.exists(stagingRoot)) {
        fs.listStatus(stagingRoot).foreach { st =>
          val name = st.getPath.getName
          if (name.startsWith("epoch-") &&
            scala.util.Try(name.stripPrefix("epoch-").toLong).toOption.exists(_ < epochId))
            fs.delete(st.getPath, true)
        }
      }
    }

  /** Collapse 3xx redirect chains to their terminal URL by POINTER
    * DOUBLING: `fetches` holds one row per fetched URL with
    * `locationCol` = the (normalized) Location target for redirects,
    * null for terminal responses. Output: `(url, final_url, hops,
    * resolved)` — `resolved` is GUARANTEED true for every chain of
    * length ≤ `maxHops`; cycles come back false (chains between
    * maxHops and the round budget 2^⌈log₂(maxHops+1)⌉−1 resolve
    * opportunistically).
    *
    * Scale shape: each round composes the jump table with itself
    * (reach(x) ← reach(reach(x)), hop counts add), so after k rounds
    * every chain of length ≤ 2^k − 1 is confirmed terminal; the loop
    * runs ⌈log₂(maxHops+1)⌉ rounds — 5 shuffles guarantee the 16-hop
    * cap rather than 16 sequential joins; each join is hash-keyed on
    * the URL, nothing is collected or broadcast.
    * A checkpoint truncates the growing lineage each round and the
    * superseded round releases (the same iterative-plan discipline as
    * [[graft.operators.dedup.Dedup.connectedComponents]]). A Location
    * target that was never fetched terminates its chain (the frontier
    * fetches it next turn).
    */
  def resolveRedirects(fetches: DataFrame, urlCol: String, locationCol: String,
      maxHops: Int = 16): DataFrame = pinned { pins =>
    require(maxHops >= 1, "maxHops must be at least 1")
    var j = fetches.select(
      col(urlCol).as("url"),
      coalesce(col(locationCol), col(urlCol)).as("reach"),
      when(col(locationCol).isNull, lit(0L)).otherwise(lit(1L)).as("hops"),
      col(locationCol).isNull.as("done"))
    var confirmed = 0L // after k rounds every chain of length ≤ 2^k − 1 is done
    while (confirmed < maxHops) {
      val r = j.select(col("url").as("r_url"), col("reach").as("r_reach"),
        col("hops").as("r_hops"), col("done").as("r_done"))
      val stepped = j.join(r.hint("shuffle_hash"), j("reach") === r("r_url"), "left")
      // a reach with no row of its own is an unfetched target → terminal
      val prev = j
      j = pins.checkpoint(stepped.select(
        col("url"),
        when(col("done") || col("r_url").isNull, col("reach"))
          .otherwise(col("r_reach")).as("reach"),
        when(col("done") || col("r_url").isNull, col("hops"))
          .otherwise(col("hops") + col("r_hops")).as("hops"),
        (col("done") || col("r_url").isNull || col("r_done")).as("done")))
      pins.release(prev)
      confirmed = confirmed * 2 + 1
    }
    pins.keep(j).select(col("url"), col("reach").as("final_url"), col("hops"),
      col("done").as("resolved"))
  }

  // ---- internals ----

  /** Resolve the index's live (urls, bloom) directories. A compacted
    * index carries numbered `current-NNNNNNNN` pointer files naming
    * the live VERSIONED dirs (`urls-NNNNNNNN bloom-NNNNNNNN`; the
    * highest-numbered pointer wins); an index that was never
    * compacted uses the legacy fixed names. Readers resolve
    * ONCE per operation, and compactions retain the previous
    * generation's dirs until the NEXT compaction — so a probe in
    * flight across [[compactIndex]]/[[compactBloom]] completes with
    * its pinned generation's correct answer instead of failing on
    * renamed-away files (the same availability contract as
    * `CdxIndex`'s manifest). [[appendBatch]] appends INTO the resolved
    * dirs (new files only), which is reader-safe by construction.
    */
  private def pointerFiles(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
    if (!fs.exists(dirPath)) Seq.empty
    else fs.listStatus(dirPath).map(_.getPath)
      .filter(_.getName.matches("current-\\d{8}")).sortBy(_.getName).toSeq

  private[graft] def resolveDirs(spark: SparkSession, dir: String): (String, String) = {
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val fs = dirPath.getFileSystem(spark.sessionState.newHadoopConf())
    pointerFiles(fs, dirPath).lastOption match {
      case None => (s"$dir/urls", s"$dir/bloom")
      case Some(p) =>
        val in = fs.open(p)
        val txt =
          try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
        val parts = txt.split("\\s+")
        require(parts.length == 2 && parts(0).startsWith("urls") && parts(1).startsWith("bloom"),
          s"CrawlFrontier: malformed pointer '$txt' in $p")
        (s"$dir/${parts(0)}", s"$dir/${parts(1)}")
    }
  }

  /** Next version number for a compaction output dir: one past the
    * highest suffix any versioned urls/bloom dir under `dir` carries.
    */
  private def nextVersion(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path): Int = {
    val vs = fs.listStatus(dirPath).map(_.getPath.getName).collect {
      case n if n.matches("(urls|bloom)-\\d{8}") => n.substring(n.length - 8).toInt
    }
    (if (vs.isEmpty) 0 else vs.max) + 1
  }

  /** Publish the next numbered pointer file (`current-NNNNNNNN`,
    * highest wins — written to a temp and renamed into a FRESH name,
    * so there is never a replace window where no pointer exists) and
    * reclaim every urls/bloom dir not referenced by the NEW pointer or
    * the generation live when the mutation began (`retain`) — exactly
    * one previous generation survives for readers pinned before the
    * swap. Older pointer files beyond the previous one go too. Runs
    * under the writer lease (all callers are mutators).
    */
  private def publishCurrent(fs: org.apache.hadoop.fs.FileSystem,
      dirPath: org.apache.hadoop.fs.Path, urlsName: String, bloomName: String,
      retain: Set[String]): Unit = {
    val id = pointerFiles(fs, dirPath).lastOption
      .map(_.getName.stripPrefix("current-").toInt).getOrElse(0) + 1
    val tmp = new org.apache.hadoop.fs.Path(dirPath, f"current-$id%08d.tmp")
    val fin = new org.apache.hadoop.fs.Path(dirPath, f"current-$id%08d")
    val out = fs.create(tmp, true)
    try out.write(s"$urlsName $bloomName\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, fin), s"CrawlFrontier: could not publish $fin")
    val live = Set(urlsName, bloomName) ++ retain
    fs.listStatus(dirPath).map(_.getPath).foreach { p =>
      val n = p.getName
      if ((n == "urls" || n == "bloom" || n.matches("(urls|bloom)-\\d{8}")) &&
          !live.contains(n))
        fs.delete(p, true)
      else if (n.matches("current-\\d{8}") &&
          n.stripPrefix("current-").toInt < id - 1)
        fs.delete(p, false)
    }
  }

  /** The one-row meta table, read DIRECTLY on the driver (parquet-mr
    * row reader): every probe/append resolves it, and a distributed
    * head() job paid a full job's scheduling latency for two fields of
    * fixed metadata — the same bounded-metadata rule as CdxIndex's
    * driver-side cluster consultation.
    */
  private def readMeta(spark: SparkSession, dir: String): (Int, Long) = {
    val hconf = spark.sessionState.newHadoopConf()
    val mdir = new org.apache.hadoop.fs.Path(s"$dir/meta")
    val fs = mdir.getFileSystem(hconf)
    val parts = fs.listStatus(mdir)
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("part-") && n.endsWith(".parquet")
      }
      .sortBy(_.getPath.getName).toSeq
    if (parts.isEmpty) throw new IllegalStateException(
      s"CrawlFrontier: $dir/meta holds no parquet part — not a frontier index")
    // meta is pinned per index — memoize per (dir, listing signature),
    // so repeated probes pay one listing RPC, not a footer read each
    graft.sources.FooterCache.cached[(Int, Long)](
        s"frontiermeta|$mdir|${graft.sources.FooterCache.signature(parts)}") {
      // iterate parts until a row is found: a multi-partition (or
      // foreign) writer may leave the name-sorted FIRST part empty —
      // review catch; fail only when every part is empty
      parts.iterator.map { st =>
        val rd = org.apache.parquet.hadoop.ParquetReader.builder(
          new org.apache.parquet.hadoop.example.GroupReadSupport(), st.getPath)
          .withConf(hconf).build()
        try rd.read() finally rd.close()
      }.collectFirst { case g if g != null =>
        (g.getInteger("n_shards", 0), g.getLong("expected_items", 0))
      }.getOrElse(throw new IllegalStateException(
        s"CrawlFrontier: $dir/meta is empty — not a frontier index"))
    }
  }

  /** Total row count of a parquet dir from the part FOOTERS — O(files)
    * driver-side metadata, not a distributed count job.
    */
  private def parquetRowCount(spark: SparkSession, dir: String): Long = {
    val hconf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) return 0L
    import scala.jdk.CollectionConverters._
    val parts = fs.listStatus(p)
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("part-") && n.endsWith(".parquet")
      }
      .sortBy(_.getPath.getName).toSeq
    // published url/bloom dirs are immutable versions — memoize per
    // (dir, listing signature); an appended/rewritten dir changes the
    // signature and recounts
    graft.sources.FooterCache.cached[java.lang.Long](
        s"rowcount|$p|${graft.sources.FooterCache.signature(parts)}") {
      parts.map { st =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(st.getPath, hconf))
        try rd.getFooter.getBlocks.asScala.map(_.getRowCount).sum
        finally rd.close()
      }.sum
    }.longValue()
  }

  private def parquetDirEmpty(spark: SparkSession, dir: String): Boolean =
    parquetRowCount(spark, dir) == 0L

  /** The build/append write path: one row per url (a url re-crawled in
    * history keeps its LATEST clock) into `urlsDir` plus its sketch rows
    * into `bloomDir`. The aggregate is pinned: the urls write AND the
    * bloom build both consume it, and Catalyst shares no subtrees (guide
    * §5). Clustering by shard before the partitioned write keeps one
    * file per touched shard, not one per (task, shard) pair — the
    * small-file failure mode every pruned probe would pay.
    */
  private def writeUrls(crawled: DataFrame, urlCol: String, lastCrawlCol: Column,
      nShards: Int, expectedItems: Long, urlsDir: String, bloomDir: String,
      overwrite: Boolean): Unit = pinned { pins =>
    val urls = pins.once(crawled
      .groupBy(col(urlCol).as("url"))
      .agg(max(lastCrawlCol).as("last_crawl"))
      .select(md5(col("url")).as("url_md5"), col("url"), col("last_crawl"),
        shardCol("url", nShards).as("shard")))
    urls.repartition(col("shard")).write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("shard").parquet(urlsDir)
    writeBloom(crawled.sparkSession, bloomDir, urls.select(col("url")), nShards,
      expectedItems, overwrite)
  }

  /** One sketch row per TOUCHED shard: `(shard, bf)`, each sketch sized
    * for its `expectedItems / nShards` slice. Sketches of the same
    * shard across appends stay mergeable because `expectedItems` (and
    * so m/k) is pinned per index in `<dir>/meta`.
    */
  private def writeBloom(spark: SparkSession, bloomDir: String, urls: DataFrame,
      nShards: Int, expectedItems: Long, overwrite: Boolean): Unit = {
    val mode = if (overwrite) "overwrite" else "append"
    urls.select(xxhash64(col("url")).as("h"), shardCol("url", nShards).as("shard"))
      .groupBy(col("shard"))
      .agg(call_function("graft_bloom_agg", col("h"),
        lit(perShardItems(expectedItems, nShards))).as("bf"))
      .filter(col("bf").isNotNull) // empty batch → null sketch → nothing to append
      .write.mode(mode).parquet(bloomDir)
  }

  /** Attach `__shard` and `__hit` to `df`: each row joins its shard's
    * (pre-merged) sketch and probes it via `graft_bloom_probe` — a
    * keyed shuffle of the BATCH, never a broadcast or driver merge of
    * the sketches (their total bytes grow with the crawl). Returns
    * None when the index has no sketch rows (nothing ever indexed).
    * Null-url parity with the plain anti-join: a null key can never
    * match the index, so `__hit` coalesces to false and the row rides
    * the clear path.
    */
  private[graft] def bloomProbed(spark: SparkSession, bloomDir: String, df: DataFrame,
      urlCol: String, nShards: Int): Option[DataFrame] = {
    if (parquetDirEmpty(spark, bloomDir)) return None // footer check, no job
    val sketchRows = spark.read.parquet(bloomDir)
    // ≤ a few rows per shard between compactions; merged per shard HERE,
    // distributed, so the probe join sees exactly one sketch per shard
    val sketches = sketchRows
      .groupBy(col("shard").as("__shard"))
      .agg(call_function("graft_bloom_merge", collect_list(col("bf"))).as("__bf"))
    Some(df
      .withColumn("__shard", shardCol(urlCol, nShards))
      .join(sketches.hint("shuffle_hash"), Seq("__shard"), "left")
      .withColumn("__hit",
        coalesce(call_function("graft_bloom_probe",
          col("__shard"), col("__bf"), xxhash64(col(urlCol))), lit(false)))
      .drop("__bf"))
  }

  /** Promote a staged directory over a live one via Hadoop-FS renames
    * (the index may live on HDFS/S3A, not the driver's disk): park the
    * live tree, promote the staged one, drop the parked copy. A crash
    * mid-swap leaves the old tree recoverable at `parked`.
    */
  private[graft] def swapDir(spark: SparkSession, staged: String, live: String,
      parked: String): Unit = {
    val hconf = spark.sessionState.newHadoopConf()
    val (sp, lp, pp) = (new org.apache.hadoop.fs.Path(staged),
      new org.apache.hadoop.fs.Path(live), new org.apache.hadoop.fs.Path(parked))
    val fs = lp.getFileSystem(hconf)
    fs.delete(pp, true)
    require(fs.rename(lp, pp), s"CrawlFrontier: could not park $live")
    require(fs.rename(sp, lp),
      s"CrawlFrontier: could not promote $staged (old tree parked at $parked)")
    fs.delete(pp, true); ()
  }

  /** Exclusive writer lease: atomically create `<dir>/_writer.lock`,
    * run `body`, delete the lease. A second concurrent writer gets a
    * loud failure instead of silently interleaving writes into the
    * urls/bloom dirs (which would corrupt membership). On `file://`
    * the exclusive create goes through NIO (O_CREAT|O_EXCL) — Hadoop's
    * local filesystem implements create-no-overwrite as a NON-atomic
    * exists-then-open, which would let two racing writers both
    * acquire; HDFS creates are natively atomic; object stores without
    * atomic create (S3) need the single writer guaranteed by the
    * deployment instead. A transient failure while STAMPING the lease
    * deletes it again (a wedged no-owner lock helps nobody); a writer
    * that died mid-`body` leaves the lease behind — the error message
    * carries the lease timestamp and the recovery step so misuse fails
    * fast and diagnosable, never corrupting.
    *
    * LIVENESS — stamped-TTL takeover: by default a crashed writer's
    * lease blocks every later mutator until an operator deletes the
    * file. Passing `stealAfter` (or setting the session conf
    * `graft.writerLease.stealAfterSeconds` — the operator knob for
    * re-running a wedged maintenance job without a code change) lets a
    * mutator STEAL a lease whose stamp is older than the bound: it
    * re-reads the stamp, deletes the stale file, re-acquires through
    * the same exclusive create, and after stamping RE-READS its own
    * unique stamp back — two racing stealers collapse to one winner
    * (the loser fails on the exclusive create against the winner's
    * FRESH lease, or on the stamp re-read in the narrow delete/create
    * interleave window). The TTL must exceed the longest legitimate
    * maintenance pass — a steal from a LIVE writer corrupts exactly
    * like two unlocked writers, which is why there is no default.
    * An unparseable stamp never steals (conservative, loud).
    */
  private[graft] def withWriterLock[T](spark: SparkSession, dir: String,
      stealAfter: Option[java.time.Duration] = None)(body: => T): T = {
    val hconf = spark.sessionState.newHadoopConf()
    val lock = new org.apache.hadoop.fs.Path(s"$dir/_writer.lock")
    val fs = lock.getFileSystem(hconf)
    // unique stamp: instant (the TTL axis) + nonce (the steal-race
    // detector; Instant alone can collide across two racing stealers)
    val stampStr = java.time.Instant.now().toString + " " +
      java.util.UUID.randomUUID().toString
    val stamp = stampStr.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val ttl = stealAfter.orElse(
      spark.conf.getOption("graft.writerLease.stealAfterSeconds")
        .map(s => java.time.Duration.ofSeconds(s.toLong)))
    def readStamp(): Option[String] = scala.util.Try {
      val in = fs.open(lock)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
    }.toOption
    def alreadyHeld(cause: Throwable): Nothing =
      throw new IllegalStateException(
        s"CrawlFrontier: another writer holds $lock (acquired: " +
          s"${readStamp().getOrElse("unknown")}). The index is single-writer; if " +
          "the previous writer crashed, delete the lock file to recover (or set " +
          "graft.writerLease.stealAfterSeconds to allow stamped-TTL takeover).",
        cause)
    // a held lease is stealable iff its stamp parses and is older than
    // the TTL; pre-nonce stamps (a bare Instant) parse the same way.
    // Returns the stale stamp OBSERVED so the steal can re-check it is
    // unchanged immediately before deleting.
    def staleStamp(): Option[String] = ttl.flatMap { t =>
      readStamp().filter(s =>
        scala.util.Try(java.time.Instant.parse(s.split("\\s+").head)).toOption
          .exists(at => java.time.Duration.between(at, java.time.Instant.now())
            .compareTo(t) > 0))
    }
    var stole = false
    // steal only while the on-disk stamp is STILL the stale one first
    // judged — a racer that already re-stamped a fresh lease in the
    // window must not have it deleted. Narrows (file systems without
    // an atomic compare-and-delete cannot fully close) the two-stealer
    // window; the post-steal grace re-verify below narrows it further.
    def stealDelete(observed: String, cause: Throwable): Unit = {
      if (!readStamp().contains(observed)) alreadyHeld(cause)
      stole = true
      fs.delete(lock, false); ()
    }
    // acquire + stamp; a failure while stamping releases the lease
    // again — a wedged no-owner lock helps nobody. `canSteal` is one
    // shot: a loser against a freshly-stolen (young) lease must block,
    // never re-steal.
    def acquire(canSteal: Boolean): Unit =
      if (fs.getScheme == "file") {
        // Hadoop's local FS implements create(overwrite=false) as a
        // NON-atomic exists-then-open; NIO's createFile is O_EXCL
        val nioLock = java.nio.file.Paths.get(lock.toUri.getPath)
        java.nio.file.Files.createDirectories(nioLock.getParent)
        val steal =
          try { java.nio.file.Files.createFile(nioLock); None }
          catch {
            case e: java.nio.file.FileAlreadyExistsException =>
              if (canSteal) staleStamp().map(s => (s, e)).orElse(alreadyHeld(e))
              else alreadyHeld(e)
          }
        steal match {
          case None =>
            try java.nio.file.Files.write(nioLock, stamp)
            catch { case e: Throwable =>
              java.nio.file.Files.deleteIfExists(nioLock); throw e }
          case Some((observed, cause)) =>
            stealDelete(observed, cause)
            acquire(canSteal = false)
        }
      } else {
        val out =
          try Some(fs.create(lock, false))
          catch {
            case e: java.io.IOException =>
              (if (canSteal) staleStamp() else None) match {
                case Some(observed) => stealDelete(observed, e); None
                case None => alreadyHeld(e)
              }
          }
        out match {
          case Some(o) =>
            try { o.write(stamp); o.close() }
            catch { case e: Throwable =>
              scala.util.Try(o.close())
              fs.delete(lock, false)
              throw e
            }
          case None => acquire(canSteal = false)
        }
      }
    acquire(canSteal = true)
    // steal-race re-verify, AFTER a grace pause and only when a steal
    // actually happened (an uncontended acquire must never risk
    // abandoning its own lease on a transient read error): a slower
    // stealer that deleted this winner's fresh lease has re-stamped by
    // now and is caught here — back off loudly WITHOUT deleting (the
    // lease is the other writer's now). Transient read failures retry
    // before concluding anything.
    if (stole) {
      Thread.sleep(100)
      val seen = (0 until 3).iterator.map(_ => readStamp()).find(_.isDefined).flatten
      if (!seen.contains(stampStr))
        throw new IllegalStateException(
          s"CrawlFrontier: lost the lease-steal race on $lock — another writer's " +
            "stamp landed after this one (or the stamp is unreadable); backing off.")
    }
    try body finally fs.delete(lock, false)
  }
}
