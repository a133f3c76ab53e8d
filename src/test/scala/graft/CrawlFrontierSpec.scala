package graft

import org.apache.spark.sql.functions._

import graft.operators.CrawlFrontier

/** Persistent frontier seen-set: stored sharded url-hash index + Bloom
  * prefilter, probed per batch — result bit-identical to the plain
  * exact anti-join against the crawled set.
  */
class CrawlFrontierSpec extends SparkSpec {

  test("probeNew == exact left_anti against the crawled set (two batches, then append)") {
    import spark.implicits._
    val dir = TempDirs.scratch("frontier_idx")
    val crawled = (0 until 500).map(i => (s"http://site${i % 37}.com/p/$i", 100L + i % 7))
      .toDF("url", "day")
    CrawlFrontier.buildIndex(crawled, "url", col("day"), dir,
      nShards = 16, expectedItems = 10000L)

    // batch 1: half seen, half new, plus a carry column
    val batch1 = ((0 until 200).map(i => (s"http://site${i % 37}.com/p/$i", s"m$i")) ++
      (0 until 150).map(i => (s"http://new${i % 11}.org/a/$i", s"n$i")))
      .toDF("url", "meta")
    val got1 = CrawlFrontier.probeNew(spark, dir, batch1, "url")
      .as[(String, String)].collect().toSet
    val want1 = batch1.join(crawled.select("url"), Seq("url"), "left_anti")
      .as[(String, String)].collect().toSet
    assert(got1 == want1)
    assert(got1.size == 150)

    // append batch 1's accepted urls, then probe a batch overlapping both
    CrawlFrontier.appendBatch(
      CrawlFrontier.probeNew(spark, dir, batch1, "url"), "url", lit(200L), dir)
    val batch2 = ((0 until 60).map(i => (s"http://new${i % 11}.org/a/$i", s"o$i")) ++   // batch-1 accepted
      (0 until 60).map(i => (s"http://site${i % 37}.com/p/$i", s"p$i")) ++             // original crawl
      (0 until 80).map(i => (s"http://fresh${i % 5}.net/z/$i", s"q$i")))               // genuinely new
      .toDF("url", "meta")
    val allSeen = crawled.select("url")
      .unionByName(batch1.select("url").join(crawled.select("url"), Seq("url"), "left_anti"))
    val got2 = CrawlFrontier.probeNew(spark, dir, batch2, "url")
      .as[(String, String)].collect().toSet
    val want2 = batch2.join(allSeen, Seq("url"), "left_anti")
      .as[(String, String)].collect().toSet
    assert(got2 == want2)
    assert(got2.size == 80)
    assert(got2.forall(_._1.startsWith("http://fresh")))
  }

  test("probeNew never broadcasts the index side and prunes untouched shards") {
    import spark.implicits._
    val dir = TempDirs.scratch("frontier_plan")
    val crawled = (0 until 400).map(i => (s"http://host${i % 23}.com/x/$i", 1L)).toDF("url", "day")
    CrawlFrontier.buildIndex(crawled, "url", col("day"), dir, nShards = 32, expectedItems = 5000L)
    val batch = (0 until 50).map(i => (s"http://host${i % 23}.com/x/$i", i)).toDF("url", "k")
    val plan = CrawlFrontier.probeNew(spark, dir, batch, "url")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), s"index side must not broadcast:\n$plan")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"expected a shuffled verify join:\n$plan")
    // shard pruning: the parquet scan carries a partition filter on `shard`
    assert(plan.contains("PartitionFilters") && plan.contains("shard"),
      s"expected shard partition pruning in:\n$plan")
  }

  test("recrawlDue: only seen urls with a newer change signal come back") {
    import spark.implicits._
    val dir = TempDirs.scratch("frontier_recrawl")
    val crawled = (0 until 100).map(i => (s"http://s${i % 9}.com/p/$i", 100L + (i % 10)))
      .toDF("url", "day")
    CrawlFrontier.buildIndex(crawled, "url", col("day"), dir, nShards = 8, expectedItems = 1000L)
    // sitemap signals: 50 updated after crawl, 50 stale, 30 never crawled
    val updates = ((0 until 100).map { i =>
      val lastCrawl = 100L + (i % 10)
      (s"http://s${i % 9}.com/p/$i", if (i % 2 == 0) lastCrawl + 5 else lastCrawl - 1)
    } ++ (0 until 30).map(i => (s"http://never${i}.com/", 999L)))
      .toDF("url", "lastmod")
    val due = CrawlFrontier.recrawlDue(spark, dir, updates, "url", col("lastmod"))
      .as[(String, Long, Long)].collect()
    assert(due.length == 50)
    assert(due.forall { case (_, lastCrawl, signal) => signal > lastCrawl })
    assert(due.forall(!_._1.startsWith("http://never")))
  }

  test("probeNew keeps null-url rows (anti-join parity) and compaction bounds the sketch table") {
    import spark.implicits._
    val dir = TempDirs.scratch("frontier_null")
    CrawlFrontier.buildIndex(
      (0 until 50).map(i => (s"http://a.com/$i", 1L)).toDF("url", "day"),
      "url", col("day"), dir, nShards = 4, expectedItems = 1000L)
    val batch = Seq(("http://a.com/1", "seen"), (null: String, "nullrow"),
      ("http://b.com/x", "new")).toDF("url", "meta")
    val got = CrawlFrontier.probeNew(spark, dir, batch, "url")
      .select("meta").as[String].collect().toSet
    // a null key can never match an anti-join → the row survives
    assert(got == Set("nullrow", "new"))
    // 12 appends → compaction keeps ≤ 8 sketch rows and membership exact
    (0 until 12).foreach { b =>
      CrawlFrontier.appendBatch(
        (0 until 10).map(i => (s"http://b$b.com/$i", 2L)).toDF("url", "day"),
        "url", col("day"), dir)
    }
    assert(spark.read.parquet(CrawlFrontier.resolveDirs(spark, dir)._2).count() <= 8)
    val reprobe = CrawlFrontier.probeNew(spark, dir,
      ((0 until 12).map(b => (s"http://b$b.com/3", "old")) :+ (("http://c.com/z", "fresh")))
        .toDF("url", "meta"), "url")
      .select("meta").as[String].collect()
    assert(reprobe.toSeq == Seq("fresh"))
  }

  test("a second concurrent writer fails fast on the lease instead of corrupting the index") {
    import spark.implicits._
    val dir = TempDirs.scratch("frontier_lock")
    CrawlFrontier.buildIndex(
      (0 until 20).map(i => (s"http://lk.com/$i", 1L)).toDF("url", "day"),
      "url", col("day"), dir, nShards = 4, expectedItems = 1000L)
    // simulate a writer holding the lease (or a crashed one that left it)
    val lock = new java.io.File(s"$dir/_writer.lock")
    assert(!lock.exists(), "the lease must be released after a successful build")
    java.nio.file.Files.write(lock.toPath, "2026-01-01T00:00:00Z".getBytes)
    val e = intercept[IllegalStateException] {
      CrawlFrontier.appendBatch(Seq(("http://lk.com/new", 2L)).toDF("url", "day"),
        "url", col("day"), dir)
    }
    assert(e.getMessage.contains("another writer"))
    assert(e.getMessage.contains("2026-01-01T00:00:00Z"), s"lease age missing: ${e.getMessage}")
    // nothing was written under the held lease
    assert(spark.read.parquet(s"$dir/urls").count() == 20)
    // recovery: delete the lease, the writer proceeds
    assert(lock.delete())
    CrawlFrontier.appendBatch(Seq(("http://lk.com/new", 2L)).toDF("url", "day"),
      "url", col("day"), dir)
    assert(spark.read.parquet(s"$dir/urls").count() == 21)
    assert(!lock.exists())
    // compactIndex takes (and releases) the same lease
    CrawlFrontier.compactIndex(spark, dir)
    assert(!lock.exists())
  }

  test("writer lease: stamped-TTL takeover — fresh blocks, stale steals exactly once") {
    val dir = TempDirs.scratch("lease_ttl")
    val lock = java.nio.file.Paths.get(dir, "_writer.lock")
    java.nio.file.Files.createDirectories(lock.getParent)
    val ttl = Some(java.time.Duration.ofMinutes(10))
    // a FRESH foreign lease blocks even with a TTL configured
    java.nio.file.Files.write(lock,
      (java.time.Instant.now().toString + " live-writer").getBytes)
    intercept[IllegalStateException] {
      CrawlFrontier.withWriterLock(spark, dir, ttl) { () }
    }
    assert(java.nio.file.Files.exists(lock), "a blocked acquirer must not delete the lease")
    // a STALE lease steals; while held (freshly re-stamped), a second
    // would-be stealer blocks — exactly one winner
    java.nio.file.Files.write(lock,
      (java.time.Instant.now().minusSeconds(3600).toString + " dead-writer").getBytes)
    var ran = false
    CrawlFrontier.withWriterLock(spark, dir, ttl) {
      ran = true
      intercept[IllegalStateException] {
        CrawlFrontier.withWriterLock(spark, dir, ttl) { () }
      }
    }
    assert(ran && !java.nio.file.Files.exists(lock))
    // default (no TTL anywhere): even an ancient lease blocks
    java.nio.file.Files.write(lock,
      java.time.Instant.now().minusSeconds(3600).toString.getBytes)
    intercept[IllegalStateException] { CrawlFrontier.withWriterLock(spark, dir) { () } }
    // the session-conf knob (the operator's no-code-change recovery)
    spark.conf.set("graft.writerLease.stealAfterSeconds", "60")
    try {
      var ran2 = false
      CrawlFrontier.withWriterLock(spark, dir) { ran2 = true }
      assert(ran2 && !java.nio.file.Files.exists(lock))
    } finally spark.conf.unset("graft.writerLease.stealAfterSeconds")
    // an unparseable stamp never steals (conservative, loud)
    java.nio.file.Files.write(lock, "garbage-stamp with spaces".getBytes)
    intercept[IllegalStateException] {
      CrawlFrontier.withWriterLock(spark, dir, Some(java.time.Duration.ofSeconds(1))) { () }
    }
    java.nio.file.Files.delete(lock)
  }

  test("the sketch tier is per-shard rows — no driver-merged literal, bounded per-shard bytes") {
    import spark.implicits._
    val dir = TempDirs.scratch("frontier_shardbloom")
    CrawlFrontier.buildIndex(
      (0 until 300).map(i => (s"http://sb${i % 13}.com/$i", 1L)).toDF("url", "day"),
      "url", col("day"), dir, nShards = 8, expectedItems = 80000L)
    val sk = spark.read.parquet(s"$dir/bloom")
      .select("shard", "bf").as[(Int, Array[Byte])].collect()
    assert(sk.map(_._1).distinct.length == sk.length, "one sketch row per shard")
    // each sketch is sized for expectedItems/nShards, NOT the whole index:
    // 10k items ≈ 9.1 KB at the default 3% fpp — an order of magnitude under
    // what an 80k-item monolith would need (~73 KB)
    assert(sk.forall(_._2.length < 20000),
      s"per-shard sketch unexpectedly large: ${sk.map(_._2.length).max} bytes")
    // and the probe literal ceiling is gone: the physical plan carries no
    // binary literal at all (the sketches ride a join, not lit()).
    // probeNew now eagerly checkpoints the probed batch (it feeds three
    // consumers), which truncates ITS visible plan to an RDD scan — so
    // the plan properties are asserted on the inner bloomProbed plan,
    // which is what the checkpoint job executes.
    val batch = (0 until 50).map(i => (s"http://sb${i % 13}.com/$i", i)).toDF("url", "k")
    val (_, bloomDir) = CrawlFrontier.resolveDirs(spark, dir)
    val inner = CrawlFrontier.bloomProbed(spark, bloomDir, batch, "url", 8).get
    inner.collect() // finalize AQE so codegen stages are visible
    val probePlan = inner.queryExecution.executedPlan.toString
    assert(probePlan.contains("graft_bloom_probe"), probePlan)
    assert(!probePlan.contains("might_contain"), "the literal-based probe must be gone")
    // the probe expression generates code (lazy sketch eval inside the
    // cache-miss branch) — the hot filter must stay INSIDE whole-stage
    // codegen, not drop the stage to interpreted eval (inspect the AQE
    // FINAL plan only; the echoed initial plan carries no stage marks)
    val finalPlan = probePlan.split("== Initial Plan ==").head
    val probeLines = finalPlan.linesIterator.filter(_.contains("graft_bloom_probe")).toSeq
    // codegen'd operators carry the `*(stageId)` marker (tree-drawing
    // prefixes like `:  +-` precede it, so match anywhere in the line)
    assert(probeLines.nonEmpty && probeLines.forall(_.contains("*(")),
      s"probe fell out of whole-stage codegen:\n$probePlan")
    // the public probe keeps its result contract over the checkpoint
    val probed = CrawlFrontier.probeNew(spark, dir, batch, "url")
    assert(probed.count() == 0, "all 50 batch urls are already indexed")
  }

  test("resolveRedirects: chains of length exactly maxHops resolve; maxHops=1 works") {
    import spark.implicits._
    def chain(n: Int) = ((0 until n).map(i => (s"http://x.com/$i", Some(s"http://x.com/${i + 1}"))) :+
      ((s"http://x.com/$n", None: Option[String]))).toDF("url", "location")
    // length exactly maxHops
    val r16 = CrawlFrontier.resolveRedirects(chain(16), "url", "location", maxHops = 16)
      .as[(String, String, Long, Boolean)].collect().map(t => t._1 -> t).toMap
    assert(r16("http://x.com/0") == ("http://x.com/0", "http://x.com/16", 16L, true))
    // maxHops = 1 must still resolve a single redirect
    val r1 = CrawlFrontier.resolveRedirects(chain(1), "url", "location", maxHops = 1)
      .as[(String, String, Long, Boolean)].collect().map(t => t._1 -> t).toMap
    assert(r1("http://x.com/0") == ("http://x.com/0", "http://x.com/1", 1L, true))
  }

  test("resolveRedirects: chains collapse in log rounds; cycles and unfetched targets handled") {
    import spark.implicits._
    // a 5-hop chain, a terminal, a redirect to an UNFETCHED target,
    // and a 2-cycle — all in one fetch table
    val fetches = (
      (0 until 5).map(i => (s"http://c.com/$i", Some(s"http://c.com/${i + 1}"))) :+
        ("http://c.com/5", None) :+
        ("http://t.com/solo", None) :+
        ("http://e.com/out", Some("http://external.org/never-fetched")) :+
        ("http://l.com/a", Some("http://l.com/b")) :+
        ("http://l.com/b", Some("http://l.com/a"))
      ).toDF("url", "location")
    val r = CrawlFrontier.resolveRedirects(fetches, "url", "location", maxHops = 16)
      .as[(String, String, Long, Boolean)].collect().map(t => t._1 -> t).toMap
    assert(r("http://c.com/0") == ("http://c.com/0", "http://c.com/5", 5L, true))
    assert(r("http://c.com/3") == ("http://c.com/3", "http://c.com/5", 2L, true))
    assert(r("http://t.com/solo") == ("http://t.com/solo", "http://t.com/solo", 0L, true))
    // unfetched target terminates the chain (fetched next turn)
    assert(r("http://e.com/out") ==
      ("http://e.com/out", "http://external.org/never-fetched", 1L, true))
    // the cycle never resolves
    assert(!r("http://l.com/a")._4 && !r("http://l.com/b")._4)
  }

  test("recrawlDue uses the LATEST clock when a url has been re-crawled across appends") {
    import spark.implicits._
    val dir = TempDirs.scratch("frontier_reclock")
    CrawlFrontier.buildIndex(
      (0 until 20).map(i => (s"http://rc.com/p/$i", 100L)).toDF("url", "day"),
      "url", col("day"), dir, nShards = 4, expectedItems = 1000L)
    // urls 0..9 re-crawled at day 110 → second index row each
    CrawlFrontier.appendBatch(
      (0 until 10).map(i => (s"http://rc.com/p/$i", 110L)).toDF("url", "day"),
      "url", col("day"), dir)
    // signal day 105: newer than the ORIGINAL crawl for all, but older
    // than the RE-crawl for 0..9 — only 10..19 are due, exactly once
    val due = CrawlFrontier.recrawlDue(spark, dir,
      (0 until 20).map(i => (s"http://rc.com/p/$i", 105L)).toDF("url", "lastmod"),
      "url", col("lastmod"))
      .as[(String, Long, Long)].collect()
    assert(due.length == 10, s"expected 10 dues, got ${due.length}: ${due.take(12).toSeq}")
    assert(due.forall { case (u, lc, _) =>
      u.split('/').last.toInt >= 10 && lc == 100L })
  }

  test("compactIndex: one row per url, latest clock, probes and recrawls unchanged") {
    import spark.implicits._
    val dir = TempDirs.scratch("frontier_compact")
    CrawlFrontier.buildIndex(
      (0 until 30).map(i => (s"http://cp.com/p/$i", 100L)).toDF("url", "day"),
      "url", col("day"), dir, nShards = 4, expectedItems = 1000L)
    // three re-crawl appends of the same urls → 4 rows per url 0..9
    (1 to 3).foreach { n =>
      CrawlFrontier.appendBatch(
        (0 until 10).map(i => (s"http://cp.com/p/$i", 100L + n * 10)).toDF("url", "day"),
        "url", col("day"), dir)
    }
    assert(spark.read.parquet(s"$dir/urls").count() == 60)
    // pin a probe BEFORE the compaction: it must complete against its
    // resolved generation after the pointer swap (availability, not a
    // loud failure on renamed-away files)
    val pinned = CrawlFrontier.probeNew(spark, dir,
      Seq(("http://cp.com/p/3", "seen"), ("http://pinned.org/x", "new")).toDF("url", "meta"),
      "url")
    CrawlFrontier.compactIndex(spark, dir)
    assert(pinned.select("meta").as[String].collect().toSeq == Seq("new"))
    // compaction publishes VERSIONED dirs via the CURRENT pointer; the
    // previous generation (the legacy names) is retained one cycle
    val (urlsDir, bloomDir) = CrawlFrontier.resolveDirs(spark, dir)
    assert(urlsDir.matches(".*/urls-\\d{8}") && bloomDir.matches(".*/bloom-\\d{8}"))
    assert(new java.io.File(s"$dir/urls").exists(), "previous generation retained")
    val rows = spark.read.parquet(urlsDir)
      .select("url", "last_crawl").as[(String, Long)].collect().toMap
    assert(rows.size == 30)
    assert(rows("http://cp.com/p/3") == 130L) // latest clock survives
    assert(rows("http://cp.com/p/15") == 100L)
    // fresh sketch table: exactly one row per OCCUPIED shard
    val occupied = spark.read.parquet(urlsDir)
      .select("shard").distinct().count()
    assert(spark.read.parquet(bloomDir).count() == occupied)
    assert(spark.read.parquet(bloomDir).select("shard").distinct().count() == occupied)
    // a SECOND compaction ages the legacy generation out — the dir
    // count stays bounded at current + previous
    CrawlFrontier.compactIndex(spark, dir)
    assert(!new java.io.File(s"$dir/urls").exists(), "two-generations retention bound")
    assert(new java.io.File(urlsDir).exists(), "immediately-previous generation retained")
    val (u2, b2) = CrawlFrontier.resolveDirs(spark, dir)
    assert(u2 != urlsDir && u2.matches(".*/urls-\\d{8}") && b2.matches(".*/bloom-\\d{8}"))
    assert(new java.io.File(dir).list()
      .count(_.matches("urls(-\\d{8})?")) == 2, "at most current + previous urls dirs")
    // membership and recrawl behavior identical post-compaction
    val probe = CrawlFrontier.probeNew(spark, dir,
      Seq(("http://cp.com/p/3", "seen"), ("http://other.org/x", "new")).toDF("url", "meta"),
      "url")
    assert(probe.select("meta").as[String].collect().toSeq == Seq("new"))
    val due = CrawlFrontier.recrawlDue(spark, dir,
      Seq(("http://cp.com/p/3", 125L), ("http://cp.com/p/4", 135L)).toDF("url", "lastmod"),
      "url", col("lastmod")).as[(String, Long, Long)].collect()
    assert(due.toSeq == Seq(("http://cp.com/p/4", 130L, 135L)))
  }

  test("ingest is a replay-safe foreachBatch body: the index is the idempotence ledger") {
    import spark.implicits._
    val dir = TempDirs.scratch("frontier_ingest")
    CrawlFrontier.buildIndex(
      Seq(("http://base.com/0", 1L)).toDF("url", "day"), "url", col("day"), dir,
      nShards = 4, expectedItems = 1000L)
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val body = CrawlFrontier.ingest(dir, "url", lit(2L)) { (accepted, _) =>
      seen ++= accepted.select("url").as[String].collect()
    }
    val batch = (0 until 20).map(i => (s"http://b.com/$i", i)).toDF("url", "k")
    body(batch, 0L)
    assert(seen.sorted == (0 until 20).map(i => s"http://b.com/$i").sorted)
    // replay of the SAME epoch (crash before the sink committed):
    // the committed staging dir is RE-DELIVERED verbatim — never
    // recomputed against the index that now contains the batch (which
    // would silently deliver nothing: indexed-but-never-fetched)
    body(batch, 0L)
    assert(seen.length == 40)
    assert(seen.toSet == (0 until 20).map(i => s"http://b.com/$i").toSet)
    // a NEW epoch re-discovering the same urls is dropped by the probe
    // (the index is the cross-epoch idempotence ledger) and older
    // staging dirs are retired
    body(batch, 1L)
    assert(seen.length == 40)
    assert(!new java.io.File(s"$dir/staging/epoch-0").exists())
  }

  test("a meta dir with no parquet part or only empty parts is an IllegalStateException") {
    import spark.implicits._
    val dir = TempDirs.scratch("frontier_badmeta")
    CrawlFrontier.buildIndex(
      (0 until 10).map(i => (s"http://bm.com/$i", 1L)).toDF("url", "day"),
      "url", col("day"), dir, nShards = 4, expectedItems = 1000L)
    val batch = Seq("http://bm.com/new").toDF("url")
    val meta = new java.io.File(s"$dir/meta")
    def resetMeta(): Unit = {
      meta.listFiles().foreach(_.delete())
      assert(meta.listFiles().isEmpty)
    }
    // no parquet part at all
    resetMeta()
    java.nio.file.Files.write(new java.io.File(meta, "_SUCCESS").toPath, Array.emptyByteArray)
    val noPart = intercept[IllegalStateException] {
      CrawlFrontier.probeNew(spark, dir, batch, "url")
    }
    assert(noPart.getMessage.contains("no parquet part"), noPart.getMessage)
    // parquet parts present, every one empty
    resetMeta()
    spark.createDataFrame(Seq((4, 1000L))).toDF("n_shards", "expected_items")
      .limit(0).write.mode("overwrite").parquet(meta.getPath)
    assert(meta.listFiles().exists(_.getName.endsWith(".parquet")), "empty write left no part")
    val allEmpty = intercept[IllegalStateException] {
      CrawlFrontier.probeNew(spark, dir, batch, "url")
    }
    assert(allEmpty.getMessage.contains("is empty"), allEmpty.getMessage)
  }
}
