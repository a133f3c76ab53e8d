package graft

import org.apache.spark.sql.functions._
import graft.operators.text.Bm25

class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (0L, "spark runs fast queries"),          // dl 4
    (1L, "spark spark spark joins tables"),   // dl 5, tf(spark)=3
    (2L, "tables hold rows"),                 // dl 3
    (3L, "rows and rows of data data data")   // dl 7
  ).toDF("doc_id", "text")

  /** Independent integer replay of the score formula (same contract,
    * different code path: plain Scala longs, no DataFrame).
    */
  private def score(terms: Seq[(Long, Long, Long)], n: Long, t: Long): Long =
    terms.map { case (tf, df, dl) =>
      val idf = math.round(math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1e6)
      val den = t * (10 * tf + 3) + 9 * dl * n
      val tfw = (44 * tf * t * 1000000L + den) / (2 * den)
      (idf * tfw + 500000L) / 1000000L
    }.sum

  test("topK: scores match the integer formula replayed by hand") {
    val qs = Seq((1L, "spark tables")).toDF("query_id", "qtext")
    val got = Bm25.topK(corpus, qs, "doc_id", "text", "query_id", "qtext", k = 10)
      .orderBy(col("rank"))
      .select("doc_id", "score_micros", "n_terms_hit")
      .as[(Long, Long, Long)].collect()

    val n = 4L; val t = 19L // 4+5+3+7 tokens
    // doc 1 matches both terms: spark tf=3 df=2, tables tf=1 df=2
    val d1 = score(Seq((3L, 2L, 5L), (1L, 2L, 5L)), n, t)
    // doc 0: spark tf=1 df=2; doc 2: tables tf=1 df=2
    val d0 = score(Seq((1L, 2L, 4L)), n, t)
    val d2 = score(Seq((1L, 2L, 3L)), n, t)
    assert(got.toSet == Set((1L, d1, 2L), (0L, d0, 1L), (2L, d2, 1L)))
    assert(got.head._1 == 1L) // both-term doc ranks first
  }

  test("fused graft_term_freqs postings == explode+groupBy formulation, row for row") {
    // the r18 in-row (dl, term, tf) kernel must reproduce the old
    // size(tokens)+explode(tokens)→groupBy chain exactly — docs corpus
    // plus the edge shapes (empty → the ''-token with dl=1, repeated
    // terms, unicode, whitespace-only)
    val docs = Tables.load(spark, sf, "documents")
    val edges = Seq((900001L, ""), (900002L, "  \t "), (900003L, "a a A  a"),
      (900004L, "中文 中文 😀"), (900005L, "x"))
      .toDF("doc_id", "text")
    def toks(c: org.apache.spark.sql.Column) =
      split(lower(trim(regexp_replace(c, "\\s+", " "))), " ")
    Seq(corpus, docs.select(col("doc_id"), col("text")), edges).foreach { d =>
      val nonNull = d.filter(col("text").isNotNull)
      val old = nonNull
        .select(col("doc_id"), size(toks(col("text"))).as("dl"),
          explode(toks(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf"))
      val fused = Bm25.postings(nonNull, "doc_id", "text")
        .select("doc_id", "dl", "term", "tf")
      assert(fused.exceptAll(old).isEmpty && old.exceptAll(fused).isEmpty,
        "fused postings diverged from the explode+groupBy formulation")
    }
  }

  test("rarer terms outweigh common ones at equal tf") {
    val c = Seq(
      (0L, "rare common"), (1L, "common filler"), (2L, "common stuff"),
      (3L, "common words here")).toDF("doc_id", "text")
    val qs = Seq((1L, "rare"), (2L, "common")).toDF("query_id", "qtext")
    val top = Bm25.topK(c, qs, "doc_id", "text", "query_id", "qtext", k = 1)
      .select("query_id", "score_micros").as[(Long, Long)].collect().toMap
    assert(top(1L) > top(2L))
  }

  test("docs with no query term never appear; null text excluded") {
    val c = corpus.union(Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val qs = Seq((1L, "spark")).toDF("query_id", "qtext")
    val ids = Bm25.topK(c, qs, "doc_id", "text", "query_id", "qtext", k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(0L, 1L))
  }

  test("repeated query terms do not double-score (set-of-terms model)") {
    val q1 = Seq((1L, "spark")).toDF("query_id", "qtext")
    val q2 = Seq((1L, "spark spark spark")).toDF("query_id", "qtext")
    def res(q: org.apache.spark.sql.DataFrame) =
      Bm25.topK(corpus, q, "doc_id", "text", "query_id", "qtext", k = 10)
        .select("doc_id", "score_micros").as[(Long, Long)].collect().toSet
    assert(res(q1) == res(q2))
  }

  test("stored index reproduces the one-shot ranking exactly") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val qs = Seq((1L, "spark join table"), (2L, "window agg stream"))
      .toDF("query_id", "qtext")
    val direct = Bm25.topK(docs, qs, "doc_id", "text", "query_id", "qtext", k = 10)
    val dir = graft.TempDirs.scratch("bm25ix")
    Bm25.buildIndex(docs, "doc_id", "text", dir)
    val probed = Bm25.scoreAgainstIndex(
      spark.read.parquet(s"$dir/postings"), spark.read.parquet(s"$dir/stats"),
      qs, "query_id", "qtext", k = 10)
    assert(direct.exceptAll(probed).isEmpty && probed.exceptAll(direct).isEmpty)
    assert(direct.count() > 0)
  }

  test("prf: expansion terms come from feedback docs and exclude originals") {
    // query hits doc A; doc A also contains 'automobile'; doc B contains
    // 'automobile' but not 'car' — PRF must surface B, plain BM25 cannot
    val c = Seq(
      (0L, "car engine car road"),
      (1L, "automobile engine road trip"),
      (2L, "automobile highway journey"),
      (3L, "kitchen recipe soup"),
      (4L, "garden flower tree")).toDF("doc_id", "text")
    val qs = Seq((1L, "car")).toDF("query_id", "qtext")
    val plain = Bm25.topK(c, qs, "doc_id", "text", "query_id", "qtext", k = 10)
      .select("doc_id").as[Long].collect().toSet
    val prf = Bm25.prfTopK(c, qs, "doc_id", "text", "query_id", "qtext",
      k = 10, fb = 1, expand = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(plain == Set(0L))
    assert(prf.contains(0L) && (prf.contains(1L) || prf.contains(2L)),
      s"expansion should recall automobile docs, got $prf")
    assert(!prf.contains(3L) || !prf.contains(4L),
      "unrelated docs should not both enter via expansion")
  }

  test("percolate: unseen terms carry df=0 (maximal idf); frozen stats") {
    val qs = Seq((1L, "spark zzznovel")).toDF("query_id", "qtext")
    val post = Bm25.postings(corpus, "doc_id", "text")
    val batch = Seq((100L, "zzznovel spark zzznovel")).toDF("doc_id", "text")
    val got = Bm25.percolate(Bm25.termDf(post), Bm25.corpusStats(corpus, "text"),
      qs, "query_id", "qtext", batch, "doc_id", "text")
      .select("doc_id", "n_terms_hit").as[(Long, Long)].collect().toSeq
    assert(got == Seq((100L, 2L))) // both terms matched, unseen one included
  }

  test("streaming percolation via foreachBatch == batch percolation") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val qs = Seq((1L, "spark join table"), (2L, "tables rows")).toDF("query_id", "qtext")
    val post = Bm25.postings(corpus, "doc_id", "text").cache()
    val tdf = Bm25.termDf(post).cache()
    val st = Bm25.corpusStats(corpus, "text").cache()
    val incoming = Seq((100L, "spark tables ahead"), (101L, "rows of tables"),
      (102L, "nothing relevant here"))
    val expected = Bm25.percolate(tdf, st, qs, "query_id", "qtext",
      incoming.toDF("doc_id", "text"), "doc_id", "text")
      .select("query_id", "doc_id", "score_micros")
      .as[(Long, Long, Long)].collect().toSet
    val got = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= Bm25.percolate(tdf, st, qs, "query_id", "qtext",
            batch, "doc_id", "text")
            .select("query_id", "doc_id", "score_micros")
            .as[(Long, Long, Long)].collect()
        }
        ()
      }.start()
    try {
      input.addData(incoming(0), incoming(1))
      q.processAllAvailable()
      input.addData(incoming(2))
      q.processAllAvailable()
    } finally q.stop()
    assert(got.toSet == expected && expected.nonEmpty)
  }

  test("versioned index: queries see frozen stats until the swap, new after") {
    val dir = TempDirs.scratch("bm25_versioned_")
    val docsV1 = Seq((0L, "alpha beta"), (1L, "beta gamma")).toDF("doc_id", "text")
    // v2 corpus: alpha becomes common (df 3 of 4) — scores must change
    val docsV2 = Seq((0L, "alpha beta"), (1L, "beta gamma"),
      (2L, "alpha alpha"), (3L, "alpha delta")).toDF("doc_id", "text")
    val qs = Seq((1L, "alpha")).toDF("query_id", "qtext")

    assert(Bm25.currentIndexVersion(dir).isEmpty)
    assert(Bm25.refreshIndex(docsV1, "doc_id", "text", dir) == "v000001")
    assert(Bm25.currentIndexVersion(dir).contains("v000001"))

    // a reader opened NOW freezes on v1
    val (postV1, statsV1) = Bm25.openIndex(spark, dir)
    val scoreUnderV1 = Bm25.scoreAgainstIndex(postV1, statsV1, qs,
      "query_id", "qtext", k = 10)
      .select("doc_id", "score_micros").as[(Long, Long)].collect().toMap

    // rebuild from the grown corpus and swap
    assert(Bm25.refreshIndex(docsV2, "doc_id", "text", dir) == "v000002")
    assert(Bm25.currentIndexVersion(dir).contains("v000002"))

    // the pre-swap handle still reads v1 bytes: identical result
    val scoreOldHandle = Bm25.scoreAgainstIndex(postV1, statsV1, qs,
      "query_id", "qtext", k = 10)
      .select("doc_id", "score_micros").as[(Long, Long)].collect().toMap
    assert(scoreOldHandle == scoreUnderV1)

    // a reader opened after the swap sees the new statistics: alpha's
    // idf dropped (df 1/2 -> 3/4) and new docs match
    val (postV2, statsV2) = Bm25.openIndex(spark, dir)
    val scoreUnderV2 = Bm25.scoreAgainstIndex(postV2, statsV2, qs,
      "query_id", "qtext", k = 10)
      .select("doc_id", "score_micros").as[(Long, Long)].collect().toMap
    assert(scoreUnderV2.keySet == Set(0L, 2L, 3L))
    assert(scoreUnderV2(0L) != scoreUnderV1(0L))

    // percolation under the frozen old handle vs the new one diverges
    // the same way (df changes the weight), proving the swap boundary
    // is the ONLY place stats change
    val batch = Seq((100L, "alpha alpha beta")).toDF("doc_id", "text")
    val pOld = Bm25.percolate(Bm25.termDf(postV1), statsV1, qs, "query_id", "qtext",
      batch, "doc_id", "text").select("score_micros").as[Long].head()
    val pNew = Bm25.percolate(Bm25.termDf(postV2), statsV2, qs, "query_id", "qtext",
      batch, "doc_id", "text").select("score_micros").as[Long].head()
    assert(pOld != pNew)

    // prune keeps the current version
    assert(Bm25.pruneIndexVersions(dir, keep = 1) == Seq("v000001"))
    assert(Bm25.currentIndexVersion(dir).contains("v000002"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "v000001")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "v000002")))
  }

  test("concurrent refreshes: pointer lands on the highest version, never backwards") {
    // the r10 TOCTOU fix: without the pointer lock, two writers
    // finishing near-simultaneously could interleave between the
    // stillNewest read and the _CURRENT move, letting the LOWER
    // version repoint last. Under the lock the final pointer is
    // always the max of the published versions.
    val dir = TempDirs.scratch("bm25_concurrent_refresh_")
    val docs = Seq((0L, "alpha beta"), (1L, "beta gamma")).toDF("doc_id", "text")
    val published = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val threads = (1 to 6).map { _ =>
      new Thread(() => published.add(Bm25.refreshIndex(docs, "doc_id", "text", dir)))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val versions = published.asScala.toSeq.sorted
    assert(versions.size == 6, s"version collision: $versions")
    assert(Bm25.currentIndexVersion(dir).contains(versions.max))
    // every published version is a complete, openable directory
    versions.foreach { v =>
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, v, "postings")))
    }
    // the lock file is plumbing, not a version: prune must ignore it
    // and leave the current version standing
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_CURRENT.lockfile")))
    val doomed = Bm25.pruneIndexVersions(dir, keep = 1)
    assert(doomed.toSet == versions.dropRight(1).toSet)
    assert(Bm25.currentIndexVersion(dir).contains(versions.max))
  }

  test("streaming percolator survives an index swap mid-stream: old stats until, new after") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = TempDirs.scratch("bm25_stream_versioned_")
    val docsV1 = Seq((0L, "alpha beta"), (1L, "beta gamma")).toDF("doc_id", "text")
    val docsV2 = Seq((0L, "alpha beta"), (1L, "beta gamma"),
      (2L, "alpha alpha"), (3L, "alpha delta")).toDF("doc_id", "text")
    val qs = Seq((1L, "alpha")).toDF("query_id", "qtext")
    val doc = (100L, "alpha alpha beta")

    Bm25.refreshIndex(docsV1, "doc_id", "text", dir)
    // the SAME doc percolated under each version's frozen stats — the
    // batch-mode truth the stream must reproduce on each swap side
    def batchScore(): Long = {
      val (post, st) = Bm25.openIndex(spark, dir)
      Bm25.percolate(Bm25.termDf(post), st, qs, "query_id", "qtext",
        Seq(doc).toDF("doc_id", "text"), "doc_id", "text")
        .select("score_micros").as[Long].head()
    }
    val scoreV1 = batchScore()

    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    val input = MemoryStream[(Long, String)]
    val q = Bm25.percolateStreamVersioned(dir, qs, "query_id", "qtext",
      input.toDF().toDF("doc_id", "text"), "doc_id", "text") { (m, batchId, v) =>
      got.synchronized {
        got ++= m.select("doc_id", "score_micros").as[(Long, Long)].collect()
          .map { case (d, s) => (batchId, v, d, s) }
      }
    }
    try {
      input.addData(doc)
      q.processAllAvailable()
      // swap mid-stream, then the SAME doc again
      Bm25.refreshIndex(docsV2, "doc_id", "text", dir)
      val scoreV2 = batchScore()
      input.addData(doc)
      q.processAllAvailable()
      assert(scoreV1 != scoreV2, "the corpus change must move the score")
      val byBatch = got.sortBy(_._1)
      assert(byBatch.map(_._2) == Seq("v000001", "v000002"),
        s"each batch must carry the version it scored under: $got")
      assert(byBatch.map(_._4) == Seq(scoreV1, scoreV2),
        s"stream must equal batch percolation on each side of the swap: $got")
    } finally q.stop()
  }

  test("streaming percolator releases a replaced version's checkpointed sides") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val dir = TempDirs.scratch("bm25_stream_release_")
    val qs = Seq((1L, "alpha")).toDF("query_id", "qtext")
    def publish(n: Int): Unit = Bm25.refreshIndex(
      (0 until n).map(i => (i.toLong, s"alpha beta w$i")).toDF("doc_id", "text"), "doc_id", "text", dir)
    publish(2)
    val before = persistentIds
    val input = MemoryStream[(Long, String)]
    val q = Bm25.percolateStreamVersioned(dir, qs, "query_id", "qtext",
      input.toDF().toDF("doc_id", "text"), "doc_id", "text") { (m, _, _) => m.collect(); () }
    try {
      input.addData((100L, "alpha"))
      q.processAllAvailable()
      val first = persistentIds -- before
      assert(first.size == 2, "one version holds its term and stats sides")
      Seq(3, 4).foreach { n =>
        publish(n)
        input.addData((100L + n, "alpha"))
        q.processAllAvailable()
      }
      val held = persistentIds -- before
      assert(held.size == 2 && (held & first).isEmpty,
        s"after two swaps only the current version's sides stay: $held (first $first)")
    } finally q.stop()
  }
}
