package graft

import org.apache.spark.sql.functions._
import graft.operators.dedup.{Dedup, MinHashDedup, SimHashDedup}

/** Dedup family: exact semantics on synthetic dups; minhash/simhash
  * accuracy against brute-force ground truth on the fixture corpus
  * (these are the ScalaTest oracles for the rows-only queries).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, sf, "documents")

  test("graft_md5_60 == the conv(substring(md5)) chain, bit for bit") {
    // the fused native expression must be indistinguishable from the
    // declarative chain every oracle replays — over ascii, unicode
    // (astral plane included), empty, long, and NULL inputs, via both
    // the codegen'd projection AND the interpreted HOF path
    val rnd = new scala.util.Random(77)
    val pool = "abcXYZ09 _-ä中🙂\té😀"
    val strs = Seq("", "a", "hello world", "🙂" * 10, pool, "x" * 5000) ++
      (0 until 200).map(_ => (0 until rnd.nextInt(40)).map(_ =>
        pool(rnd.nextInt(pool.length))).mkString) :+ null.asInstanceOf[String]
    val df = strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("i", "s")
    val cmp = df.select(
      call_function("graft_md5_60", col("s")).as("fused"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("chain"),
      // HOF path: the lambda evaluates interpreted
      element_at(transform(array(col("s")),
        t => call_function("graft_md5_60", t)), 1).as("hof"))
    assert(cmp.filter(!(col("fused") <=> col("chain")) ||
      !(col("fused") <=> col("hof"))).isEmpty,
      "fused md5-60 diverged from the declarative chain")
    // and the SQL surface resolves it
    assert(spark.sql("SELECT graft_md5_60('abc')").as[Long].head() ==
      df.sparkSession.range(1).select(
        conv(substring(md5(lit("abc")), 1, 15), 16, 10).cast("long")).as[Long].head())
  }

  test("exact dedup groups whitespace/case variants") {
    val d = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, " HELLO WORLD \n"),
      (4L, "different")
    ).toDF("doc_id", "text")
    val out = Dedup.exact(d, "doc_id", "text").collect()
    assert(out.length == 2)
    val grp = out.find(_.getLong(2) == 3L).get
    assert(grp.getLong(1) == 1L) // keep min id
  }

  test("shingles: distinct word n-grams") {
    val d = Seq((1L, "a b c d")).toDF("id", "t")
    val sh = d.select(Dedup.shingles(col("t"), 3).as("s")).as[Seq[String]].head()
    assert(sh.toSet == Set("a b c", "b c d"))
    val short = Seq((1L, "a b")).toDF("id", "t")
      .select(Dedup.shingles(col("t"), 3).as("s")).as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("ngram jaccard finds the planted near-dup pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
    assert(pairs.count() > 0)
    // every reported pair must truly have jaccard >= threshold (recompute one)
    val all = pairs.select("jaccard").as[Double].collect()
    assert(all.forall(_ >= 0.5))
  }

  /** The production MinHash configuration (`dedup_minhash`): k=64, 16 bands. */
  private def minhash64(): Array[(Long, Long, Double)] =
    MinHashDedup.portablePairs(docs, "doc_id", "text",
        n = 3, k = 64, numBands = 16, threshold = 0.5)
      .select("id_a", "id_b", "sig_frac").as[(Long, Long, Double)].collect()

  test("minhash est_jaccard tracks true jaccard on planted dups") {
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val mh = minhash64().map(p => (p._1, p._2)).toSet
    // recall: all high-jaccard pairs found by the sketch
    val recall = if (truth.isEmpty) 1.0 else truth.intersect(mh).size.toDouble / truth.size
    assert(recall >= 0.9, s"minhash recall $recall over ${truth.size} true pairs")
  }

  test("portable minhash finds planted dups with full signature agreement") {
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val pp = MinHashDedup.portablePairs(docs, "doc_id", "text",
        n = 3, k = 16, numBands = 4, threshold = 0.5)
      .select("id_a", "id_b", "sig_frac").as[(Long, Long, Double)].collect()
    val found = pp.map(r => (r._1, r._2)).toSet
    val recall = if (truth.isEmpty) 1.0 else truth.intersect(found).size.toDouble / truth.size
    assert(recall >= 0.9, s"portable minhash recall $recall over ${truth.size} true pairs")
    // identical docs must agree on every signature row
    val exact = Dedup.exact(docs, "doc_id", "text").filter(col("n_copies") > 1)
    if (!exact.isEmpty) assert(pp.exists(_._3 == 1.0), "no fully-agreeing pair on a corpus with exact dups")
  }

  test("fused shingle hashes == xxhash64 over the string shingles, order included") {
    val got = docs.select(
        Dedup.shingleHashes(col("text"), 3).as("fused"),
        transform(Dedup.shingles(col("text"), 3), s => xxhash64(s)).as("composed"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        "graft_shingle_hashes must be bit-identical to xxhash64(graft_shingles)")
    }
  }

  test("fused shingle md5-60s == graft_md5_60 over the string shingles, order included") {
    val got = docs.select(
        call_function("graft_shingle_md5_60", col("text"), lit(3)).as("fused"),
        transform(Dedup.shingles(col("text"), 3),
          s => call_function("graft_md5_60", s)).as("composed"))
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        "graft_shingle_md5_60 must be bit-identical to graft_md5_60(graft_shingles)")
    }
  }

  // The textbook MinHash over shingle hashes `h` already reduced mod p:
  // k separate min((a_j·h + b_j) mod p) aggregates, a_j and b_j written
  // out here from the closed form, independently of the kernel's
  // constants. The in-row kernel graft_minhash_md5 must match it.
  private val p31 = 2147483647L
  private def kMinSigs(hashed: org.apache.spark.sql.DataFrame, k: Int): Map[Long, Seq[Long]] = {
    def sq(v: BigInt): Long = (v * v).mod(p31).toLong
    def a(j: Int): Long = sq((BigInt(j + 1) * 1103515245L + 12345L).mod(p31))
    def b(j: Int): Long = sq((BigInt(j + 7919) * 1103515245L + 104729L).mod(p31))
    val minCols = (0 until k).map(j =>
      min((col("h") * lit(a(j)) + lit(b(j))) % lit(p31)).as(s"m$j"))
    hashed.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to k).map(r.getLong(_))).toMap
  }
  private def inRowSigs(corpus: org.apache.spark.sql.DataFrame, k: Int): Map[Long, Seq[Long]] =
    corpus
      .select(col("doc_id"),
        call_function("graft_minhash_md5", col("text"), lit(3), lit(k)).as("sig"))
      .filter(size(col("sig")) > 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("graft_minhash_md5 == declarative k-min over the conv(md5) shingle chain, k=16") {
    // reference hashes built from the string shingles through the SQL
    // md5 chain every oracle replays, not through graft_shingle_md5_60
    val k = 16
    val corpus = docs.select(col("doc_id"), col("text")).limit(100)
    val hashed = corpus
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), 3)).as("s"))
      .select(col("doc_id"),
        pmod(conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long"), lit(p31)).as("h"))
    val viaMins = kMinSigs(hashed, k)
    val inRow = inRowSigs(corpus, k)
    assert(viaMins.nonEmpty)
    assert(inRow == viaMins, "in-row signature diverged from the md5-chain k-min formulation")
  }

  test("graft_minhash_md5 == declarative k-min over graft_shingle_md5_60, k=16 and 64") {
    // the whole corpus plus edge docs; covers WHICH docs appear too
    // (no-shingle docs absent)
    val edges = Seq((100001L, ""), (100002L, "a b"), (100003L, "  \t "),
      (100004L, "x y z x y z x y z"), (100005L, "😀 中文 mixed CASE test"),
      (100006L, "vertical\u000btab separated words here"))
      .toDF("doc_id", "text")
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(edges)
    val hashed = corpus
      .select(col("doc_id"),
        explode(call_function("graft_shingle_md5_60", col("text"), lit(3))).as("h60"))
      .select(col("doc_id"), pmod(col("h60"), lit(p31)).as("h"))
    for (k <- Seq(16, 64)) {
      val viaMins = kMinSigs(hashed, k)
      val inRow = inRowSigs(corpus, k)
      assert(inRow.keySet == viaMins.keySet,
        s"k=$k: doc sets diverged (no-shingle docs must be absent)")
      assert(inRow.keySet.contains(100004L) && !inRow.keySet.contains(100002L),
        s"k=$k: edge docs misclassified")
      viaMins.foreach { case (id, sig) =>
        assert(inRow(id) == sig, s"k=$k doc $id: in-row signature diverged from the k-min formulation")
      }
    }
  }

  test("graft_norm_text == lower(trim(regexp_replace)) on every corpus doc + edge shapes") {
    val edges = spark.createDataFrame(Seq(
      (1L, "  \t\nMixed Case\f\r  text  "), (2L, ""), (3L, "  \t "),
      (4L, "Ä Ö Ü\nSTRASSE"), (5L, "a"), (6L, "İstanbul  CITY"),
      (7L, "😀  EMOJI run"))).toDF("doc_id", "text")
    Seq(docs.select(col("text")), edges.select(col("text"))).foreach { d =>
      val got = d.select(
          Dedup.normText(col("text")).as("fused"),
          lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("composed"))
        .collect()
      got.foreach { r =>
        assert(r.getString(0) == r.getString(1),
          s"graft_norm_text drifted from the SQL chain on ${r.getString(1).take(40)}")
      }
    }
  }

  test("incrementalAgainst drops exact and near copies of the index, keeps fresh docs") {
    val index = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely separate index content about databases")).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "The  quick brown fox jumps over the lazy dog"), // exact after norm
      (101L, "the quick brown fox jumps over the lazy cat"),  // near-dup (1 word off)
      (102L, "entirely fresh unrelated new crawl document")   // keep
    ).toDF("doc_id", "text")
    val kept = Dedup.incrementalAgainst(index, batch, "doc_id", "text", threshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(102L), s"got $kept")
    // an empty index keeps the whole batch
    val empty = index.filter(col("doc_id") < 0)
    assert(Dedup.incrementalAgainst(empty, batch, "doc_id", "text").count() == 3)
  }

  test("minhash estimate is close to true jaccard") {
    // brute-force Jaccard over the same shingle sets for EVERY reported
    // pair — a pair whose true overlap is near zero must not slip past
    // a join against a thresholded ground-truth table
    val est = minhash64()
    val shingles = docs.select(col("doc_id"), Dedup.shingles(col("text"), 3).as("sh"))
      .as[(Long, Seq[String])].collect().map { case (id, sh) => id -> sh.toSet }.toMap
    def jaccard(a: Long, b: Long): Double = {
      val (x, y) = (shingles(a), shingles(b))
      x.intersect(y).size.toDouble / x.union(y).size
    }
    val errs = est.map { case (a, b, f) => ((a, b), math.abs(f - jaccard(a, b))) }
    assert(errs.nonEmpty, "the fixture corpus has planted near-dups")
    val worst = errs.maxBy(_._2)
    assert(worst._2 < 0.25,
      s"64-perm estimate must be within 0.25 of true Jaccard; worst pair ${worst._1} off by ${worst._2}")
  }

  test("simhash: identical docs get identical fingerprints, near-dups small hamming") {
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely unrelated words about spark catalyst execution engines")
    ).toDF("doc_id", "text")
    val fps = d.select(col("doc_id"),
        SimHashDedup.simhash(split(Dedup.normText(col("text")), " ")))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(java.lang.Long.bitCount(fps(1L) ^ fps(3L)) > 10)
  }

  test("simhash pair search returns only verified-hamming pairs") {
    val pairs = SimHashDedup.portablePairs(docs, "doc_id", "text", maxDist = 3)
      .select("hamming").as[Int].collect()
    assert(pairs.forall(_ <= 3))
    assert(pairs.nonEmpty) // planted near-dups exist in the corpus
  }

  test("keepList drops the duplicate side of pairs") {
    val d = Seq((1L, "x"), (2L, "x"), (3L, "y")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val kept = Dedup.keepList(d, "doc_id", pairs).select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("Bloom-prefiltered incremental dedup is bit-identical to the exact anti-join") {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, sf, "documents")
    val index = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val viaBloom = Dedup.incrementalExactBloom(index, batch, "doc_id", "text",
        expectedItems = 10000L)
      .select("doc_id").as[Long].collect().toSet
    // ground truth: plain exact anti-join on normalized md5
    val idxHashes = index.select(md5(Dedup.normText(col("text"))).as("h"))
    val truth = batch.select(col("doc_id"), md5(Dedup.normText(col("text"))).as("h"))
      .join(idxHashes, Seq("h"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(viaBloom == truth)
    assert(truth.nonEmpty) // sf0.001 has no exact cross-split dups: all survive — equality above is the real check
    // the sketch tier is SHARDED like the frontier's: per-shard rows
    // joined by shard (shuffle-hash, never broadcast), probed via
    // graft_bloom_probe — no driver-merged might_contain literal that
    // would cap out at the 2 GB array ceiling on a corpus-sized index
    val plan = Dedup.incrementalExactBloom(index, batch, "doc_id", "text", 10000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_probe"), s"sharded bloom probe missing:\n$plan")
    assert(!plan.contains("might_contain"), "driver-merged sketch literal crept back")
    assert(plan.contains("ShuffledHashJoin [__shard"), s"sketch join must be shuffle-hash:\n$plan")
    assert(!plan.contains("BroadcastExchange"), "nothing corpus-sized may broadcast")
  }

  test("stored MinHash index: parquet round-trip probe == cross slice of in-corpus pairs") {
    import graft.operators.dedup.MinHashDedup
    val index = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val (bands, sigs) = MinHashDedup.buildPortableIndex(index, "doc_id", "text", 3, 16, 4)
    val dir = graft.TempDirs.scratch("graft-mhidx")
    bands.write.partitionBy("band").parquet(s"$dir/bands")
    sigs.write.parquet(s"$dir/sigs")
    val got = MinHashDedup.nearDupAgainstIndex(
        spark.read.parquet(s"$dir/bands"), spark.read.parquet(s"$dir/sigs"),
        batch, "doc_id", "text", 3, 16, 4, threshold = 0.5, maxBucket = 100000)
      .select("doc_id", "dup_of", "sig_frac")
      .as[(Long, Long, Double)].collect().toSet
    // with no bucket cap in play, the probe must equal exactly the
    // cross (batch x index) slice of the whole-corpus portable pairs
    val expected = MinHashDedup.portablePairs(docs, "doc_id", "text",
        n = 3, k = 16, numBands = 4, threshold = 0.5, maxBucket = 100000)
      .select("id_a", "id_b", "sig_frac").as[(Long, Long, Double)].collect()
      .flatMap { case (a, b, f) =>
        (a % 5 == 0, b % 5 == 0) match {
          case (true, false) => Some((b, a, f)) // (batch, index, frac)
          case (false, true) => Some((a, b, f))
          case _ => None
        }
      }.toSet
    assert(got == expected && got.nonEmpty)
  }

  test("streaming near-dup: per-micro-batch probe of the stored MinHash index == batch probe") {
    // the continual-ingest dedup shape: the index stands still, doc
    // batches flow through foreachBatch — each batch pays only its own
    // shingling + the banded bucket join, no state, no rebuild
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val index = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val batchDocs = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val (bands, sigs) = MinHashDedup.buildPortableIndex(index, "doc_id", "text", 3, 16, 4)
    val bandsC = bands.localCheckpoint(true); val sigsC = sigs.localCheckpoint(true)
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= MinHashDedup.nearDupAgainstIndex(bandsC, sigsC, b,
              "doc_id", "text", 3, 16, 4, threshold = 0.5, maxBucket = 100000)
            .select("doc_id", "dup_of").as[(Long, Long)].collect()
        }
        ()
      }.start()
    try {
      input.addData(batchDocs.take(batchDocs.size / 2): _*)
      q.processAllAvailable()
      input.addData(batchDocs.drop(batchDocs.size / 2): _*)
      q.processAllAvailable()
    } finally q.stop()
    val expected = MinHashDedup.nearDupAgainstIndex(bandsC, sigsC,
        batchDocs.toDF("doc_id", "text"), "doc_id", "text", 3, 16, 4,
        threshold = 0.5, maxBucket = 100000)
      .select("doc_id", "dup_of").as[(Long, Long)].collect().toSet
    assert(got.toSet == expected && expected.nonEmpty)
  }

  test("stored SimHash index: parquet round-trip probe == cross slice of in-corpus pairs") {
    import graft.operators.dedup.SimHashDedup
    val index = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val idx = SimHashDedup.buildPortableIndex(index, "doc_id", "text")
    val dir = graft.TempDirs.scratch("graft-shidx")
    idx.write.partitionBy("block_idx").parquet(s"$dir/idx")
    val got = SimHashDedup.nearDupAgainstIndex(
        spark.read.parquet(s"$dir/idx"), batch, "doc_id", "text",
        maxDist = 3, maxBucket = 100000)
      .select("doc_id", "dup_of", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    val expected = SimHashDedup.portablePairs(docs, "doc_id", "text",
        maxDist = 3, maxBucket = 100000)
      .select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
      .flatMap { case (a, b, hd) =>
        (a % 5 == 0, b % 5 == 0) match {
          case (true, false) => Some((b, a, hd))
          case (false, true) => Some((a, b, hd))
          case _ => None
        }
      }.toSet
    assert(got == expected && got.nonEmpty)
  }

  test("prefixJaccardPairs == uncapped brute-force truth on the fixture corpus") {
    // brute force: every shared-shingle pair, exact integer tau filter —
    // the prefix filter must lose nothing (SSJoin completeness theorem)
    val ex = docs.select(col("doc_id"), Dedup.shingleHashes(col("text"), 3).as("arr"))
      .filter(size(col("arr")) > 0)
      .select(col("doc_id"), size(col("arr")).cast("long").as("n"), explode(col("arr")).as("sh"))
    val a = ex.select(col("doc_id").as("id_a"), col("n").as("na"), col("sh"))
    val b = ex.select(col("doc_id").as("id_b"), col("n").as("nb"), col("sh"))
    val truth = a.join(b, "sh").filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "na", "nb").agg(count(lit(1)).as("common"))
      .filter(col("common") * 5 >= (col("na") + col("nb") - col("common")) * 3)
      .select("id_a", "id_b", "na", "nb", "common")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val got = Dedup.prefixJaccardPairs(docs, "doc_id", "text", n = 3, tauNum = 3, tauDen = 5)
      .select("id_a", "id_b", "na", "nb", "common")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(truth.nonEmpty, "fixture corpus should contain planted near-dups")
    assert(got == truth)
  }

  test("prefixJaccardPairs: hot stop-shingles never form candidate buckets") {
    // 40 docs all sharing one boilerplate opener (hot shingles), two
    // planted near-identical docs; rare-first prefixes must still meet
    val boiler = "terms of service apply to all"
    val d = ((1 to 40).map(i => (i.toLong, s"$boiler unique$i payload$i body$i tail$i")) ++
      Seq((100L, s"alpha beta gamma delta epsilon zeta eta theta"),
          (101L, s"alpha beta gamma delta epsilon zeta eta iota"))).toDF("doc_id", "text")
    val out = Dedup.prefixJaccardPairs(d, "doc_id", "text", n = 3, tauNum = 1, tauDen = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(out.contains((100L, 101L)))
    // boilerplate-only overlap stays below tau=1/2: no cross-boiler pairs
    assert(out.forall { case (x, y) => !(x <= 40 && y <= 40) })
  }

  test("stored prefix index: parquet round-trip probe == brute-force cross truth") {
    val dir = graft.TempDirs.scratch("graft-pfx")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val (dfT, pfx, sets) = Dedup.buildPrefixIndex(corpus, "doc_id", "text", 3, 1, 2)
    dfT.write.parquet(s"$dir/df"); pfx.write.parquet(s"$dir/pfx")
    sets.write.parquet(s"$dir/sets")
    val got = Dedup.prefixJaccardAgainstIndex(
        spark.read.parquet(s"$dir/df"), spark.read.parquet(s"$dir/pfx"),
        spark.read.parquet(s"$dir/sets"), batch, "doc_id", "text", 3, 1, 2)
      .select("batch_id", "index_id", "common")
      .as[(Long, Long, Long)].collect().toSet
    // brute force: every shared-shingle cross pair, exact tau filter
    def ex(df: org.apache.spark.sql.DataFrame, a: String) =
      df.select(col("doc_id").as(a), Dedup.shingleHashes(col("text"), 3).as("arr"))
        .filter(size(col("arr")) > 0)
        .select(col(a), size(col("arr")).cast("long").as(s"n_$a"), explode(col("arr")).as("sh"))
    val truth = ex(batch, "ba").join(ex(corpus, "ia"), "sh")
      .groupBy("ba", "ia", "n_ba", "n_ia").agg(count(lit(1)).as("common"))
      .filter(col("common") * 2 >= (col("n_ba") + col("n_ia") - col("common")) * 1)
      .select("ba", "ia", "common").as[(Long, Long, Long)].collect().toSet
    assert(truth.nonEmpty && got == truth)
  }

  test("connectedComponents: transitive closure over a chain and a cycle") {
    import spark.implicits._
    // chain 1-2-3-4, cycle 10-11-12-10, singleton pair 20-21
    val pairs = Seq((1L,2L),(2L,3L),(3L,4L),(10L,11L),(11L,12L),(12L,10L),(20L,21L))
      .toDF("id_a","id_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(cc(1L)==1L && cc(2L)==1L && cc(3L)==1L && cc(4L)==1L)
    assert(cc(10L)==10L && cc(11L)==10L && cc(12L)==10L)
    assert(cc(20L)==20L && cc(21L)==20L)
  }

  test("native SimHash64 matches the HOF reference formulation bit-for-bit") {
    import spark.implicits._
    val both = Tables.load(spark, sf, "documents").limit(200)
      .select(col("doc_id"),
        SimHashDedup.simhash(split(Dedup.normText(col("text")), " ")).as("native"),
        SimHashDedup.simhashViaHof(split(Dedup.normText(col("text")), " ")).as("ref"))
      .as[(Long, Long, Long)].collect()
    assert(both.forall { case (_, n, r) => n == r })
  }

  test("native graft_paragraphs matches the HOF slice formulation bit-for-bit") {
    val docs = Tables.load(spark, sf, "documents").limit(200)
    val words = split(Dedup.normText(col("text")), " ")
    val hof = transform(sequence(lit(0), ceil(size(words) / lit(10.0)).cast("int") - 1),
      i => concat_ws(" ", slice(words, i * 10 + 1, lit(10))))
    val both = docs.select(
        call_function("graft_paragraphs", col("text"), lit(10)).as("native"), hof.as("ref"))
      .collect()
    assert(both.nonEmpty && both.forall(r => r.getSeq[String](0) == r.getSeq[String](1)))
    // empty/whitespace-only text: one empty paragraph, like split('',' ')
    import spark.implicits._
    val edge = Seq("", "   ").toDF("text")
      .select(call_function("graft_paragraphs", col("text"), lit(10)).as("p")).collect()
    assert(edge.forall(_.getSeq[String](0) == Seq("")))
  }

  test("paragraphDedup: repeated block flagged corpus-wide, first occurrence keeps") {
    import spark.implicits._
    val boiler = (1 to 10).map(i => s"w$i").mkString(" ") // one exact 10-word block
    val docs = Seq(
      (1L, s"$boiler unique one " + (1 to 7).map(i => s"a$i").mkString(" ")),
      (2L, s"$boiler unique two " + (1 to 7).map(i => s"b$i").mkString(" ")),
      (3L, "completely different content here")
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs, "doc_id", "text")
      .orderBy("doc_id", "para_idx")
      .as[(Long, Int, String, Long, Boolean)].collect()
    // docs 1+2 share paragraph 0 (the boilerplate); doc 1's copy keeps
    val shared = out.filter(_._4 == 2L)
    assert(shared.map(r => (r._1, r._2, r._5)).toSeq === Seq((1L, 0, true), (2L, 0, false)))
    // every other paragraph is unique and kept
    assert(out.filterNot(_._4 == 2L).forall(r => r._4 == 1L && r._5))
    // doc 3 (4 words) yields exactly one short paragraph
    assert(out.count(_._1 == 3L) == 1)
  }

  test("containment catches a short doc quoted inside a long one; jaccard misses it") {
    val quote = "one two three four five six" // 4 shingles at n=3
    val host = s"${(1 to 14).map(i => s"u$i").mkString(" ")} $quote " +
      (15 to 28).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, quote), (2L, host),
      (3L, "irrelevant filler words beyond any overlap")).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(docs, "doc_id", "text", n = 3, threshold = 0.9)
      .as[(Long, Long, Double, Double)].collect().toSeq
    // every shingle of doc 1 appears in doc 2: containment 1.0 that way,
    // tiny the other way (host has 34 words -> 32 shingles)
    assert(cont === Seq((1L, 2L, 1.0, round4(4.0 / 32))))
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
    assert(jac.count() === 0, "symmetric jaccard must structurally miss the quotation")
  }

  private def round4(d: Double): Double =
    BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
