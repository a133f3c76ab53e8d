package graft

import org.apache.spark.sql.functions._
import graft.operators.TrainingDataPipeline

class TrainingDataPipelineSpec extends SparkSpec {

  test("curate: gates quality/language, drops exact and near dups, keeps representatives") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog and it is fine. " * 5), // en, keeper
      (2L, "The quick brown fox jumps over the lazy dog and it is fine. " * 5), // exact dup of 1
      (3L, "The quick brown fox jumps over the lazy dog and it is good. " * 5), // near dup of 1
      (4L, "zzz qqq xxx"),                                                      // und -> gated out
      (5L, "Der Hund ist nicht zu Hause und das ist auch gut so heute. " * 5)   // de, keeper
    ).toDF("doc_id", "text")
    val out = TrainingDataPipeline.curate(docs, "doc_id", "text",
        minQuality = 0.5, jaccardThreshold = 0.5)
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L, 5L), out.toString)
    assert(out(1L) == "en" && out(5L) == "de")
  }

  test("curateTo: row-identical to curate, pin released after the write, lineage = files") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog and it is fine. " * 5),
      (2L, "The quick brown fox jumps over the lazy dog and it is fine. " * 5),
      (3L, "The quick brown fox jumps over the lazy dog and it is good. " * 5),
      (4L, "zzz qqq xxx"),
      (5L, "Der Hund ist nicht zu Hause und das ist auch gut so heute. " * 5)
    ).toDF("doc_id", "text")
    val outDir = TempDirs.scratch("curate_to_") + "/corpus"
    // the shared session may hold fixture pins from other tests — the
    // contract under test is "curateTo adds none", so start clean (the
    // same discipline as PlanQualitySpec's pin-hygiene test)
    spark.sharedState.cacheManager.clearCache()
    val viaWrite = TrainingDataPipeline.curateTo(docs, "doc_id", "text", outDir,
      minQuality = 0.5, jaccardThreshold = 0.5)
    val lazyForm = TrainingDataPipeline.curate(docs, "doc_id", "text",
      minQuality = 0.5, jaccardThreshold = 0.5)
    assert(viaWrite.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toSeq)
      == lazyForm.collect().toSet.map((r: org.apache.spark.sql.Row) => r.toSeq))
    // the write-through pin must not outlive the call
    assert(spark.sharedState.cacheManager.isEmpty,
      "curateTo leaked its working-set pin into the session cache")
    // and the returned frame reads the written files (survives a fresh read)
    assert(spark.read.parquet(outDir).count() == viaWrite.count())
  }

  test("curateTo: reads its output back with the written schema, not a schema-inference job") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog and it is fine. " * 5),
      (2L, "Der Hund ist nicht zu Hause und das ist auch gut so heute. " * 5)
    ).toDF("doc_id", "text")
    val outDir = TempDirs.scratch("curate_to_schema_") + "/corpus"
    val viaWrite = inGroup("curate-to-schema")(TrainingDataPipeline.curateTo(docs, "doc_id", "text",
      outDir, minQuality = 0.5, jaccardThreshold = 0.5))
    val inferred = inGroup("curate-to-infer")(spark.read.parquet(outDir))
    assert(viaWrite.schema == inferred.schema)
    // jobs the status tracker saw, less those of a SQL query execution
    // (the status store hears job events on the same queue, so it has
    // caught up once jobsIn has)
    def outsideQueries(group: String): Seq[Int] = {
      val ids = jobsIn(group)
      val inQueries = spark.sharedState.statusStore.executionsList().flatMap(_.jobs.keys).toSet
      ids.filterNot(inQueries)
    }
    // inferring a parquet schema is one job outside any query ...
    assert(outsideQueries("curate-to-infer").size == 1)
    // ... which curateTo no longer runs
    assert(outsideQueries("curate-to-schema").isEmpty,
      s"curateTo ran jobs outside a query: ${outsideQueries("curate-to-schema")}")
    assert(viaWrite.select("doc_id").as[Long].collect().toSet == Set(1L, 2L))
  }

  test("curateTo: a failed write releases the working-set pin") {
    import spark.implicits._
    val docs = Seq(
      (1L, "The quick brown fox jumps over the lazy dog and it is fine. " * 5),
      (2L, "The quick brown fox jumps over the lazy dog and it is fine. " * 5),
      (3L, "Der Hund ist nicht zu Hause und das ist auch gut so heute. " * 5)
    ).toDF("doc_id", "text")
    // an output path below a regular file cannot be created
    val blocker = new java.io.File(TempDirs.scratch("curate_to_fail_"), "not_a_dir")
    java.nio.file.Files.write(blocker.toPath, Array[Byte](1))
    spark.sharedState.cacheManager.clearCache()
    intercept[Exception] {
      TrainingDataPipeline.curateTo(docs, "doc_id", "text", s"${blocker.getPath}/corpus",
        minQuality = 0.5, jaccardThreshold = 0.5)
    }
    assert(spark.sharedState.cacheManager.isEmpty,
      "a failed curateTo write leaked its working-set pin into the session cache")
  }

  test("ingest: gate, dedup vs index, split — fresh quality docs enter with a split") {
    import spark.implicits._
    val index = Seq(
      (1L, "The quick brown fox jumps over the lazy dog and it is fine. " * 5)
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "The quick brown fox jumps over the lazy dog and it is fine. " * 5), // dup of index
      (101L, "The quick brown fox jumps over the lazy dog and it is good. " * 5), // near dup
      (102L, "zzz qqq xxx"),                                                      // und -> gated out
      (103L, "Der Hund ist nicht zu Hause und das ist auch gut so heute. " * 5)   // fresh keeper
    ).toDF("doc_id", "text")
    val out = TrainingDataPipeline.ingest(index, batch, "doc_id", "text")
      .select("doc_id", "lang_pred", "split").as[(Long, String, String)].collect()
    assert(out.map(_._1).toSet == Set(103L), out.mkString(","))
    assert(out.head._2 == "de" && Set("train", "val", "test").contains(out.head._3))
    // rerun gives the identical split (determinism)
    val again = TrainingDataPipeline.ingest(index, batch, "doc_id", "text")
      .select("split").as[String].head()
    assert(again == out.head._3)
  }

  test("leakFreeSplit: near-dup clusters never straddle a split boundary") {
    import spark.implicits._
    val base = "The quick brown fox jumps over the lazy dog and it is fine today. "
    val docs = Seq(
      (1L, base * 5),                                       // cluster {1,2,3}
      (2L, (base * 5).replace("fine", "good")),
      (3L, (base * 5).replace("lazy", "calm")),
      (10L, "Der Hund ist nicht zu Hause und das ist auch gut so heute ja. " * 5),
      (11L, "ganz anderes thema hier ohne jede ueberlappung mit anderen texten. " * 5)
    ).toDF("doc_id", "text")
    val out = TrainingDataPipeline.leakFreeSplit(docs, "doc_id", "text")
      .as[(Long, Long, String)].collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    // the whole near-dup cluster shares rep 1 and therefore one split
    assert(Seq(1L, 2L, 3L).map(byId(_)._2).distinct == Seq(1L))
    assert(Seq(1L, 2L, 3L).map(byId(_)._3).distinct.size == 1)
    // singletons represent themselves
    assert(byId(10L)._2 == 10L && byId(11L)._2 == 11L)
    assert(out.forall(r => Set("train", "val", "test").contains(r._3)))
  }
}
