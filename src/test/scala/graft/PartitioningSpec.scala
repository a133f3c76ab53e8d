package graft

import org.apache.spark.sql.functions._
import graft.operators.{Contamination, Partitioning}
import graft.operators.dedup.Dedup
import graft.operators.text.TextAnalysis

class PartitioningSpec extends SparkSpec {

  test("saltedAggregate equals the plain aggregate on a skewed key") {
    import spark.implicits._
    // 90% of rows share one key — the classic straggler shape
    val skewed = spark.range(10000)
      .select(when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id")).as("k"),
        col("id").as("v"))
    val plain = skewed.groupBy("k")
      .agg(sum("v").as("s"), count(lit(1)).as("n"))
      .as[(Long, Long, Long)].collect().toSet
    val salted = Partitioning.saltedAggregate(skewed, "k", nSalts = 8)(
      g => g.agg(sum("v").as("ps"), count(lit(1)).as("pn")),
      g => g.agg(sum("ps").as("s"), sum("pn").as("n"))
    ).as[(Long, Long, Long)].collect().toSet
    assert(salted == plain)
  }

  test("salted partial stage splits the hot key across sub-groups") {
    import spark.implicits._
    val skewed = spark.range(1000).repartition(8)
      .select(lit(1L).as("k"), col("id").as("v"))
    val partials = Partitioning.saltedAggregate(skewed, "k", nSalts = 8)(
      g => g.agg(count(lit(1)).as("pn")),
      g => g.agg(count(lit(1)).as("n_subgroups"))
    ).as[(Long, Long)].collect().toMap
    assert(partials(1L) > 1, s"hot key must split into multiple sub-groups, got ${partials(1L)}")
  }

  test("saltedJoin equals the plain inner join on a skewed probe key") {
    import spark.implicits._
    // 90% of fact rows hit one dimension key; some keys match nothing
    val fact = spark.range(10000)
      .select(when(col("id") % 10 =!= 0, lit(1L)).otherwise(col("id") % 50).as("k"),
        col("id").as("v"))
    val dim = spark.range(40).select(col("id").as("k"), concat(lit("d"), col("id")).as("label"))
    val plain = fact.join(dim, Seq("k")).select("k", "v", "label")
      .as[(Long, Long, String)].collect().toSet
    val salted = Partitioning.saltedJoin(fact, dim, "k", nSalts = 8)
      .select("k", "v", "label").as[(Long, Long, String)].collect().toSet
    assert(salted == plain)
    // the physical join key carries the salt and the dim side shuffles
    val p = Partitioning.saltedJoin(fact, dim, "k", nSalts = 8)
      .queryExecution.executedPlan.toString
    assert(p.contains("__salt"), s"join must key on (k, __salt):\n$p")
    assert(p.contains("ShuffledHashJoin"), s"replicated dim must shuffle, not broadcast:\n$p")
    intercept[IllegalArgumentException] {
      Partitioning.saltedJoin(fact.withColumn("__salt", lit(1)), dim, "k", 8)
    }
  }

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def checkpointRddId(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.logical.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id

  test("pinned releases once and checkpoint pins on success and on a throw") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val before = persistentIds
    def body(fail: Boolean)(pins: Partitioning.Pins): Long = {
      val a = pins.once(spark.range(100).toDF("id"))
      val b = pins.checkpoint(a.filter(col("id") % 2 === 0))
      assert(!cm.isEmpty, "once must register its pin")
      assert((persistentIds -- before).size == 2, "both pins must hold blocks inside the scope")
      if (fail) b.select(raise_error(lit("body failure"))).collect()
      b.count()
    }
    assert(Partitioning.pinned(body(fail = false)) == 50L)
    assert(cm.isEmpty, "a finished scope must not leave its once pin cached")
    assert(persistentIds -- before == Set.empty, "a finished scope must drop its checkpoint")
    val e = intercept[Exception] { Partitioning.pinned(body(fail = true)) }
    assert(String.valueOf(e.getMessage).contains("body failure"), e.getMessage)
    assert(cm.isEmpty, "a failed scope must not leave its once pin cached")
    assert(persistentIds -- before == Set.empty, "a failed scope must drop its checkpoint")
  }

  test("pins.release drops a pin now; pins.keep hands a checkpoint out") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val before = persistentIds
    val out = Partitioning.pinned { pins =>
      val a = pins.once(spark.range(10).toDF("id"))
      val b = pins.checkpoint(a.select((col("id") * 2).as("id")))
      pins.release(a)
      assert(cm.isEmpty, "release must unpersist a once pin now")
      pins.keep(b)
    }
    assert(persistentIds -- before == Set(checkpointRddId(out)))
    assert(out.agg(sum("id")).head().getLong(0) == 90L, "a kept checkpoint stays readable")
  }

  test("pageRank and connectedComponents keep only their output checkpoint") {
    import spark.implicits._
    val edges = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d", "e" -> "a").toDF("src", "dst")
    val before = persistentIds
    val ranks = graft.operators.LinkGraph.pageRank(edges, "src", "dst", iterations = 3)
    assert(persistentIds -- before == Set(checkpointRddId(ranks)),
      "pageRank must release its edge, degree, node and superseded round checkpoints")
    assert(ranks.count() == 5L)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("id_a", "id_b")
    val before2 = persistentIds
    // the label rounds: a small graph takes union-find unless broadcasts are off
    val labels = withoutBroadcast(Dedup.connectedComponents(pairs))
    assert(persistentIds -- before2 == Set(checkpointRddId(labels)),
      "connectedComponents must release its edge pins and superseded label rounds")
    assert(labels.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("connectedComponents' union-find pins nothing and adds one job to its edge pin") {
    import spark.implicits._
    val cm = spark.sharedState.cacheManager
    // the pair list carries an exchange, as a pair pipeline does
    val pairs = spark.range(0, 400).groupBy((col("id") % 100).as("id_a"))
      .agg(count(lit(1)).as("n"))
      .select(col("id_a"), (col("id_a") + 1).as("id_b"))
    cm.clearCache()
    val before = persistentIds
    val labels = inGroup("cc-small")(Dedup.connectedComponents(pairs))
    assert(cm.isEmpty, "union-find must release the edge-list pin")
    assert(persistentIds -- before == Set.empty, "union-find must leave no block RDD")
    // the count that pins the edge list, then one collect reads it back
    inGroup("cc-pin")(Partitioning.pinned(_.once(pairs.select(col("id_a"), col("id_b")))))
    assert(jobsIn("cc-small").size == jobsIn("cc-pin").size + 1,
      s"jobs: ${jobsIn("cc-small")} against the pin's ${jobsIn("cc-pin")}")
    assert(labels.as[(Long, Long)].collect().toSet == (0L to 100L).map(_ -> 0L).toSet)
  }

  test("building an operator's lazy frame over an exchange-fed input runs no Spark job") {
    import spark.implicits._
    val docs = (0 until 60).map(i => (i.toLong, s"alpha beta gamma delta w${i % 7} epsilon zeta"))
      .toDF("doc_id", "text")
    // the train frame carries an exchange: a left_semi join on an aggregated range
    val kept = spark.range(0, 120).groupBy((col("id") % 40).as("doc_id")).agg(count(lit(1)).as("n"))
    val train = docs.join(kept, Seq("doc_id"), "left_semi")
    val eval = docs.filter(col("doc_id") >= 40)
    val built = inGroup("lazy-build") {
      Seq(Contamination.evalOverlap(train, eval, "doc_id", "text", n = 3, minOverlap = 0.1),
        TextAnalysis.profile(train, "doc_id", "text"),
        Dedup.ngramJaccardPairs(train, "doc_id", "text", n = 3, threshold = 0.5))
    }
    assert(jobsIn("lazy-build").isEmpty, s"jobs run while building: ${jobsIn("lazy-build")}")
    // the frames still run: the 40 joined train docs profile one row each
    assert(built(1).count() == 40)
    assert(built(0).count() > 0 && built(2).count() > 0)
  }
}
