package graft

import org.apache.spark.sql.functions._
import graft.operators.Partitioning

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

  test("releasePinsAfter releases its pins when the output checkpoint throws") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val pin = Partitioning.materializeOnce(spark.range(100).toDF("id"))
    assert(!cm.isEmpty, "materializeOnce must register its pin")
    val failing = pin.select(
      when(col("id") === 7L, raise_error(lit("checkpoint failure"))).otherwise(col("id")).as("id"))
    val e = intercept[Exception] { Partitioning.releasePinsAfter(failing, pin) }
    assert(String.valueOf(e.getMessage).contains("checkpoint failure"), e.getMessage)
    assert(cm.isEmpty, "a failed checkpoint must not leave its pins cached")
  }
}
