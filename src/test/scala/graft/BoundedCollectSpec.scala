package graft

import org.apache.spark.sql.functions._
import graft.functions.BoundedCollectList

/** Semantics of the capped collect aggregate that guards every dedup
  * bucket build: identical-to-collect_list for groups within the cap,
  * bounded (cap+1) for hot groups so the downstream size filter drops
  * them without ever materializing the full member list.
  */
class BoundedCollectSpec extends SparkSpec {
  import spark.implicits._

  test("groups within the cap collect exactly the collect_list element set") {
    val df = Seq((1, 10L), (1, 11L), (2, 20L), (2, 21L), (2, 22L), (3, 30L))
      .toDF("k", "v")
    val bounded = df.groupBy($"k")
      .agg(BoundedCollectList.column($"v", 5).as("m"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toSet).toMap
    val reference = df.groupBy($"k")
      .agg(collect_list($"v").as("m"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toSet).toMap
    assert(bounded == reference)
  }

  test("a hot group stops at cap+1 elements and is dropped by the size filter") {
    val hot = spark.range(100000).select(lit(1).as("k"), $"id".as("v"))
    val cold = Seq((2, 1L), (2, 2L)).toDF("k", "v")
    val cap = 50
    val agged = hot.union(cold).repartition(8).groupBy($"k")
      .agg(BoundedCollectList.column($"v", cap).as("m"))
    val sizes = agged.select($"k", size($"m").as("n")).collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(sizes(1) == cap + 1, "hot group buffer must cap at limit+1")
    assert(sizes(2) == 2)
    val kept = agged.filter(size($"m").between(2, cap)).select($"k").as[Int].collect()
    assert(kept.toSeq == Seq(2))
  }

  test("struct elements round-trip through the capped buffer") {
    val df = Seq((1, 10L, 3), (1, 11L, 4)).toDF("k", "id", "n")
    val out = df.groupBy($"k")
      .agg(BoundedCollectList.column(struct($"id", $"n"), 10).as("m"))
      .select(explode($"m").as("e"))
      .select($"e.id", $"e.n")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(out == Set((10L, 3), (11L, 4)))
  }

  test("connectedComponents converges via pointer jumping on a long chain") {
    // A 40-node path graph has diameter 39 > maxIters=20: plain edge
    // propagation would exit unconverged (and now throw); pointer
    // jumping converges in O(log d) rounds. Broadcasts off: a graph this
    // small otherwise takes the driver union-find path, not the rounds.
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = withoutBroadcast(graft.operators.dedup.Dedup.connectedComponents(pairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 40)
    assert(labels.values.forall(_ == 0L), "every chain node must reach cluster 0")
  }
}
