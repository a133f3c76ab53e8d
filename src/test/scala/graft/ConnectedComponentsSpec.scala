package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import graft.operators.dedup.Dedup

/** `Dedup.connectedComponents` has two paths: driver union-find for an
  * edge list Spark would broadcast, and pointer-jumping label rounds
  * above that size (forced here by turning broadcasts off). Both must
  * give the same rows and schema on any graph.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** A seeded random graph over shuffled ids, so no shape's min id sits
    * at a fixed position: a chain longer than 2^6, cycles, a sparse
    * random forest, duplicated and reversed edges, self-loops (one on a
    * node with no other edge) and, when `withNull`, one null endpoint.
    */
  private def randomGraph(seed: Long, withNull: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((1L to 600L).toVector)
    val edges = scala.collection.mutable.ArrayBuffer.empty[(Option[Long], Option[Long])]
    def edge(a: Long, b: Long): Unit = edges += ((Some(a), Some(b)))
    val chain = 65 + rnd.nextInt(60)
    (0 until chain - 1).foreach(i => edge(ids(i), ids(i + 1)))
    var at = chain
    (0 until 3).foreach { _ =>
      val len = 3 + rnd.nextInt(20)
      (0 until len).foreach(i => edge(ids(at + i), ids(at + (i + 1) % len)))
      at += len
    }
    (0 until 120).foreach(_ => edge(ids(at + rnd.nextInt(200)), ids(at + rnd.nextInt(200))))
    at += 200
    edges ++= rnd.shuffle(edges.toVector).take(40).map {
      case (a, b) if rnd.nextBoolean() => (b, a)
      case e => e
    }
    (0 until 5).foreach(_ => { val v = ids(rnd.nextInt(at)); edge(v, v) })
    edge(ids(at), ids(at))
    if (withNull) edges += ((Some(ids(rnd.nextInt(at))), None))
    rnd.shuffle(edges.toVector).toDF("id_a", "id_b")
  }

  private def rows(df: DataFrame): Seq[(Option[Long], Option[Long])] =
    df.select(col("node").cast("long"), col("cluster").cast("long"))
      .as[(Option[Long], Option[Long])].collect().toSeq.sortBy(_.toString)

  /** Both paths over `pairs`: same schema and rows, and each ran the path it was meant to. */
  private def assertParity(pairs: DataFrame): Seq[(Option[Long], Option[Long])] = {
    val small = Dedup.connectedComponents(pairs)
    val rounds = withoutBroadcast(Dedup.connectedComponents(pairs))
    assert(small.queryExecution.logical.isInstanceOf[LocalRelation], "small path must be union-find")
    assert(rounds.queryExecution.logical.isInstanceOf[LogicalRDD], "forced path must be the rounds")
    assert(small.schema == rounds.schema)
    val got = rows(small)
    assert(got == rows(rounds))
    got
  }

  Seq(1L -> false, 2L -> true, 3L -> false, 4L -> true).foreach { case (seed, withNull) =>
    test(s"union-find equals the label rounds on random graph seed $seed (null endpoint: $withNull)") {
      val got = assertParity(randomGraph(seed, withNull))
      assert(got.count(_._1.isEmpty) == (if (withNull) 1 else 0))
      // every cluster label is the min node of its cluster, and a node of its own cluster
      val byCluster = got.filter(_._1.nonEmpty).groupBy(_._2)
      assert(byCluster.forall { case (c, ms) => ms.map(_._1.get).min == c.get })
    }
  }

  test("union-find equals the label rounds on int ids, a long chain and an empty edge list") {
    val ints = (0 until 99).map(i => (i * 7 % 101, (i + 1) * 7 % 101)).toDF("id_a", "id_b")
    val got = assertParity(ints)
    assert(got.size == 100 && got.forall(_._2.contains(0L)))
    assert(assertParity(Seq.empty[(Long, Long)].toDF("id_a", "id_b")).isEmpty)
  }

  test("the label rounds still fail loudly when maxIters is too small") {
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      withoutBroadcast(Dedup.connectedComponents(chain, maxIters = 2))
    }
    assert(e.getMessage.contains("did not converge in 2 iterations"), e.getMessage)
  }
}
