package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session — Spark
  * startup is ~10s, tests reuse it).
  */
object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.build("4")
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Runs `body` with broadcast joins off, which also sends
    * `Dedup.connectedComponents` down its label-round path. */
  def withoutBroadcast[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  /** Runs `body` with its Spark jobs in job group `group`. */
  def inGroup[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  /** The ids of the jobs run in `group`. Job events reach the status
    * tracker in order: once a later marker job is visible, any job the
    * group started is visible too. */
  def jobsIn(group: String): Seq[Int] = {
    val tracker = spark.sparkContext.statusTracker
    val marker = s"$group-marker"
    if (tracker.getJobIdsForGroup(marker).isEmpty) inGroup(marker)(spark.range(1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (tracker.getJobIdsForGroup(marker).isEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(tracker.getJobIdsForGroup(marker).nonEmpty)
    tracker.getJobIdsForGroup(group).toSeq.sorted
  }
}
