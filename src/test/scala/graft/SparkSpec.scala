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
}
