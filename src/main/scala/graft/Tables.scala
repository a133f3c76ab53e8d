package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-provided parquet fixtures (TESTDATA.md). */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.ts` is parquet TIMESTAMP(NANOS); with
    * `spark.sql.legacy.parquet.nanosAsLong` it reads as a nanos long —
    * convert back to TimestampType (µs, truncating) so downstream
    * event-time code is uniform.
    *
    * Loads are memoized per (session, dir, table): a pathless
    * `spark.read.parquet` runs a footer/schema-inference job every
    * call (~0.5 s), which a catalog would do once — reuse the resolved
    * DataFrame exactly as a catalog table reuses its schema. The
    * fixtures are immutable, so the memo cannot go stale.
    */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    memo.computeIfAbsent((spark, sfDir, name), { _ =>
      // No loader-level repartition: a registry query whose first
      // stage is CPU-bound per row widens its own scan (SparkEntry's
      // `wide`). Doing it here instead taxed EVERY consumer with a
      // full-table RoundRobin exchange — measured by the round-9
      // graft.Bench run as ~2x on shuffle-light queries (a5_gtid_set
      // 0.32->0.80 s, k2_cdc_apply 0.36->0.86 s) for no gain on the
      // heavy ones.
      val df = spark.read.parquet(s"$sfDir/$name.parquet")
      if (name != "events") df
      else df.schema("ts").dataType match {
        // TIMESTAMP(NANOS) under legacy nanosAsLong: a nanos long
        case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        // TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark infers NTZ.
        // Session tz is pinned UTC (GraftSession), so the cast keeps the
        // underlying micros — same epoch DuckDB assigns the naive value.
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _ => df
      }
    })

  /** Register every fixture as a temp view, making the whole engine
    * reachable from `spark.sql(...)` — the graft_* native functions are
    * already in the session's function registry (GraftExtensions), so
    * SQL-first users get the full surface with no Column API.
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
