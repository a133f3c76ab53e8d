package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Calendar densification + carry-forward — the time-series warehouse
  * primitive ("every key × every day, last observation carried
  * forward") that turns a sparse event log into a dense panel for
  * retention curves, balance snapshots, and feature backfills.
  *
  * Scale shape: the calendar spine is `keys × days` — days is a
  * CONSTANT (the requested range), so the grid is a broadcast-able
  * literal exploded per key, not a join of two data-sized tables; the
  * carry-forward window rides one hash exchange on the key. Aggregated
  * values use DECIMAL sums (order-free, engine-exact) — a double sum
  * here would hash-differ run to run.
  */
object GapFill {

  /** One row per (key, day) over `[startDay, endDay]`: the day's
    * aggregated `valueCol` (null on gap days), the carry-forward
    * `filled_value` (null until the key's first observation), and an
    * `is_filled` flag. `df` rows must carry a DATE `dayCol`.
    */
  def dailyCarryForward(df: DataFrame, keyCol: String, dayCol: String,
                        valueCol: String, startDay: String, endDay: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val actual = df.filter(col(dayCol).between(lit(startDay).cast("date"), lit(endDay).cast("date")))
      .groupBy(col(keyCol), col(dayCol).as("day"))
      .agg(sum(col(valueCol).cast("decimal(18,6)")).as("__dec"))
    val spine = df.select(col(keyCol)).distinct()
      .select(col(keyCol), explode(sequence(
        lit(startDay).cast("date"), lit(endDay).cast("date"))).as("day"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(actual, Seq(keyCol, "day"), "left")
      .withColumn("__filled_dec", last(col("__dec"), ignoreNulls = true).over(w))
      .select(col(keyCol), col("day").cast("string").as("day"),
        col("__dec").cast("double").as("day_value"),
        col("__filled_dec").cast("double").as("filled_value"),
        (col("__dec").isNull && col("__filled_dec").isNotNull).as("is_filled"))
  }
}
