package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus version diff (beyond-parity, SURVEY.md §8): classify every
  * document across two snapshots of a corpus as `added`, `removed`,
  * `modified`, or `unchanged` — the primitive behind incremental
  * corpus updates (what changed since the last crawl / curation run
  * decides what re-enters dedup, re-scoring, and re-packing; the CDC
  * analog of a full-table checksum diff, A2, applied to training
  * data).
  *
  * Scale shape: both sides reduce to `(id, md5(norm_text))` BEFORE the
  * full-outer join — fixed-width rows through one id-keyed shuffle,
  * document text never crosses the exchange. Content equality is on
  * the normalized digest ([[dedup.Dedup.normText]] contract), so
  * whitespace/case churn is not a "modification".
  */
object CorpusDiff {

  def diff(oldDocs: DataFrame, newDocs: DataFrame,
           idCol: String, textCol: String): DataFrame = {
    // null text digests to a sentinel so two null-content versions
    // compare "unchanged" (null === null would read as modified)
    def digests(df: DataFrame) =
      df.select(col(idCol),
          coalesce(md5(dedup.Dedup.normText(col(textCol))), lit("null")).as("h"))
    val o = digests(oldDocs).withColumnRenamed("h", "old_hash")
    val n = digests(newDocs).withColumnRenamed("h", "new_hash")
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("old_hash").isNull, "added")
          .when(col("new_hash").isNull, "removed")
          .when(col("old_hash") === col("new_hash"), "unchanged")
          .otherwise("modified").as("status"))
  }

  /** Per-status counts — the dashboard row a pipeline run reports. */
  def diffStats(oldDocs: DataFrame, newDocs: DataFrame,
                idCol: String, textCol: String): DataFrame =
    diff(oldDocs, newDocs, idCol, textCol)
      .groupBy(col("status")).agg(count(lit(1)).as("n_docs"))
}
