package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-table sink for specs: maintains the materialized table as
  * parquet and the applied-GTID ledger alongside. Test scope only: a
  * crash between the overwrite of `tableDir` from `.tmp` and the ledger
  * append can lose the table.
  *
  * The JDBC production variant swaps `merge` for batched
  * `REPLACE INTO` / `DELETE` prepared statements per partition
  * (reference `driver/mysql/sql/builder.go`) — same dataflow.
  */
class ParquetUpsertSink(spark: SparkSession, tableDir: String, ledgerDir: String,
                        keyCol: String, seqCol: String, opCol: String) extends UpsertSink {

  override def applyBatch(batch: DataFrame, epochId: Long): Unit = {
    import org.apache.spark.sql.SaveMode
    if (batch.isEmpty) return
    val ledger = readOrEmpty(ledgerDir)
    val fresh = ledger match {
      case Some(l) => batch.join(broadcast(l.select("gtid").distinct()), Seq("gtid"), "left_anti")
      case None    => batch
    }
    // final state per key for this batch, applied over current table state
    val current = readOrEmpty(tableDir)
    val incoming = graft.operators.CdcBatch.applyChangeLog(
      fresh.repartition(col(keyCol)).sortWithinPartitions(col(seqCol)),
      keyCol, seqCol, opCol)
    val deletedKeys = fresh.groupBy(col(keyCol))
      .agg(max_by(col(opCol), col(seqCol)).as("last_op"))
      .filter(col("last_op") === "d").select(col(keyCol))
    val merged = current match {
      case Some(cur) =>
        cur.join(fresh.select(keyCol).distinct(), Seq(keyCol), "left_anti")
          .unionByName(incoming, allowMissingColumns = true)
      case None => incoming
    }
    // staged through .tmp: the merge reads tableDir, so it cannot
    // overwrite tableDir directly
    merged.join(deletedKeys, Seq(keyCol), "left_anti")
      .write.mode(SaveMode.Overwrite).parquet(tableDir + ".tmp")
    spark.read.parquet(tableDir + ".tmp").write.mode(SaveMode.Overwrite).parquet(tableDir)
    val gtids = fresh.select("gtid").distinct()
      .withColumn("epoch_id", lit(epochId))
    gtids.write.mode(SaveMode.Append).parquet(ledgerDir)
  }

  private def readOrEmpty(dir: String): Option[DataFrame] =
    if (new java.io.File(dir).exists()) Some(spark.read.parquet(dir)) else None
}
