package graft.sinks

import java.sql.Connection

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.IntervalSet

/** K7 — GTID-executed ledger compaction (reference
  * `driver/mysql/applier_gtid_executed.go:248-291`): the sink inserts one
  * ledger row per applied transaction; once a source UUID accumulates
  * more than `threshold` rows, they collapse into a single row
  * (`gtid = 0`) carrying the canonical interval-set string, so the
  * ledger stays O(sources), not O(transactions).
  *
  * Two forms:
  *  - [[compact]] — the JDBC maintenance routine the sink calls after a
  *    batch commit. Per (job, source_uuid) it reads at most
  *    `threshold`-plus-existing rows (bounded by construction: the
  *    routine runs at least once per `threshold` inserts), folds GNOs
  *    and any previous interval row through [[IntervalSet]], then
  *    delete+reinserts inside one transaction.
  *  - [[compactDf]] — the same fold as a declarative DataFrame aggregate
  *    (the `graft_gtid_set` imperative aggregate), used for bulk/offline
  *    compaction and the correctness oracle.
  */
object LedgerCompactor {

  /** Fold per-tx GNOs and previously-compacted interval strings into one
    * canonical interval-set string per source UUID: one sort and one
    * coalescing pass over all points and prior intervals. Pure — the JDBC
    * routine and specs share it.
    */
  def foldRows(rows: Seq[(String, Long, String)]): Map[String, String] =
    rows.groupBy(_._1).map { case (sid, rs) =>
      val intervals = rs.flatMap {
        case (_, 0L, set) => IntervalSet.parse(set).intervals
        case (_, gno, _)  => List((gno, gno))
      }
      sid -> IntervalSet.empty.merge(IntervalSet(intervals.toList)).render
    }

  /** Run compaction for one job if any source UUID exceeds `threshold`
    * per-tx rows. Returns the number of source UUIDs compacted. Row
    * volume read is bounded: the sink triggers this every batch, so no
    * sid accumulates unboundedly between runs.
    */
  def compact(conn: Connection, schema: String, jobId: String, threshold: Int = 2048): Int = {
    val over = {
      val st = conn.prepareStatement(countsSql(schema))
      st.setString(1, jobId)
      val rs = st.executeQuery()
      val b = Seq.newBuilder[String]
      while (rs.next()) if (rs.getLong(2) > threshold) b += rs.getString(1)
      st.close()
      b.result()
    }
    if (over.isEmpty) return 0
    val prevAuto = conn.getAutoCommit
    conn.setAutoCommit(false)
    try {
      over.foreach { sid =>
        val st = conn.prepareStatement(selectSql(schema))
        st.setString(1, jobId); st.setString(2, sid)
        val rs = st.executeQuery()
        val rows = Seq.newBuilder[(String, Long, String)]
        while (rs.next()) rows += ((sid, rs.getLong(1), rs.getString(2)))
        st.close()
        val setStr = foldRows(rows.result())(sid)
        // delete ALL rows for the sid (per-tx and stale compacted), then
        // reinsert the single interval row — reference does the same
        // delete/insert dance inside one tx.
        val del = conn.prepareStatement(deleteAllSql(schema))
        del.setString(1, jobId); del.setString(2, sid)
        del.executeUpdate(); del.close()
        val ins = conn.prepareStatement(SqlBuilder.ledgerInsert(schema))
        ins.setString(1, jobId); ins.setString(2, sid)
        ins.setLong(3, 0L); ins.setString(4, setStr)
        ins.executeUpdate(); ins.close()
      }
      conn.commit()
      over.size
    } catch {
      case e: Throwable => conn.rollback(); throw e
    } finally conn.setAutoCommit(prevAuto)
  }

  def countsSql(schema: String): String =
    s"SELECT source_uuid, COUNT(*) FROM `$schema`.`gtid_executed` WHERE job_id = ? GROUP BY source_uuid"

  def selectSql(schema: String): String =
    s"SELECT gtid, gtid_set FROM `$schema`.`gtid_executed` WHERE job_id = ? AND source_uuid = ?"

  def deleteAllSql(schema: String): String =
    s"DELETE FROM `$schema`.`gtid_executed` WHERE job_id = ? AND source_uuid = ?"

  /** Declarative form: ledger rows (job_id, source_uuid, gtid) → one
    * compacted row per (job_id, source_uuid) with the interval-set
    * string and the per-tx row count it replaced. One hash-partitioned
    * aggregate; the `graft_gtid_set` imperative aggregate folds GNOs
    * into intervals map-side, so the shuffle carries intervals, not GNOs.
    */
  def compactDf(ledger: DataFrame): DataFrame =
    ledger.groupBy(col("job_id"), col("source_uuid"))
      .agg(
        call_function("graft_gtid_set", col("gtid")).as("gtid_set"),
        count(lit(1)).as("n_txs"))
      .select(col("job_id"), col("source_uuid"), lit(0L).as("gtid"),
        col("gtid_set"), col("n_txs"))
}
