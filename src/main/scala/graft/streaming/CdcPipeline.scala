package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.operators.Partitioning.pinned
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.model._

/** Structured-Streaming form of the reference's incremental pipeline
  * (SURVEY.md §3.3): change events → transaction assembly → per-table
  * transforms → idempotent upsert sink.
  *
  * Reference shape: binlog reader goroutine → handleEvent state machine
  * (`driver/mysql/binlog/binlog_reader.go:450-496`) → NATS → applier MTS
  * workers (`driver/mysql/applier_incr.go`). Spark shape: any streaming
  * DataFrame of [[graft.model.ChangeEvent]] rows (Kafka/Debezium topic,
  * file stream, or a custom MicroBatchStream) → stateful tx assembly →
  * `foreachBatch` sink that repartitions by row key and applies in seq
  * order — the same safety the MTS logical clock provides, from
  * partitioning instead of a clock (SURVEY §2.8 O4/O5).
  */
object CdcPipeline {

  /** S2 — assemble individual row events into transactions keyed by gtid
    * using flatMapGroupsWithState (reference handleEvent state machine:
    * GTID opens, XID closes). A transaction is emitted when its commit
    * event arrives or on timeout (covers trailing/partial groups).
    */
  def assembleTransactions(events: Dataset[ChangeEvent], commitOp: String = "commit",
                           timeoutMs: Long = 30000): Dataset[TxEntry] = {
    import events.sparkSession.implicits._
    // timeoutMs <= 0 → NoTimeout: trailing partial transactions stay
    // pending forever (test mode / strictly commit-bounded streams)
    val timeoutConf =
      if (timeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.gtid)
      .flatMapGroupsWithState[List[ChangeEvent], TxEntry](
        OutputMode.Append, timeoutConf) {
        (gtid: String, incoming: Iterator[ChangeEvent], state: GroupState[List[ChangeEvent]]) =>
          if (state.hasTimedOut) {
            val events = state.getOption.getOrElse(Nil)
            state.remove()
            emit(gtid, events).iterator
          } else {
            val all = state.getOption.getOrElse(Nil) ++ incoming.toList
            val (commits, rows) = all.partition(_.op == commitOp)
            if (commits.nonEmpty) {
              state.remove()
              emit(gtid, rows).iterator
            } else {
              state.update(all)
              if (timeoutMs > 0) state.setTimeoutDuration(timeoutMs)
              Iterator.empty
            }
          }
      }
  }

  private def emit(gtid: String, events: List[ChangeEvent]): List[TxEntry] =
    if (events.isEmpty) Nil
    else {
      val sorted = events.sortBy(_.seq)
      List(TxEntry(gtid, sorted.last.seq, sorted.head.lastCommitted, sorted))
    }

  /** O1-equivalent trigger config + the full pipeline: stream → route /
    * filter / rename / op-filter (Catalyst) → foreachBatch(sink).
    * Checkpointing gives replay; the sink's ledger gives exactly-once
    * (reference GTID ledger, `applier_gtid_executed.go`).
    */
  def run(events: DataFrame, spec: ReplicationSpec, sink: UpsertSink,
          checkpointDir: String, triggerMs: Long = 1000,
          ddlHandler: Option[DdlBarrierEvent => Unit] = None): StreamingQuery = {
    val routed = events
      .filter(graft.operators.Relational.routeFilter(spec, col("db"), col("table")))
      .transform(df => graft.operators.Relational.opFilter(df, spec.skipOps))
      .transform(df => spec.selfServerId.fold(df)(sid =>
        graft.operators.Relational.cycleFilter(df, sid)))
    routed.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        applyWithDdlBarriers(batch, epochId, sink, ddlHandler)
        ()
      }
      .start()
  }

  /** K5 — DDL as a serial barrier (reference `applier_incr.go:610-674` +
    * MTS `WaitForAllCommitted`, `applier_mts.go:227-234`): rows before a
    * DDL's seq are applied and committed first, the DDL runs alone on
    * the driver (schema registry update / sink DDL execution /
    * statement-cache invalidation — whatever the handler does), then
    * later rows. DDL events are control-plane rare, so collecting them
    * to the driver is the right plan; DML segments stay distributed.
    */
  def applyWithDdlBarriers(batch: DataFrame, epochId: Long,
      sink: UpsertSink, ddlHandler: Option[DdlBarrierEvent => Unit]): Unit = {
    val hasDdl = ddlHandler.isDefined &&
      batch.columns.contains("op") && !batch.filter(col("op") === Op.Ddl).isEmpty
    if (!hasDdl) { sink.applyBatch(batch, epochId); return }
    // Each DDL boundary issues segment filter + isEmpty probes; without a
    // pin every one re-executes the batch's source plan (re-reads are
    // only accidentally cheap because the test source is immutable files).
    pinned { pins =>
      val cached = pins.once(batch)
      val handler = ddlHandler.get
      val ddls = cached.filter(col("op") === Op.Ddl)
        .select(col("db"), col("table"), col("after"), col("seq"))
        .orderBy(col("seq")).collect()
      val dml = cached.filter(col("op") =!= Op.Ddl)
      var lo = Long.MinValue
      ddls.foreach { d =>
        val seq = d.getLong(3)
        val segment = dml.filter(col("seq") > lo && col("seq") < seq)
        if (!segment.isEmpty) sink.applyBatch(segment, epochId)
        handler(DdlBarrierEvent(d.getString(0), d.getString(1),
          Option(d.getString(2)).getOrElse(""), seq))
        lo = seq
      }
      val tail = dml.filter(col("seq") > lo)
      if (!tail.isEmpty) sink.applyBatch(tail, epochId)
    }
  }
}

/** A DDL event at a batch barrier: the statement text travels in the
  * CDC envelope's `after` field (Debezium's schema-change shape).
  */
case class DdlBarrierEvent(db: String, table: String, sql: String, seq: Long)

/** Upsert sink — the Spark-native form of the reference's applier
  * (SURVEY.md §2.2 K2-K4, K7; §2.8 O4/O5).
  *
  * Within each micro-batch:
  *   1. repartition by row key and sort by seq within partitions — rows
  *      of the same key land in the same task in commit order, which is
  *      exactly the conflict-safety the reference's writeset/logical-
  *      clock machinery (`applier_mts.go`) establishes, with no
  *      history-map state;
  *   2. reduce to the final state per key: each key's last op by seq
  *      (replace/delete/update collapse);
  *   3. apply that state via the pluggable writer and append the ledger
  *      in the same unit of work, so rows and ledger marker commit
  *      together.
  *
  * The production implementation is [[graft.sinks.JdbcUpsertSink]]: it
  * re-applies a replayed epoch and writes its ledger rows again. The
  * specs' parquet-table sink lives in test scope, because its overwrite
  * of the table directory is not crash-safe.
  */
trait UpsertSink extends Serializable {
  def applyBatch(batch: DataFrame, epochId: Long): Unit
}
