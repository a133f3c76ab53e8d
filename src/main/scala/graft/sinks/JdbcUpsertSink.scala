package graft.sinks

import java.sql.{Connection, PreparedStatement, SQLException, SQLTransientException}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.streaming.UpsertSink

/** K2-K5 + K7 + O4/O5 — the production JDBC upsert sink: the Spark-
  * native applier (reference `driver/mysql/applier_incr.go`).
  *
  * Per micro-batch:
  *   1. repartition by row key + sort by seq within partitions — rows of
  *      one key reach one task in commit order, the distributed
  *      equivalent of the reference's writeset/logical-clock safety
  *      (`applier_mts.go`; SURVEY §2.8 O4/O5). `numPartitions` plays
  *      `ParallelWorkers`.
  *   2. each partition opens one connection and applies its rows' final
  *      state ([[JdbcUpsertSink.applyRows]]) via prepared statements
  *      cached per (table, kind, tier) — the reference's per-worker
  *      statement cache (`driver/common/binlog.go:150-190`).
  *   3. the GTID ledger insert shares the partition's transaction
  *      (reference `applier_incr.go:812-844`): rows and ledger marker
  *      commit atomically per partition. Nothing filters GTIDs the
  *      ledger holds, so an epoch replayed after its target commit
  *      re-applies the same final state and inserts its ledger rows again.
  *   4. a deadlocked/transient-failed transaction is rolled back and
  *      retried up to [[JdbcUpsertSink.RetryTxLimit]] times on a fresh
  *      connection + statement cache (reference `driver/driver.go:168-169`
  *      RetryTxLimit: MTS appliers on a busy target WILL deadlock against
  *      concurrent workload; one deadlock must not restart the stream).
  *      The rollback undoes rows AND ledger marker together, so a retry
  *      replays the identical transaction — exactly-once is preserved.
  *
  * Batches carry the CDC schema ([[graft.sources.CdcFileSource.schema]]):
  * rows are keyed by `key`, ordered by `seq`, typed by `op`, and ledgered
  * by `gtid` when that column is present.
  *
  * Connection management is pluggable so tests can run against any
  * JDBC target; no driver classes are referenced statically.
  */
class JdbcUpsertSink(
    connect: () => Connection,
    table: SqlBuilder.TableDef,
    jobId: String,
    ledgerSchema: String,
    numPartitions: Int = 4,
    compactThreshold: Int = 2048,
    bulkTiers: Seq[Int] = SqlBuilder.bulkTiers,
    sessionSetup: Seq[String] = Nil
) extends UpsertSink {

  // driver-side: the ledger DDL runs once per sink instance, not per batch
  @transient private var ledgerCreated = false

  override def applyBatch(batch: DataFrame, epochId: Long): Unit = {
    if (!ledgerCreated) {
      val conn0 = connect()
      try conn0.createStatement().execute(SqlBuilder.ledgerCreate(ledgerSchema))
      finally conn0.close()
      ledgerCreated = true
    }

    val ordered = batch
      .repartition(numPartitions, col("key"))
      .sortWithinPartitions(col("seq"))

    val tableDef = table
    val lSchema = ledgerSchema
    val job = jobId
    val connectF = connect
    val tiers = SqlBuilder.normalizeTiers(bulkTiers)
    val setup = sessionSetup

    ordered.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.hasNext) {
        // Materialize the partition: the iterator is single-shot, and a
        // deadlock retry must replay the SAME rows in the SAME order.
        // Bounded: one micro-batch partition, capped upstream by the O1
        // group sizing / admission control — the reference buffers the
        // same window in its applier queue (`applier_incr.go:694-730`).
        val buffered = rows.toArray
        JdbcUpsertSink.retryWithConnection(connectF) { conn =>
          conn.setAutoCommit(false)
          // per-connection session setup (reference runs e.g.
          // SET FOREIGN_KEY_CHECKS=0 on every applier connection)
          if (setup.nonEmpty) {
            val st = conn.createStatement()
            try setup.foreach(st.execute) finally st.close()
          }
          // fresh cache per attempt: statements belong to the attempt's
          // connection; a retried tx must not reuse a possibly-poisoned one
          val cache = new StatementCache(conn)
          try {
            JdbcUpsertSink.applyRows(buffered, cache, tableDef, job, lSchema, tiers)
            conn.commit()
          } finally cache.close()
        }
      }
    }

    // K7 — periodic ledger compaction (reference
    // `applier_gtid_executed.go:248-291`): after the batch commits,
    // collapse any source UUID whose per-tx rows exceeded the threshold
    // into one interval-set row. Driver-side, O(threshold) rows per sid.
    if (compactThreshold > 0) {
      val c = connect()
      try LedgerCompactor.compact(c, ledgerSchema, jobId, compactThreshold)
      finally c.close()
    }
  }
}

object JdbcUpsertSink {

  /** Max attempts for one partition transaction (reference
    * `driver/driver.go:168-169` RetryTxLimit = 5). */
  val RetryTxLimit = 5

  /** The one attempt loop both the row sink and [[JdbcDdlExecutor]]
    * run: acquire a connection INSIDE the budget (a reconnect after
    * failover is itself the likely transient failure), run `body`,
    * roll back + back off + retry on [[retryable]] errors, close the
    * connection per attempt. `body` owns autocommit/commit and any
    * per-attempt state (statement caches) — a retry must never see a
    * possibly-poisoned connection or cache.
    */
  def retryWithConnection[A](connect: () => Connection,
                             maxAttempts: Int = RetryTxLimit)(body: Connection => A): A = {
    var attempt = 1
    while (true) {
      var conn: Connection = null
      try {
        conn = connect()
        return body(conn)
      } catch {
        case e: Throwable =>
          if (conn != null) try conn.rollback() catch { case _: Throwable => () }
          if (attempt >= maxAttempts || !retryable(e)) throw e
          attempt += 1
          Thread.sleep(math.min(1000L, 50L << (attempt - 2)))
      } finally {
        if (conn != null) { try conn.close() catch { case _: Throwable => () } }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** A failure worth replaying the transaction for: serialization/deadlock
    * (SQLState 40xxx — includes MySQL 1213 ER_LOCK_DEADLOCK), lock wait
    * timeout (MySQL 1205), or any driver-declared transient error.
    * Constraint violations, syntax errors, etc. fail fast — retrying a
    * deterministic error 5 times only delays the stream restart.
    */
  def retryable(e: Throwable): Boolean = e match {
    case _: SQLTransientException => true
    case _: java.sql.SQLRecoverableException => true
    case s: SQLException =>
      val state = Option(s.getSQLState).getOrElse("")
      // 40xxx serialization/deadlock; 08xxx connection exception (the
      // reconnect-after-failover case now inside the retry loop)
      state.startsWith("40") || state.startsWith("08") ||
        s.getErrorCode == 1213 || s.getErrorCode == 1205
    case _ => false
  }

  /** One partition's rows, seq-sorted and non-empty, applied inside the
    * caller's open transaction as their final state, then the ledger
    * marker batch. Pure function of (rows, statements) so a retry is an
    * exact replay. No reader sees inside the transaction, so a keyed
    * table applies each primary key's last op by seq: one DELETE run,
    * then tiered REPLACEs (`SqlBuilder.tierPlan`, reference
    * `applier_incr.go:694-730`) in order of each key's last seq. A
    * keyless table's `DELETE … LIMIT 1` removes one of several identical
    * rows, so its op runs go to the same two emitters in seq order.
    */
  private[sinks] def applyRows(
      buffered: Array[Row],
      cache: StatementCache,
      tableDef: SqlBuilder.TableDef,
      job: String,
      lSchema: String,
      tiers: Seq[Int] = SqlBuilder.bulkTiers): Unit = {
    // every row of a partition shares one schema: resolve fields once
    val schema = buffered(0).schema
    val colIdx = tableDef.columns.map(schema.fieldIndex).toArray
    val whereIdx = (if (tableDef.hasPk) tableDef.pkColumns else tableDef.columns)
      .map(schema.fieldIndex).toArray
    val opIdx = schema.fieldIndex("op")
    val gtidIdx = schema.fieldNames.indexOf("gtid")
    def isDelete(r: Row): Boolean = r.getString(opIdx) == "d" // c/u/r → replace

    def bind(st: PreparedStatement, values: Iterator[Any]): Unit = {
      values.zipWithIndex.foreach { case (v, i) => st.setObject(i + 1, v.asInstanceOf[AnyRef]) }
      st.addBatch()
    }
    def replaces(rows: Seq[Row]): Unit = {
      var off = 0
      SqlBuilder.tierPlan(rows.length, tiers).foreach { case (tier, count) =>
        val st = cache.get(tableDef.fqn, "replace", tier, SqlBuilder.replaceInto(tableDef, tier))
        rows.slice(off, off + tier * count).grouped(tier)
          .foreach(stmt => bind(st, stmt.iterator.flatMap(r => colIdx.iterator.map(r.get))))
        off += tier * count
        st.executeBatch()
      }
    }
    def deletes(rows: Seq[Row]): Unit = {
      val st = cache.get(tableDef.fqn, "delete", 1, SqlBuilder.delete(tableDef))
      // the null-safe WHERE binds each value twice
      rows.foreach(r => bind(st, whereIdx.iterator.flatMap { j => val v = r.get(j); Iterator(v, v) }))
      st.executeBatch()
    }
    // at most one top-tier statement's rows per executeBatch: bounds the
    // batch a JDBC driver buffers client-side
    def emit(rows: Seq[Row], delete: Boolean): Unit =
      rows.grouped(tiers.head).foreach(if (delete) deletes else replaces)

    if (tableDef.hasPk) {
      val keys = buffered.map(r => whereIdx.toSeq.map(r.get))
      val lastAt = keys.zipWithIndex.toMap // a repeated key keeps its last index
      val (dels, reps) = buffered.indices.filter(i => lastAt(keys(i)) == i)
        .map(buffered).partition(isDelete)
      emit(dels, delete = true)
      emit(reps, delete = false)
    } else {
      var rest = buffered.toList
      while (rest.nonEmpty) {
        val d = isDelete(rest.head)
        val (run, tail) = rest.span(isDelete(_) == d)
        emit(run, d)
        rest = tail
      }
    }

    // ledger rows in the same tx (rows + marker commit atomically), in
    // seq order so each source's GNOs arrive ascending
    val gtids = if (gtidIdx < 0) Nil
      else buffered.iterator.map(_.getString(gtidIdx)).filter(_ != null).distinct.toList
    if (gtids.nonEmpty) {
      val st = cache.get(lSchema, "ledger", 1, SqlBuilder.ledgerInsert(lSchema))
      gtids.foreach { g =>
        val (sid, gno) = parseGtid(g)
        st.setString(1, job); st.setString(2, sid)
        st.setLong(3, gno); st.setString(4, g)
        st.addBatch()
      }
      st.executeBatch()
    }
  }

  /** "uuid:gno" → (source_uuid, gno). The ledger's `gtid` column is a
    * real interval point the K7 compactor folds into per-uuid interval
    * sets (reference `applier_gtid_executed.go:186-246` stores the parsed
    * GNO, never a hash — two hashed GTIDs can collide and compact into a
    * wrong interval, silently skipping an unapplied tx via F10). IDs that
    * don't carry a numeric GNO (test fixtures, non-MySQL sources) fall
    * back to a hash under a synthetic uuid so they never pollute a real
    * source's interval space.
    */
  private[sinks] def parseGtid(g: String): (String, Long) = {
    val i = g.lastIndexOf(':')
    if (i > 0 && i < g.length - 1) {
      val tail = g.substring(i + 1)
      if (tail.nonEmpty && tail.forall(_.isDigit) && tail.length <= 18)
        return (g.substring(0, i), tail.toLong)
    }
    ("synthetic-" + java.util.UUID.nameUUIDFromBytes(g.getBytes("UTF-8")).toString.take(8),
      math.abs(g.hashCode).toLong)
  }
}

/** Executor-local prepared-statement cache keyed by (table, kind, tier)
  * — the reference's per-worker cache keys on the statement shape the
  * same way (`driver/common/binlog.go:150-190`). Keying on kind alone
  * would hand a 4-row REPLACE to a caller expecting the 128-row shape
  * the moment one sink instance serves more than one table or tier.
  */
class StatementCache(conn: Connection) {
  private val cache = scala.collection.mutable.Map.empty[(String, String, Int), PreparedStatement]
  def get(table: String, kind: String, tier: Int, sql: => String): PreparedStatement =
    cache.getOrElseUpdate((table, kind, tier), conn.prepareStatement(sql))
  def close(): Unit = cache.values.foreach(st => try st.close() catch { case _: Throwable => () })
}
