package graft.sources

import java.sql.Connection

/** The staging pump between [[LogMinerPoller]] and Structured
  * Streaming — the Oracle twin of the MySQL relay (`BinlogRelay` →
  * `CdcFileSource`): the poll loop is inherently single-connection (a
  * DBMS_LOGMNR session is a per-connection server-side cursor, which
  * is why the reference runs ONE reader goroutine,
  * `log_miner.go:733-818`), so the pump drains windows on the driver
  * and stages each as one atomically-renamed JSONL segment that
  * `spark.readStream.json` tails. Everything after the hop is
  * distributed: the streaming tx cache ([[LogMinerTxCache.assemble]],
  * state sharded by XID), redo parsing, and the sink.
  */
object LogMinerPump {
  import LogMinerPoller.ContentsRow
  import LogMinerTxCache.RedoRecord

  /** Iterator form of [[LogMinerTxCache.reassembleCsf]] for the
    * single-threaded pump (cross-checked against the DataFrame form in
    * the spec): pieces concatenate until a csf=0 row closes the record,
    * metadata stays the FIRST piece's. Pending continuations survive
    * across window boundaries — strictly better than the reference
    * cursor's per-query truncation: a record split across two mined
    * windows still joins, because the joiner's state outlives the
    * window, not the cursor.
    */
  final class CsfJoiner {
    private val pending = scala.collection.mutable.Map.empty[String, ContentsRow]
    def push(r: ContentsRow): Option[ContentsRow] = pending.get(r.xid) match {
      case Some(first) =>
        val merged = first.copy(sqlRedo =
          Option(first.sqlRedo).getOrElse("") + Option(r.sqlRedo).getOrElse(""))
        if (r.csf == 1) { pending(r.xid) = merged; None }
        else { pending.remove(r.xid); Some(merged.copy(csf = 0)) }
      case None =>
        if (r.csf == 1) { pending(r.xid) = r; None } else Some(r)
    }
  }

  /** Op-code mapping; START and MISSING_SCN markers drop (the tx cache
    * keys on xid alone; gap markers are telemetry), like the
    * reference's record switch after bookkeeping.
    */
  def toRedoRecord(r: ContentsRow): Option[RedoRecord] = {
    import LogMinerSession._
    val op = r.operationCode match {
      case OpInsert => Some("c")
      case OpDelete => Some("d")
      case OpUpdate => Some("u")
      case OpDdl => Some("ddl")
      case OpCommit => Some(LogMinerTxCache.CommitOp)
      case OpRollback => Some(LogMinerTxCache.RollbackOp)
      case OpStart | OpMissScn => None
      // contentsQuery's IN-list makes this unreachable from the poller;
      // a code that arrives anyway (hand-fed rows, a future query edit)
      // must fail loudly — silently dropping redo is CDC data loss
      case other => throw new IllegalArgumentException(
        s"unknown LogMiner operation_code $other at scn ${r.scn}")
    }
    op.map(o => RedoRecord(r.scn, r.xid, o, r.rowId,
      Option(r.sqlRedo).getOrElse(""), r.rollback))
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def recordJson(r: RedoRecord): String = {
    val n = mapper.createObjectNode()
    n.put("scn", r.scn); n.put("xid", r.xid); n.put("op", r.op)
    n.put("rowId", r.rowId); n.put("redoSql", r.redoSql); n.put("rollback", r.rollback)
    mapper.writeValueAsString(n)
  }

  /** Drain the endpoint from `startScn` and stage every mined window as
    * one `window-<lo>-<hi>.jsonl` segment under `outDir` (tmp + atomic
    * rename, so the file stream source never reads a torn segment).
    * Returns the resume state and the staged file names in order.
    */
  def drainTo(conn: Connection, startScn: Long, filter: String, outDir: String,
              maxConsecutiveIdles: Int = 2): (LogMinerSession.WindowState, Seq[String]) = {
    val dir = new java.io.File(outDir)
    dir.mkdirs()
    val joiner = new CsfJoiner
    val (state, polls) = LogMinerPoller.drain(conn, startScn, filter,
      maxConsecutiveIdles = maxConsecutiveIdles)
    val files = polls.filter(_.action == "mine").flatMap { w =>
      val records = w.rows.flatMap(joiner.push).flatMap(toRedoRecord)
      if (records.isEmpty) None
      else {
        val tmp = java.io.File.createTempFile("win", ".tmp", dir)
        val pw = new java.io.PrintWriter(tmp, "UTF-8")
        try records.foreach(r => pw.println(recordJson(r))) finally pw.close()
        val name = s"window-${w.startScn}-${w.endScn}.jsonl"
        val target = new java.io.File(dir, name)
        if (!tmp.renameTo(target))
          throw new java.io.IOException(s"rename to $target failed")
        Some(name)
      }
    }
    (state, files)
  }
}
