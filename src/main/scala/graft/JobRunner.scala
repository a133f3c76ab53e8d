package graft

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ddl.{DdlProcessor, SchemaRegistry}
import graft.functions.TypeConversions
import graft.model._
import graft.operators.{CdcBatch, Relational}
import graft.sources.ChunkPlanner
import graft.streaming.{CdcPipeline, DdlBarrierEvent, UpsertSink}

/** The job façade — the reference's replication lifecycle (SURVEY.md
  * §3) as one API: full load (snapshot) then incremental apply.
  *
  * Reference flow: `Extractor.Run` decides full-copy, runs the
  * consistent-snapshot dance, chunk-dumps each table, hands off to the
  * binlog reader at the recorded coordinates
  * (`driver/mysql/extractor.go:152-367`, `1149-1424`); the applier
  * replays both phases. Spark-native flow: chunk-planned parallel read
  * → per-table declarative transforms → sink write, recording the
  * stream watermark; then the streaming pipeline continues from it.
  */
object JobRunner {
  /** Build a runner straight from a reference-shaped job JSON
    * ([[graft.model.JobConfig]]) — a dtle user's existing job spec is
    * the only input needed. Its streaming queries run the job's
    * trigger ([[RuntimePlan.triggerMs]]).
    */
  def fromJson(spark: SparkSession, json: String): (JobRunner, JobConfig) = {
    val cfg = JobConfig.fromJson(json)
    (new JobRunner(spark, cfg.repl, runtimePlan(cfg, tableRows = 0L).triggerMs), cfg)
  }

  /** The reference's tuning knobs mapped onto this engine's runtime
    * parameters (the BASELINE.md §1 defaults table): how a dtle user's
    * numbers tune the Spark job rather than being parsed and ignored.
    * `ReplChanBufferSize` is accepted and has no effect: it sizes a Go
    * channel of dtle's, and a micro-batch has no such queue.
    */
  final case class RuntimePlan(
      snapshotChunks: Int,        // ChunkSize → keyset chunk count
      triggerMs: Long,            // GroupTimeout → micro-batch trigger
      sinkPartitions: Int,        // ParallelWorkers → apply partitions
      bulkTiers: Seq[Int],        // BulkInsert1/2/3 → statement tiers
      sessionSetup: Seq[String],  // ForeignKeyChecks=false → SET ... = 0
      snapshotOnly: Boolean,      // SkipIncrementalCopy
      createTargetTables: Boolean, // !SkipCreateDbTable
      dropTargetFirst: Boolean)   // DropTableIfExists

  def runtimePlan(cfg: JobConfig, tableRows: Long): RuntimePlan = {
    val t = cfg.tuning
    val chunks = math.max(1L, (tableRows + t.chunkSize - 1) / t.chunkSize)
    // a Kafka destination groups by its own knobs (reference
    // MessageGroupMaxSize/Timeout, `taskconfig.go:18-19`) — the trigger
    // takes the kafka timeout so the envelope batch IS the message group
    val triggerSrc =
      if (cfg.destType == "kafka")
        cfg.kafka.map(_.messageGroupTimeoutMs).getOrElse(t.groupTimeoutMs.toLong)
      else t.groupTimeoutMs.toLong
    RuntimePlan(
      // cap: beyond 10k chunks the per-chunk planning overhead dominates
      // (a 100 TB table wants bigger chunks, not more of them)
      snapshotChunks = math.min(chunks, 10000L).toInt,
      triggerMs = math.max(1L, triggerSrc),
      sinkPartitions = math.max(1, t.parallelWorkers),
      bulkTiers = graft.sinks.SqlBuilder.normalizeTiers(t.bulkInsertTiers),
      sessionSetup = if (t.foreignKeyChecks) Nil else Seq("SET FOREIGN_KEY_CHECKS = 0"),
      snapshotOnly = t.skipIncrementalCopy,
      createTargetTables = !t.skipCreateDbTable,
      dropTargetFirst = t.dropTableIfExists)
  }

  /** Sink selection from the job document — the reference dispatches
    * its applier by job DestType (`driver/driver.go`; the kafka job
    * type is `driver/kafka/kafka3.go`): `"kafka"` builds the
    * wire-producer envelope sink from `KafkaConfig` (topic prefix +
    * first broker; `MessageGroupMaxSize` becomes the produce batch
    * bound), anything else takes the caller's JDBC/parquet upsert
    * sink. Accepting the reference's job JSON verbatim and selecting
    * the same sink family keeps "switch engines" a driver swap.
    */
  def sinkFor(cfg: graft.model.JobConfig, fallback: => UpsertSink): UpsertSink =
    cfg.destType match {
      case "kafka" =>
        val k = cfg.kafka.getOrElse(throw new IllegalArgumentException(
          "destType=kafka requires a KafkaConfig block"))
        val b = k.brokers.headOption.getOrElse(
          throw new IllegalArgumentException("KafkaConfig.brokers is empty"))
        val i = b.lastIndexOf(':')
        require(i > 0, s"broker must be host:port, got '$b'")
        new graft.sinks.KafkaEnvelopeSink(b.substring(0, i), b.substring(i + 1).toInt,
          k.topic,
          maxBatchRecords = math.max(1, math.min(k.messageGroupMaxSize, 10000L)).toInt)
      case _ => fallback
    }

  /** C9 data-plane stage as a sink wrapper: each batch/segment passes
    * [[transcodeMixedBatch]] before the inner sink. Wrapping the SINK
    * (not the stream) is deliberate — the registry mutates at DDL
    * barriers mid-batch, and `applyWithDdlBarriers` applies each DML
    * segment after its preceding barrier's handler ran, so the charset
    * map is always the one in force at that point of the log.
    */
  def charsetDecodingSink(inner: UpsertSink, registry: SchemaRegistry): UpsertSink =
    new UpsertSink {
      override def applyBatch(batch: DataFrame, epochId: Long): Unit =
        inner.applyBatch(transcodeMixedBatch(batch, registry), epochId)
    }

  /** C9 over a mixed-table flattened batch (reference ConvertArg per
    * column, `types.go:93-112`, driven by the registry's charset map).
    * Raw text travels as BINARY columns. Contract (stable per tracked
    * table, independent of what OTHER tables the registry holds):
    *
    *   - a binary column that is a tracked TEXT column of the row's
    *     (db, table) decodes by its charset — known charsets through
    *     their decoder, utf8/utf8mb4 as a UTF-8 cast, UNKNOWN charsets
    *     through the lossless ISO-8859-1 byte↔char carrier (the
    *     reference forwards raw bytes — `encoding.Nop`; getBytes
    *     (ISO-8859-1) recovers them exactly);
    *   - rows of untracked (db, table)s in a column that is text
    *     SOMEWHERE decode as UTF-8 best-effort (the common source
    *     charset) — the column's output type must unify to string;
    *   - a column no tracked table declares as text stays BINARY. A
    *     sink must expect bytes until a CREATE/ALTER teaches the
    *     registry the column is text — same as the reference before
    *     table meta is loaded.
    *
    * Single codegen'd projection, no shuffle, no per-table batch split.
    */
  def transcodeMixedBatch(batch: DataFrame, registry: SchemaRegistry): DataFrame = {
    if (!batch.columns.contains("db") || !batch.columns.contains("table")) return batch
    val binaryCols = batch.schema.fields
      .collect { case f if f.dataType == org.apache.spark.sql.types.BinaryType => f.name }.toSet
    if (binaryCols.isEmpty) return batch
    // one rule per tracked (db, table) per binary text column
    val rules: Map[String, Seq[(String, String, String)]] = registry.tables
      .flatMap { case (d, t) =>
        registry.columnCharsets(d, t).collect {
          case (cname, cs) if binaryCols(cname) => (cname, d, t, cs)
        }
      }.groupBy(_._1).map { case (c, rs) => c -> rs.map(r => (r._2, r._3, r._4)) }
    rules.foldLeft(batch) { case (df, (cname, rs)) =>
      val chained = rs.foldLeft(Option.empty[org.apache.spark.sql.Column]) {
        case (acc, (d, t, cs)) =>
          val cond = col("db") === d && col("table") === t
          val dec = TypeConversions.javaCharsetOf(cs) match {
            case Some(jc) => TypeConversions.transcodeToUtf8(col(cname), jc)
            case None if TypeConversions.isUtf8OrMb4(cs) => col(cname).cast("string")
            case None => decode(col(cname), "ISO-8859-1") // unknown: lossless carrier
          }
          Some(acc.fold(when(cond, dec))(_.when(cond, dec)))
      }.get
      df.withColumn(cname, chained.otherwise(col(cname).cast("string")))
    }
  }
}

class JobRunner(spark: SparkSession, repl: ReplicationSpec, triggerMs: Long = 1000L) {

  /** Result of a table snapshot: rows written + the watermark (max seq
    * observed) where the incremental phase takes over — the reference's
    * snapshot GTID coordinates (`extractor.go:1191-1274`).
    */
  case class SnapshotResult(table: String, rows: Long, checksum: Long, watermark: Long)

  /** S3+S5+K1 — full load of one table: keyset-chunked scan (stands in
    * for `spark.read.jdbc(predicates)` against a live source), F1/F6/F7
    * transforms, parquet write, checksum for chunk verification (A2).
    */
  def snapshot(source: DataFrame, spec: TableSpec, keyCols: Seq[String],
               numChunks: Int, outDir: String, seqCol: Option[String] = None): SnapshotResult = {
    val chunked = ChunkPlanner.chunkedRead(spark, source, keyCols, numChunks)
    val transformed = Relational.tableTransform(chunked, spec)
    val outName = spec.renameTable.getOrElse(spec.name)
    val outSchema = spec.renameSchema.getOrElse(spec.schema)
    val path = s"$outDir/$outSchema.$outName"
    transformed.write.mode(SaveMode.Overwrite).parquet(path)
    val written = spark.read.parquet(path)
    val rows = written.count()
    val chk = keyCols.headOption.flatMap { k =>
      if (written.columns.contains(k))
        Some(written.agg(coalesce(sum(hash(col(k)).cast("long")), lit(0L))).first().getLong(0))
      else None
    }.getOrElse(0L)
    val watermark = seqCol.filter(source.columns.contains)
      .map(c => source.agg(coalesce(max(col(c)), lit(0L))).first().getLong(0))
      .getOrElse(0L)
    SnapshotResult(s"$outSchema.$outName", rows, chk, watermark)
  }

  /** Incremental phase: change stream → route/filter/rename →
    * idempotent sink, starting after `watermark` (reference binlog
    * reader starts at the snapshot coordinates).
    */
  def incremental(changes: DataFrame, sink: UpsertSink, checkpointDir: String,
                  watermark: Long = 0L, seqCol: String = "seq"): StreamingQuery = {
    val fromWatermark =
      if (watermark > 0L) changes.filter(col(seqCol) > watermark) else changes
    CdcPipeline.run(fromWatermark, repl, sink, checkpointDir, triggerMs)
  }

  /** Incremental phase with the full K5+C9 control path wired in — the
    * production shape of what the reference runs on every query event
    * (`applier_incr.go:610-674`, `binlog_reader.go:543-548`):
    *
    *   - DDL barriers run [[ddlBarrierHandler]]: decode
    *     (character_set_client) → skip/route/drop-filter → schema
    *     registry replay → rename + collation downgrade → forward the
    *     rewritten statement to `onDdlForward` (the target's DDL
    *     executor).
    *   - every DML segment passes the C9 charset stage
    *     ([[JobRunner.charsetDecodingSink]]) BEFORE the sink, reading
    *     the per-column charset map the registry captured from DDL —
    *     segments apply after their preceding barrier, so a CREATE
    *     TABLE ... CHARSET=latin1 in the same micro-batch already
    *     governs the rows that follow it.
    */
  def incrementalWithDdl(changes: DataFrame, sink: UpsertSink, checkpointDir: String,
                         registry: SchemaRegistry,
                         onDdlForward: String => Unit,
                         watermark: Long = 0L, seqCol: String = "seq",
                         characterSetClient: String = "utf8mb4",
                         lowerCaseTableNames: Boolean = false,
                         registryPath: Option[String] = None,
                         onSchemaChanged: DdlBarrierEvent => Unit = _ => ()): StreamingQuery = {
    val fromWatermark =
      if (watermark > 0L) changes.filter(col(seqCol) > watermark) else changes
    CdcPipeline.run(fromWatermark, repl,
      JobRunner.charsetDecodingSink(sink, registry), checkpointDir, triggerMs,
      ddlHandler = Some(ddlBarrierHandler(registry, onDdlForward,
        characterSetClient, lowerCaseTableNames, registryPath, onSchemaChanged)))
  }

  /** The composed K5 barrier handler: one `DdlBarrierEvent` → decode →
    * [[graft.ddl.DdlProcessor.process]] (with rename maps derived from
    * this job's [[ReplicationSpec]]) → forward. A statement the route
    * skips, an always-skip kind, or an all-tables-filtered DROP forwards
    * nothing AND leaves the registry untouched — the registry tracks
    * only replicated tables, mirroring the reference inspector's scope
    * (widening the route later requires a fresh schema load, as it does
    * there).
    *
    * Byte carrier: a DDL statement read off a non-UTF-8 session arrives
    * with each raw byte mapped to one char (ISO-8859-1 mangling — the
    * lossless byte↔char carrier); `characterSetClient` names the real
    * encoding, mirroring the reference decoding the query event with the
    * session charset before parsing (`binlog_reader.go:543-548`).
    */
  /** @param registryPath    when set, the registry snapshots here after
    *                        every schema-changing DDL (atomic write) —
    *                        `SchemaRegistry.load(path)` on restart
    *                        resumes the charset feed and table metadata
    *                        exactly (the reference persists table
    *                        structures in its job store the same way)
    * @param onSchemaChanged replan signal: fired after the registry
    *                        mutates — the hook to restart dependent
    *                        streaming queries with the new schema
    */
  def ddlBarrierHandler(registry: SchemaRegistry,
                        onForward: String => Unit,
                        characterSetClient: String = "utf8mb4",
                        lowerCaseTableNames: Boolean = false,
                        registryPath: Option[String] = None,
                        onSchemaChanged: DdlBarrierEvent => Unit = _ => ()): DdlBarrierEvent => Unit = {
    // literal rename maps for DdlRewriter (regex renames apply on the
    // DML plane via Relational.renameRegex; DDL text rewrite is literal)
    val renameSchema: Map[String, String] = repl.doDb
      .flatMap(s => s.renameSchema.filter(_ => s.schemaRegex.isEmpty).map(s.schema -> _)).toMap
    val renameTable: Map[(String, String), (String, String)] = repl.doDb.flatMap { s =>
      s.tables.flatMap { t =>
        t.renameTable.filter(_ => !t.nameIsRegex).map { newT =>
          (s.schema, t.name) -> (s.renameSchema.getOrElse(s.schema), newT)
        }
      }
    }.toMap
    (d: DdlBarrierEvent) => {
      // decode ONLY when a decoder exists for the session charset:
      // utf8/utf8mb4 carriers are already text, and an UNKNOWN charset
      // must pass through untouched (reference encoding.Nop) — a forced
      // UTF-8 decode would turn 0x80-0xFF bytes in a DEFAULT literal
      // into U+FFFD in the statement forwarded to the target
      val decoded = TypeConversions.javaCharsetOf(characterSetClient) match {
        case Some(_) => TypeConversions.ddlToUtf8(
          d.sql.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1), characterSetClient)
        case None => d.sql
      }
      val out = DdlProcessor.process(d.db, d.table, decoded, repl, registry,
        renameSchema, renameTable, lowerCaseTableNames)
      out.sql.foreach(onForward)
      if (out.schemaChanged) {
        registryPath.foreach(registry.save)
        onSchemaChanged(d)
      }
    }
  }

  /** Batch replay of a bounded change log over snapshot state — the
    * deterministic equivalent used for verification (and by tests):
    * final state must match applying the log with K2-K4 semantics.
    */
  def replayBatch(snapshotState: DataFrame, changes: DataFrame,
                  keyCol: String, seqCol: String, opCol: String): DataFrame = {
    val routed = changes
      .filter(Relational.routeFilter(repl, col("db"), col("table")))
      .transform(df => Relational.opFilter(df, repl.skipOps))
      .transform(df => repl.selfServerId.fold(df)(sid => Relational.cycleFilter(df, sid)))
    val finalState = CdcBatch.applyChangeLog(routed, keyCol, seqCol, opCol)
    val touched = routed.select(keyCol).distinct()
    val deleted = routed.groupBy(col(keyCol))
      .agg(max_by(col(opCol), col(seqCol)).as("last_op"))
      .filter(col("last_op") === "d").select(col(keyCol))
    snapshotState.join(touched, Seq(keyCol), "left_anti")
      .unionByName(finalState.select(snapshotState.columns.toIndexedSeq.map(col): _*), allowMissingColumns = true)
      .join(deleted, Seq(keyCol), "left_anti")
  }
}
