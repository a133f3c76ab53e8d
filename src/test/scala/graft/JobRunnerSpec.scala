package graft

import org.apache.spark.sql.functions._
import graft.model._

/** §3.2/§3.3 end-to-end: snapshot with transforms + watermark, then
  * change replay — the reference's full job lifecycle on fixtures.
  */
/** Flattened wire row for the K5+C9 e2e: DDL text rides `after`, raw
  * text bytes ride a BINARY data column (`name`).
  */
case class WireEvent(db: String, table: String, op: String, seq: Long,
                     after: String, key: String, name: Array[Byte])

class JobRunnerSpec extends SparkSpec {
  import spark.implicits._

  test("snapshot: chunked read + filter + projection + rename + watermark") {
    val runner = new JobRunner(spark, ReplicationSpec())
    val dir = graft.TempDirs.scratch("graft-job")
    val orders = Tables.load(spark, sf, "orders")
    val spec = TableSpec("sales", "orders",
      renameSchema = Some("analytics"), renameTable = Some("orders_cdc"),
      where = Some("o_totalprice > 1000"),
      columnMapFrom = Seq("o_orderkey", "o_custkey", "o_totalprice"))
    val res = runner.snapshot(orders, spec, Seq("o_orderkey"), 4, dir, seqCol = Some("o_orderkey"))
    assert(res.table == "analytics.orders_cdc")
    val written = spark.read.parquet(s"$dir/analytics.orders_cdc")
    assert(written.columns.toSeq == Seq("o_orderkey", "o_custkey", "o_totalprice"))
    val expected = orders.filter(col("o_totalprice") > 1000).count()
    assert(res.rows == expected && written.count() == expected)
    assert(res.watermark == orders.agg(max("o_orderkey")).first().getLong(0))
  }

  test("a dtle job JSON drives the full lifecycle: parse -> snapshot -> transforms") {
    // the config a reference user already has, verbatim field names
    val json =
      """{
        |  "ReplicateDoDb": [
        |    {"TableSchema": "sales", "TableSchemaRename": "analytics",
        |     "Tables": [{"TableName": "orders", "TableRename": "orders_cdc",
        |       "Where": "o_totalprice > 1000",
        |       "ColumnMapFrom": ["o_orderkey", "o_custkey", "o_totalprice"]}]}
        |  ],
        |  "SqlFilter": ["NoDMLDelete"],
        |  "ChunkSize": 2000
        |}""".stripMargin
    val (runner, cfg) = JobRunner.fromJson(spark, json)
    assert(cfg.repl.skipOps == Set(Op.Delete))
    assert(!cfg.repl.expandSyntaxSupport) // reference default: off
    // the reference field name flips the gate verbatim
    assert(JobConfig.fromJson("""{"ExpandSyntaxSupport": true}""")
      .repl.expandSyntaxSupport)
    val tableSpec = cfg.repl.doDb.head.tables.head
      .copy(schema = cfg.repl.doDb.head.schema,
        renameSchema = cfg.repl.doDb.head.renameSchema)
    val dir = graft.TempDirs.scratch("graft-json-job")
    val res = runner.snapshot(Tables.load(spark, sf, "orders"), tableSpec,
      Seq("o_orderkey"), numChunks = 4, outDir = dir)
    assert(res.table == "analytics.orders_cdc")
    val written = spark.read.parquet(s"$dir/analytics.orders_cdc")
    assert(written.columns.toSeq == Seq("o_orderkey", "o_custkey", "o_totalprice"))
    assert(written.count() ==
      Tables.load(spark, sf, "orders").filter(col("o_totalprice") > 1000).count())
  }

  test("destType=kafka: the job document alone selects the wire-producer sink, e2e") {
    // the reference's kafka JOB TYPE: same job JSON, DestType flips the
    // applier (driver.go dispatch → kafka3.go). Here the parsed config
    // builds the envelope sink over the from-scratch wire and the
    // stream lands on a validating loopback broker.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val broker = new graft.sinks.LoopbackKafka.Broker(numPartitions = 2)
    try {
      val cfg = JobConfig.fromJson(
        s"""{"ReplicateDoDb": [{"TableSchema": "shop"}],
           | "KafkaConfig": {"Topic": "graft",
           |   "Brokers": ["${broker.host}:${broker.port}"],
           |   "MessageGroupMaxSize": 500}}""".stripMargin)
      assert(cfg.destType == "kafka")
      val sink = JobRunner.sinkFor(cfg,
        fallback = throw new IllegalStateException("kafka job must not take the fallback sink"))
      val runner = new JobRunner(spark, cfg.repl)
      val input = MemoryStream[ChangeEvent]
      val dir = TempDirs.scratch("job-kafka")
      val q = runner.incremental(input.toDF(), sink, s"$dir/cp")
      try {
        input.addData(
          ChangeEvent("shop", "t", "c", "1", Map.empty,
            Map("id" -> "1", "name" -> "ann"), 1000L, "g:1", 1L, 0L, "sid"),
          ChangeEvent("other", "t", "c", "9", Map.empty,
            Map("id" -> "9"), 1001L, "g:2", 2L, 0L, "sid"),
          ChangeEvent("shop", "t", "d", "1",
            Map("id" -> "1", "name" -> "ann"), Map.empty, 1002L, "g:3", 3L, 0L, "sid"))
        q.processAllAvailable()
      } finally q.stop()
      import scala.jdk.CollectionConverters._
      val got = broker.records.asScala.toSeq
      // routing from the SAME job document applied before the sink
      assert(got.map(_.topic).toSet == Set("graft.shop.t"), s"topics: ${got.map(_.topic)}")
      assert(got.size == 2, s"records: $got")
      val ins = got.find(_.value.exists(_.contains("\"op\":\"c\""))).get.value.get
      assert(ins.contains("\"name\":\"ann\"") && ins.contains("\"before\":null"))
      val del = got.find(_.value.exists(_.contains("\"op\":\"d\""))).get.value.get
      // the map-dialect images normalized: absent half -> JSON null
      assert(del.contains("\"after\":null") && del.contains("\"name\":\"ann\""))
    } finally broker.close()
  }

  test("K5+C9 wired: latin1 CREATE + renamed DML round-trip through the stream") {
    // the reference runs this path on every query event
    // (applier_incr.go:610-674, binlog_reader.go:543-548); done-criterion:
    // DDL arrives rewritten + decoded, DML text arrives charset-decoded
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val repl = ReplicationSpec(doDb = Seq(SchemaSpec("src", renameSchema = Some("dst"),
      tables = Seq(TableSpec("src", "t")))))
    val runner = new JobRunner(spark, repl)
    val registry = new graft.ddl.SchemaRegistry
    val forwarded = scala.collection.mutable.ArrayBuffer.empty[String]
    val seen = scala.collection.mutable.Map.empty[String, String]
    val sink = new graft.streaming.UpsertSink {
      override def applyBatch(batch: org.apache.spark.sql.DataFrame, epochId: Long): Unit =
        batch.select("key", "name").collect().foreach(r =>
          seen.synchronized { seen(r.getString(0)) = r.getString(1) })
    }
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    // the session was latin1: the DDL's raw bytes ride byte↔char mangled
    // (€ is 0x80 in cp1252 — NOT representable in ISO-8859-1 text)
    val rawDdl = new String(
      "CREATE TABLE src.t (id INT, name VARCHAR(20) DEFAULT '€9.99') DEFAULT CHARSET=latin1"
        .getBytes(cp1252), java.nio.charset.StandardCharsets.ISO_8859_1)
    val input = MemoryStream[WireEvent]
    val dir = graft.TempDirs.scratch("graft-e2e-ddl")
    val replans = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = runner.incrementalWithDdl(input.toDF(), sink, s"$dir/cp", registry,
      s => forwarded.synchronized { forwarded += s }, characterSetClient = "latin1",
      registryPath = Some(s"$dir/registry.json"),
      onSchemaChanged = d => replans.synchronized { replans += d.seq })
    try {
      input.addData(
        WireEvent("src", "t", "ddl", 1L, rawDdl, null, null),
        WireEvent("src", "t", "c", 2L, null, "k1", "café".getBytes(cp1252)),
        WireEvent("src", "t", "c", 3L, null, "k2", "naïve €5".getBytes(cp1252)))
      q.processAllAvailable()
    } finally q.stop()
    // DDL: decoded via character_set_client, schema-renamed src→dst
    assert(forwarded.size == 1, s"forwarded=$forwarded")
    assert(forwarded.head.contains("`dst`.`t`") && forwarded.head.contains("€9.99"))
    // registry captured the charset feed from the CREATE
    assert(registry.columnCharsets("src", "t")("name") == "latin1")
    // DML: raw cp1252 bytes landed as decoded UTF-8 strings
    assert(seen.toMap == Map("k1" -> "café", "k2" -> "naïve €5"))
    // replan signal fired at the barrier; the persisted registry resumes
    // the charset feed after a restart (the reference re-loads table
    // structures from its job store the same way)
    assert(replans.toSeq == Seq(1L))
    val resumed = graft.ddl.SchemaRegistry.load(s"$dir/registry.json")
    assert(resumed.columnCharsets("src", "t")("name") == "latin1")
  }

  test("transcodeMixedBatch contract: per-table decode, lossless unknown, stable binary") {
    val reg = new graft.ddl.SchemaRegistry
    reg.applyDdl("s", "CREATE TABLE latin (v VARCHAR(20)) DEFAULT CHARSET=latin1")
    reg.applyDdl("s", "CREATE TABLE utf (v VARCHAR(20)) DEFAULT CHARSET=utf8mb4")
    reg.applyDdl("s", "CREATE TABLE weird (v VARCHAR(20)) DEFAULT CHARSET=armscii8") // unknown to the map
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val rows = Seq(
      ("s", "latin", "café €".getBytes(cp1252), Array[Byte](1, 2)),
      ("s", "utf", "café €".getBytes(utf8), Array[Byte](3, 4)),
      ("s", "weird", Array[Byte](0x41, 0x9D.toByte, 0x42), Array[Byte](5, 6)),
      ("s", "untracked", "plain".getBytes(utf8), Array[Byte](7, 8)))
      .toDF("db", "table", "v", "payload")
    val out = JobRunner.transcodeMixedBatch(rows, reg)
    // v: text somewhere -> unified string column, per-table decode
    val byTable = out.select("table", "v").as[(String, String)].collect().toMap
    assert(byTable("latin") == "café €")   // cp1252 decoded
    assert(byTable("utf") == "café €")     // utf8 cast
    // unknown charset: ISO-8859-1 carrier — bytes recoverable exactly
    assert(byTable("weird").getBytes(java.nio.charset.StandardCharsets.ISO_8859_1).toSeq ==
      Seq[Byte](0x41, 0x9D.toByte, 0x42))
    assert(byTable("untracked") == "plain") // best-effort utf8
    // payload: no tracked table declares it text -> stays BINARY
    assert(out.schema("payload").dataType == org.apache.spark.sql.types.BinaryType)
    // registry-independent columns: db/table untouched
    assert(out.columns.toSeq == rows.columns.toSeq)
  }

  test("JSON columns never transcode: no charset tag even on a latin1 table") {
    // BinlogParser emits JSON as REAL decoded text; the registry must
    // not charset-tag it (it is always utf8mb4), so the C9 stage can
    // never apply a latin1 decode to a JSON payload
    val reg = new graft.ddl.SchemaRegistry
    reg.applyDdl("s", "CREATE TABLE jdoc (v VARCHAR(20), d JSON) DEFAULT CHARSET=latin1")
    assert(reg.columnCharsets("s", "jdoc") == Map("v" -> "latin1"))
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val cp1252 = java.nio.charset.Charset.forName("windows-1252")
    val rows = Seq(
      ("s", "jdoc", "café €".getBytes(cp1252), """{"k":"中 é"}""".getBytes(utf8)))
      .toDF("db", "table", "v", "d")
    val out = JobRunner.transcodeMixedBatch(rows, reg)
    // v decodes by its charset; d is untouched binary (no charset claim)
    assert(out.select("v").as[String].head() == "café €")
    assert(out.schema("d").dataType == org.apache.spark.sql.types.BinaryType)
    assert(new String(out.select("d").as[Array[Byte]].head(), utf8) == """{"k":"中 é"}""")
  }

  test("tuning knobs from the dtle JSON land in the runtime plan") {
    val json =
      """{
        |  "ReplicateDoDb": [{"TableSchema": "sales"}],
        |  "ChunkSize": 500,
        |  "GroupTimeout": 250,
        |  "GroupMaxSize": 4,
        |  "ReplChanBufferSize": 64,
        |  "ParallelWorkers": 8,
        |  "BulkInsert1": 16, "BulkInsert2": 64, "BulkInsert3": 256,
        |  "ForeignKeyChecks": false,
        |  "SkipIncrementalCopy": true,
        |  "DropTableIfExists": true
        |}""".stripMargin
    val (_, cfg) = JobRunner.fromJson(spark, json)
    val plan = JobRunner.runtimePlan(cfg, tableRows = 10_000L)
    assert(plan.snapshotChunks == 20)            // ceil(10000 / 500)
    assert(plan.triggerMs == 250L)
    assert(plan.sinkPartitions == 8)
    assert(plan.bulkTiers == Seq(256, 64, 16, 1))
    assert(plan.sessionSetup == Seq("SET FOREIGN_KEY_CHECKS = 0"))
    assert(plan.snapshotOnly && plan.dropTargetFirst && plan.createTargetTables)
    // defaults reproduce the reference's envelope (BASELINE.md §1)
    val dflt = JobRunner.runtimePlan(JobConfig.fromJson("{}"), tableRows = 10_000L)
    assert(dflt.snapshotChunks == 5 && dflt.triggerMs == 100L &&
      dflt.sinkPartitions == 1 &&
      dflt.bulkTiers == Seq(128, 8, 4, 1) && dflt.sessionSetup.isEmpty)
    // a Kafka destination's trigger comes from ITS grouping timeout
    val kafkaCfg = JobConfig.fromJson(
      """{"KafkaConfig": {"Topic": "t", "Brokers": ["b:9092"], "MessageGroupTimeout": 400}}""")
    assert(JobRunner.runtimePlan(kafkaCfg, 1000L).triggerMs == 400L)
  }

  test("a fromJson runner's incremental queries run the job's trigger") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.ProcessingTimeTrigger
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    // the default job's GroupTimeout is 100 ms (BASELINE.md §1)
    val (runner, _) = JobRunner.fromJson(spark, """{"ReplicateDoDb": [{"TableSchema": "db"}]}""")
    val sink = new graft.streaming.UpsertSink {
      override def applyBatch(batch: org.apache.spark.sql.DataFrame, epochId: Long): Unit = ()
    }
    val dir = TempDirs.scratch("job-trigger")
    val queries = Seq(
      runner.incremental(MemoryStream[ChangeEvent].toDF(), sink, s"$dir/cp1"),
      runner.incrementalWithDdl(MemoryStream[WireEvent].toDF(), sink, s"$dir/cp2",
        new graft.ddl.SchemaRegistry, _ => ()))
    try queries.foreach { q =>
      assert(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.trigger ==
        ProcessingTimeTrigger(100L))
    } finally queries.foreach(_.stop())
  }

  test("replayBatch: routed change log over snapshot state gives final state") {
    val repl = ReplicationSpec(doDb = Seq(SchemaSpec("db")), skipOps = Set("ddl"),
      selfServerId = Some("self"))
    val runner = new JobRunner(spark, repl)
    val state = Seq(("k1", "v1"), ("k2", "v2"), ("k3", "v3")).toDF("pk", "payload")
    val changes = Seq(
      ("db", "t", "u", "k1", 1L, "v1b", "peer"),
      ("db", "t", "d", "k2", 2L, null.asInstanceOf[String], "peer"),
      ("db", "t", "i", "k4", 3L, "v4", "peer"),
      ("other", "t", "u", "k3", 4L, "IGNORED", "peer"), // routed out
      ("db", "t", "u", "k3", 5L, "LOOP", "self"),       // cycle-filtered
      ("db", "t", "ddl", "k3", 6L, "DDL", "peer")       // op-filtered
    ).toDF("db", "table", "op", "pk", "seq", "payload", "originServerId")
    val out = runner.replayBatch(state, changes, "pk", "seq", "op")
      .select("pk", "payload").as[(String, String)].collect().toMap
    assert(out == Map("k1" -> "v1b", "k3" -> "v3", "k4" -> "v4"))
  }
}
