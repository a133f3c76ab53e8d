package graft.model

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Connection endpoint for a source/destination (reference
  * `mysqlconfig.ConnectionConfig`). Password is deliberately NOT
  * modeled here — credentials belong in the cluster's secret manager,
  * not a job spec that lands in logs and checkpoints.
  */
case class ConnectionConfig(host: String, port: Int, user: String, database: String = "")

/** Kafka destination settings (reference `KafkaConfig`,
  * `driver/common/taskconfig.go:96-110`): topic prefix + brokers.
  */
case class KafkaSinkConfig(topic: String, brokers: Seq[String],
                           messageGroupMaxSize: Long = 1, messageGroupTimeoutMs: Long = 100)

/** Execution tuning knobs (reference `DtleTaskConfig` scalars with
  * `SetDefaultForEmpty` defaults, `driver/common/taskconfig.go:12-17,
  * 85-111`): chunked-dump size, incremental grouping, apply
  * parallelism, bulk-insert tiers.
  */
case class TuningConfig(
    chunkSize: Long = 2000,            // DefaultChunkSize
    groupMaxSize: Int = 1,             // DefaultSrcGroupMaxSize
    groupTimeoutMs: Int = 100,         // DefaultSrcGroupTimeout
    parallelWorkers: Int = 1,          // DefaultNumWorkers
    dropTableIfExists: Boolean = false,
    skipCreateDbTable: Boolean = false,
    skipIncrementalCopy: Boolean = false,
    foreignKeyChecks: Boolean = true,
    bulkInsertTiers: Seq[Int] = Seq(128, 8, 4, 1))

/** One parsed job — the data-plane view of the reference's job JSON.
  * The routing/rename/filter surface lands in [[ReplicationSpec]]
  * (consumed by `Relational` + `CdcPipeline`); the rest is tuning and
  * endpoints.
  */
case class JobConfig(
    repl: ReplicationSpec,
    tuning: TuningConfig,
    destType: String,                       // "mysql" | "kafka"
    gtidStart: Option[String] = None,
    twoWaySync: Boolean = false,
    src: Option[ConnectionConfig] = None,
    dest: Option[ConnectionConfig] = None,
    kafka: Option[KafkaSinkConfig] = None)

/** Parser for the reference's job-spec JSON (`DtleTaskConfig`,
  * `driver/common/taskconfig.go:38-82`; nested `DataSource`/`Table`
  * shapes `driver/common/tabletypes.go:61-112`) — the config a dtle
  * user already has, accepted verbatim so switching engines is a
  * driver swap, not a config rewrite. Field names and defaults follow
  * the reference; `SqlFilter` strings map onto [[ReplicationSpec]]
  * `skipOps` / DDL-skip flags the same way `parseSqlFilter`
  * (`binlog_reader.go:132-178`) does.
  */
object JobConfig {

  private val mapper = new ObjectMapper()

  def fromJson(json: String): JobConfig = {
    val root = mapper.readTree(json)

    def opt(n: JsonNode, field: String): Option[JsonNode] =
      Option(n.get(field)).filterNot(_.isNull)
    def str(n: JsonNode, field: String): Option[String] =
      opt(n, field).map(_.asText).filter(_.nonEmpty)
    def arr(n: JsonNode, field: String): Seq[JsonNode] =
      opt(n, field).map(_.elements.asScala.toSeq).getOrElse(Nil)

    def parseTable(t: JsonNode): TableSpec = TableSpec(
      schema = str(t, "TableSchema").getOrElse(""),
      name = str(t, "TableRegex").orElse(str(t, "TableName")).getOrElse(""),
      renameTable = str(t, "TableRename"),
      where = str(t, "Where"),
      columnMapFrom = arr(t, "ColumnMapFrom").map(_.asText),
      columnMapTo = arr(t, "ColumnMapTo").map(_.asText),
      // regex-ness is the FIELD, not the syntax (an unanchored
      // TableRegex would otherwise be taken as a literal name)
      nameIsRegex = str(t, "TableRegex").isDefined)

    def parseDo(d: JsonNode): SchemaSpec = SchemaSpec(
      schema = str(d, "TableSchema").getOrElse(""),
      schemaRegex = str(d, "TableSchemaRegex"),
      renameSchema = str(d, "TableSchemaRename"),
      tables = arr(d, "Tables").map(parseTable))

    def parseIgnore(d: JsonNode): IgnoreSpec = IgnoreSpec(
      schema = str(d, "TableSchema").getOrElse(""),
      tables = arr(d, "Tables").flatMap(t => str(t, "TableName")))

    // SqlFilter → op-kind skips (reference parseSqlFilter semantics:
    // nodml = all three; DDL-granular flags collapse onto the "ddl" op
    // this engine models DDL events as)
    val filters = arr(root, "SqlFilter").map(_.asText.toLowerCase)
    val skipOps: Set[String] =
      (if (filters.contains("nodml")) Set(Op.Insert, Op.Update, Op.Delete) else Set.empty[String]) ++
        (if (filters.contains("nodmlinsert")) Set(Op.Insert) else Set.empty[String]) ++
        (if (filters.contains("nodmlupdate")) Set(Op.Update) else Set.empty[String]) ++
        (if (filters.contains("nodmldelete")) Set(Op.Delete) else Set.empty[String]) ++
        (if (filters.exists(_.startsWith("noddl"))) Set(Op.Ddl) else Set.empty[String])

    def intOr(field: String, dflt: Int): Int =
      opt(root, field).map(_.asInt).filter(_ > 0).getOrElse(dflt)
    def longOr(field: String, dflt: Long): Long =
      opt(root, field).map(_.asLong).filter(_ > 0).getOrElse(dflt)
    def boolOr(field: String, dflt: Boolean): Boolean =
      opt(root, field).map(_.asBoolean).getOrElse(dflt)

    val repl = ReplicationSpec(
      doDb = arr(root, "ReplicateDoDb").map(parseDo),
      ignoreDb = arr(root, "ReplicateIgnoreDb").map(parseIgnore),
      skipOps = skipOps,
      // the reference's opt-in gate for grants/user admin/procedures
      // and mysql.* grant-table rows (taskconfig ExpandSyntaxSupport)
      expandSyntaxSupport = boolOr("ExpandSyntaxSupport", dflt = false))

    val bulkTiers = Seq(
      intOr("BulkInsert1", 4), intOr("BulkInsert2", 8), intOr("BulkInsert3", 128))
      .sorted(Ordering.Int.reverse) :+ 1

    val tuning = TuningConfig(
      chunkSize = longOr("ChunkSize", 2000L),
      groupMaxSize = intOr("GroupMaxSize", 1),
      groupTimeoutMs = intOr("GroupTimeout", 100),
      parallelWorkers = intOr("ParallelWorkers", 1),
      dropTableIfExists = boolOr("DropTableIfExists", dflt = false),
      skipCreateDbTable = boolOr("SkipCreateDbTable", dflt = false),
      skipIncrementalCopy = boolOr("SkipIncrementalCopy", dflt = false),
      foreignKeyChecks = boolOr("ForeignKeyChecks", dflt = true),
      bulkInsertTiers = bulkTiers.distinct)

    def parseConn(n: JsonNode): ConnectionConfig = ConnectionConfig(
      host = str(n, "Host").getOrElse("localhost"),
      port = opt(n, "Port").map(_.asInt).getOrElse(3306),
      user = str(n, "User").getOrElse(""),
      database = str(n, "Database").getOrElse(""))

    val kafka = opt(root, "KafkaConfig").map { k =>
      def kLongOr(field: String, dflt: Long): Long =
        opt(k, field).map(_.asLong).filter(_ > 0).getOrElse(dflt)
      KafkaSinkConfig(
        topic = str(k, "Topic").getOrElse("dtle"),
        brokers = arr(k, "Brokers").map(_.asText),
        messageGroupMaxSize = kLongOr("MessageGroupMaxSize", 1L),
        messageGroupTimeoutMs = kLongOr("MessageGroupTimeout", 100L))
    }

    JobConfig(
      repl = repl,
      tuning = tuning,
      destType = str(root, "DestType").getOrElse(if (kafka.isDefined) "kafka" else "mysql"),
      gtidStart = str(root, "Gtid").orElse(str(root, "GtidStart")),
      twoWaySync = boolOr("TwoWaySync", dflt = false),
      src = opt(root, "SrcConnectionConfig").map(parseConn),
      dest = opt(root, "DestConnectionConfig").map(parseConn),
      kafka = kafka)
  }
}
