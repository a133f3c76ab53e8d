package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.model.Op
import graft.streaming.UpsertSink

/** The reference's Kafka job type as a pipeline sink: every DML row of
  * each micro-batch becomes a Debezium-envelope message on
  * `prefix.db.table`, produced over raw TCP by [[KafkaWireSink]]
  * (reference `driver/kafka/kafka3.go` — its applier IS a Kafka
  * producer; MySQL→Kafka is the job shape dtle ships for feeding
  * downstream consumers).
  *
  * Only data ops (c/u/d/r) publish here — commit markers are
  * transaction plumbing and DDL rides the schema-change topic
  * ([[graft.operators.DebeziumEnvelope.schemaChange]]) via the
  * pipeline's DDL-barrier handler, matching Debezium's topic split.
  * Delivery is at-least-once: a failed produce fails the micro-batch
  * and checkpoint replay re-sends it (the reference's contract; keyed
  * messages make the duplicates compact away downstream).
  */
object KafkaEnvelopeSink {
  /** The DDL half of the Kafka job — a [[graft.streaming.CdcPipeline]]
    * barrier handler that publishes the Debezium schema-change envelope
    * `{source, databaseName, ddl, ts_ms}` keyed by database onto the
    * SERVER-LEVEL topic (= the prefix; reference full-copy DDL path
    * `kafka3.go:684-865`, envelope `kafka2.go:111-230`). Debezium's
    * topic split exactly: data rows on `prefix.db.table`, the DDL that
    * reshapes them on `prefix`, replayable together by ts/pos. Runs on
    * the driver at the barrier over one short-lived connection — DDL is
    * control-plane rare and already serialized by K5.
    */
  def schemaChangeHandler(host: String, port: Int, topicPrefix: String,
                          serverId: String = "graft")
      : graft.streaming.DdlBarrierEvent => Unit = { e =>
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    val src = root.putObject("source")
    src.put("name", "graft"); src.put("db", e.db)
    src.put("server_id", serverId); src.put("pos", e.seq)
    root.put("databaseName", e.db)
    root.put("ddl", e.sql)
    root.put("ts_ms", System.currentTimeMillis())
    val key = om.createObjectNode()
    key.put("databaseName", e.db)
    KafkaWireSink.produceLocal(host, port,
      Seq((Some(om.writeValueAsString(key)), om.writeValueAsString(root), topicPrefix)))
  }
}

class KafkaEnvelopeSink(host: String, port: Int, topicPrefix: String,
                        acks: Short = -1, maxBatchRecords: Int = 500)
    extends UpsertSink {

  override def applyBatch(batch: DataFrame, epochId: Long): Unit = {
    import org.apache.spark.sql.functions.{coalesce, lit, size, to_json, when}
    import org.apache.spark.sql.types.{MapType, StructType}
    // the CDC frame's images arrive in three dialects: JSON text
    // (CdcFileSource), map<string,string> (ChangeEvent encoder — empty
    // map means "absent half"), struct (batch operators). Normalize to
    // JSON-text-or-null so encodeRaw splices one shape.
    val normalized = Seq("before", "after").foldLeft(batch) { (df, c) =>
      df.schema(c).dataType match {
        case _: MapType =>
          df.withColumn(c, when(coalesce(size(col(c)), lit(0)) > 0, to_json(col(c))))
        case _: StructType =>
          df.withColumn(c, when(col(c).isNotNull, to_json(col(c))))
        case _ => df
      }
    }
    // repartition by row key + seq-sort within partitions: every key
    // lives in exactly one producing task and its messages hit the wire
    // in commit order — the same ordering move the upsert sinks make,
    // and what downstream log compaction / replay lean on (one key maps
    // to one kafka partition via the default partitioner, so per-key
    // wire order IS per-partition log order)
    val data = normalized
      .filter(col("op").isin(Op.Insert, Op.Update, Op.Delete, Op.Read))
      .repartition(col("key"))
      .sortWithinPartitions(col("seq"))
    val env = graft.operators.DebeziumEnvelope.encodeRaw(data, topicPrefix)
    KafkaWireSink.produce(env, host, port, acks, maxBatchRecords = maxBatchRecords)
    ()
  }
}
