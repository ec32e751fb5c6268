package graft.sources

import graft.cdc.Cdc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Kafka-shaped ingest for the OLR change feed.
  *
  * The reference's transport is OpenLogReplicator writing straight to a
  * Kafka topic (reference scripts/OpenLogReplicator.json:42-54
  * `writer.type=kafka`, README.md:623-696 broker setup); consumers read
  * (key, value) byte records. Spark's Kafka source
  * (`spark.readStream.format("kafka")`) surfaces exactly the columns in
  * [[wireSchema]] — this module is the transform chain from that wire
  * shape into the typed change model, so swapping the in-container test
  * feed for a real broker is ONLY a source swap:
  *
  * {{{
  *   spark.readStream.format("kafka")
  *     .option("kafka.bootstrap.servers", ...)
  *     .option("subscribe", "olr.cdc")
  *     .load()                      // <- wireSchema columns
  *     .transform(KafkaWire.parse)  // <- everything below is identical
  * }}}
  *
  * Scale notes: the parse is a codegen'd cast + from_json fused into
  * the scan of each micro-batch — stateless, map-only, no shuffle. At
  * 100 TB/day the parallelism is topic partitions -> input partitions;
  * lineage columns (topic, partition, offset) ride along so downstream
  * exactly-once dedup can key on (partition, offset).
  */
object KafkaWire {

  /** The Spark Kafka source's fixed output schema. */
  val wireSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Build the wire-record STREAM, flag-gated on the deployment:
    * when `SPARK_GRAFT_KAFKA=host:port` is set (or a bootstrap string
    * is passed explicitly), the stream comes from a REAL broker via
    * Spark's Kafka source — the reference's actual transport
    * (README.md:623-696, kafka-1..3) — and everything downstream
    * (`.transform(parse)` and the whole CDC chain behind it) runs
    * unchanged, because both branches emit EXACTLY [[wireSchema]].
    * Without the flag, the stream is staged wire records (parquet
    * files in [[wireSchema]] shape), the in-container test transport.
    *
    * The broker branch cannot be integration-tested here — this
    * container ships no broker and no spark-sql-kafka connector jar —
    * so KafkaWireSpec pins (a) the staged branch's schema is exactly
    * [[wireSchema]] and (b) the broker branch is genuinely selected by
    * the flag (its failure in-container is the missing connector, not
    * a code path that silently fell back to files). */
  def stream(s: org.apache.spark.sql.SparkSession, topic: String,
             stagedDir: String,
             bootstrap: Option[String] = sys.env.get("SPARK_GRAFT_KAFKA")): DataFrame =
    bootstrap match {
      case Some(servers) =>
        s.readStream.format("kafka")
          .option("kafka.bootstrap.servers", servers)
          .option("subscribe", topic)
          .option("startingOffsets", "earliest")
          .load()
      case None =>
        s.readStream.schema(wireSchema).parquet(stagedDir)
    }

  /** Wrap an OLR JSON feed (columns event_id, json — see
    * Cdc.feedFrom) into Kafka wire records, the way the
    * reference's Kafka writer produces them: key = the row key (OLR
    * keys messages for per-key ordering), value = the JSON payload.
    * Partitioning mirrors Kafka's keyed partitioner deterministically
    * (key mod numPartitions) and the offset carries the scn — both
    * reproducible in any engine, so the oracle can rebuild the exact
    * wire stream. */
  def toWire(feed: DataFrame, topic: String, numPartitions: Int = 3): DataFrame =
    // ONE from_json parse feeding every derived column (repeated
    // get_json_object calls re-parse the string per column)
    Cdc.parse(feed, col("json"), keep = Seq("json"))
      .select(
        col("key").cast("string").cast("binary").as("key"),
        col("json").cast("binary").as("value"),
        lit(topic).as("topic"),
        pmod(col("key"), lit(numPartitions.toLong)).cast("int").as("partition"),
        col("scn").as("offset"),
        timestamp_micros(col("tm")).as("timestamp"),
        lit(0).as("timestampType"))

  /** Kafka wire records -> typed change rows + lineage (topic,
    * partition, offset). Works identically on a batch DataFrame and a
    * streaming one. */
  def parse(wire: DataFrame): DataFrame =
    Cdc.parse(wire, col("value").cast("string"),
      keep = Seq("topic", "partition", "offset"))
}
