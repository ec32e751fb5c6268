package graft.cdc

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** §A inventory rows over the synthetic change feed ([[Cdc.feedFrom]],
  * built from the `events` table). Every row's Spark program and
  * DuckDB oracle are assembled from the [[Cdc]] model and its oracle
  * fragments.
  */
object CdcQueries {

  /** The single-table feed over the `events` table (see [[Cdc.feedFrom]]). */
  def feed(s: SparkSession, dir: String): DataFrame =
    Cdc.feedFrom(Tables(s, dir).events)

  private def parsed(s: SparkSession, dir: String): DataFrame =
    Cdc.parse(feed(s, dir), col("json"))

  /** Flattened parse result (structs -> columns so parquet/oracle
    * schemas line up). Absent-payload numerics are coalesced to -1 so
    * the oracle hash compare never has to equate numeric NULL/NaN
    * representations. */
  private[graft] def flatten(p: DataFrame, extra: org.apache.spark.sql.Column*): DataFrame =
    p.select(Seq(col("scn"), col("tm"), col("xid"), col("op"), col("key"),
      coalesce(col("after.id"), lit(-1L)).as("after_id"),
      coalesce(col("after.cents"), lit(-1L)).as("after_cents"),
      coalesce(col("after.type"), lit("")).as("after_type"),
      coalesce(col("before.id"), lit(-1L)).as("before_id"),
      coalesce(col("before.cents"), lit(-1L)).as("before_cents"),
      coalesce(col("before.type"), lit("")).as("before_type")) ++ extra: _*)

  val cdcParse: Q = Q(
    "cdc_parse",
    (s, dir) => flatten(parsed(s, dir)).orderBy("scn"),
    Some(s"${Cdc.oracleFeed()}\nSELECT * FROM p ORDER BY scn"))

  val cdcUnwrap: Q = Q(
    "cdc_unwrap",
    (s, dir) => Cdc.unwrap(parsed(s, dir), rewrite = false).orderBy("scn"),
    Some(s"""${Cdc.oracleFeed()}
            |SELECT scn, key, after_id AS id, after_cents AS cents,
            |  after_type AS type, 'false' AS __deleted
            |FROM p WHERE op <> 'd' ORDER BY scn""".stripMargin))

  val cdcDeleteRewrite: Q = Q(
    "cdc_delete_rewrite",
    (s, dir) => Cdc.unwrap(parsed(s, dir), rewrite = true).orderBy("scn"),
    Some(s"""${Cdc.oracleFeed()}
            |SELECT scn, key,
            |  CASE WHEN op='d' THEN before_id ELSE after_id END AS id,
            |  CASE WHEN op='d' THEN before_cents ELSE after_cents END AS cents,
            |  CASE WHEN op='d' THEN before_type ELSE after_type END AS type,
            |  CASE WHEN op='d' THEN 'true' ELSE 'false' END AS __deleted
            |FROM p ORDER BY scn""".stripMargin))

  /** Duplicate every 10th event (scn % 10 == 0) — the at-least-once
    * redelivery simulation. Emitted by exploding a per-row copy array
    * off a SINGLE pass, not by unioning the feed with a filtered copy
    * of itself: the union form evaluates the JSON-parse-heavy source
    * subtree once per branch in the static plan, doubling the scan. */
  private[graft] def redeliver(p: DataFrame): DataFrame = p
    .withColumn("__copy", explode(when(col("scn") % 10 === 0,
      typedLit(Seq(0, 1))).otherwise(typedLit(Seq(0)))))
    .drop("__copy")

  /** [[redeliver]] then [[Cdc.dedup]] in DuckDB: CTEs `redelivered`
    * and `deduped` over the parsed feed `p`. */
  private val dedupedSql =
    """redelivered AS (
      |  SELECT * FROM p UNION ALL SELECT * FROM p WHERE scn % 10 = 0),
      |deduped AS (
      |  SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER
      |      (PARTITION BY key, scn ORDER BY xid ASC) AS rn
      |    FROM redelivered) WHERE rn = 1)""".stripMargin

  /** Redelivery simulation: every 10th event is delivered twice, then
    * deduped back to exactly-once. */
  val cdcDedupEvents: Q = Q(
    "cdc_dedup_events",
    (s, dir) => Cdc.dedup(redeliver(flatten(parsed(s, dir))))
      .groupBy("key").agg(count(lit(1)).as("n_events"), max("scn").as("max_scn"))
      .orderBy("key"),
    Some(s"""${Cdc.oracleFeed()},
            |$dedupedSql
            |SELECT key, count(*) AS n_events, max(scn) AS max_scn
            |FROM deduped GROUP BY key ORDER BY key""".stripMargin))

  /** The materialized snapshot in DuckDB, restricted by `where`: the
    * oracle of every row that must equal cdc_materialize. */
  private def snapshotSql(where: String): String =
    s"""${Cdc.liveSql()}
       |SELECT key, after_id AS id, after_cents AS cents,
       |  after_type AS type, scn AS last_scn
       |FROM live WHERE $where ORDER BY key""".stripMargin

  val cdcMaterialize: Q = Q(
    "cdc_materialize",
    (s, dir) => Cdc.materialize(parsed(s, dir)).orderBy("key"),
    Some(snapshotSql("TRUE")))

  /** ksqlDB-style stream-table enrichment: change feed joined to a
    * broadcast dimension (customer keyed by custkey = CDC key). */
  val cdcSnapshotJoin: Q = Q(
    "cdc_snapshot_join",
    (s, dir) => {
      val snap = Cdc.materialize(parsed(s, dir))
      val cust = Tables(s, dir).customer
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      snap.join(broadcast(cust), snap("key") === cust("c_custkey"))
        .select(col("key"), col("cents"), col("type"), col("c_name"),
          col("c_nationkey"))
        .orderBy("key")
    },
    Some(s"""${Cdc.liveSql()}
            |SELECT key, after_cents AS cents, after_type AS type,
            |  c_name, c_nationkey
            |FROM live JOIN customer ON key = c_custkey
            |ORDER BY key""".stripMargin))

  /** Kafka transport round-trip: feed -> Kafka wire records (key/value
    * bytes + topic/partition/offset, exactly the Spark Kafka source's
    * schema) -> parse chain, with lineage columns surfaced. The same
    * `KafkaWire.parse` runs unchanged on a real
    * `spark.readStream.format("kafka")` source (reference transport:
    * OpenLogReplicator.json writer.type=kafka). */
  val cdcKafkaWire: Q = Q(
    "cdc_kafka_wire",
    (s, dir) => {
      val wire = graft.sources.KafkaWire.toWire(feed(s, dir), "olr.cdc")
      flatten(graft.sources.KafkaWire.parse(wire),
        col("topic"), col("partition"), col("offset"))
        .orderBy("scn")
    },
    Some(s"""${Cdc.oracleFeed()}
            |SELECT scn, tm, xid, op, key,
            |  after_id, after_cents, after_type,
            |  before_id, before_cents, before_type,
            |  'olr.cdc' AS topic, CAST(key % 3 AS INT) AS partition, scn AS offset
            |FROM p ORDER BY scn""".stripMargin))

  /** Avro transport round-trip THROUGH the Confluent wire framing:
    * typed events -> Avro binary (explicit schema) -> framed value
    * (magic byte + registered schema id — the envelope the reference's
    * AvroConverter + Schema Registry stack puts on every Kafka value,
    * reference README.md:529-530) -> id-resolved decode -> flatten.
    * Byte-level wire compatibility and the framing failure modes
    * (unknown id, foreign magic) are pinned by AvroWireSpec; here the
    * decoded feed must hash-match the same oracle as cdc_parse (the
    * framed round-trip is lossless). */
  val cdcAvroRoundtrip: Q = Q(
    "cdc_avro_roundtrip",
    (s, dir) => {
      import graft.sources.{AvroWire, SchemaRegistry}
      // the id comes from an actual registration (which enforces the
      // subject's BACKWARD mode), not a hand-picked constant
      val registry = new SchemaRegistry
      val id = registry.register(AvroWire.changeAvroSchema)
      val framed = AvroWire.frame(AvroWire.encode(parsed(s, dir)), schemaId = id)
      flatten(AvroWire.decodeFramed(framed, registry.byId)).orderBy("scn")
    },
    cdcParse.oracle)

  /** Wire-schema evolution (the Schema Registry contract, consumer
    * side): the feed is ENCODED with the v1 writer schema and DECODED
    * through the evolved v2 reader schema (one appended field with a
    * default) — Avro schema resolution surfaces the new `origin` column
    * on every old-schema byte array. Complements cdc_schema_evolve
    * (sink-side evolution); reference stack: AvroConverter + Schema
    * Registry (README.md:518-536). */
  val cdcAvroEvolve: Q = Q(
    "cdc_avro_evolve",
    (s, dir) => flatten(graft.sources.AvroWire.decodeEvolved(
      graft.sources.AvroWire.encode(parsed(s, dir))), col("origin"))
      .orderBy("scn"),
    Some(s"""${Cdc.oracleFeed()}
            |SELECT *, 'olr' AS origin FROM p
            |ORDER BY scn""".stripMargin))

  /** Snapshot bootstrap + catchup: the reference's operational start
    * sequence — an initial consistent load of the source table, then
    * the change stream applied on top (reference README.md "initial
    * snapshot" flow). Seed rows enter the same materialization as
    * change events, at a pre-stream scn, so the latest-per-key merge
    * needs no special bootstrap mode: changed keys take their latest
    * event, untouched keys keep the seed, deleted keys vanish. */
  val cdcBootstrap: Q = Q(
    "cdc_bootstrap",
    (s, dir) => {
      val seed = Tables(s, dir).customer.select(
        lit(-1L).as("scn"), lit(0L).as("tm"), lit("0.0").as("xid"),
        lit("c").as("op"), col("c_custkey").as("key"),
        expr("""named_struct(
               |  'id', c_custkey,
               |  'cents', CAST(round(c_acctbal * 100) AS BIGINT),
               |  'type', 'seed')""".stripMargin).as("after"),
        expr("CAST(NULL AS STRUCT<id: BIGINT, cents: BIGINT, type: STRING>)")
          .as("before"))
      Cdc.materialize(parsed(s, dir).unionByName(seed)).orderBy("key")
    },
    Some(s"""${Cdc.oracleFeed()},
            |seed AS (
            |  SELECT CAST(-1 AS BIGINT) AS scn, '0.0' AS xid, 'c' AS op,
            |    c_custkey AS key, c_custkey AS after_id,
            |    CAST(round(c_acctbal * 100) AS BIGINT) AS after_cents,
            |    'seed' AS after_type
            |  FROM customer),
            |allev AS (
            |  SELECT scn, xid, op, key, after_id, after_cents, after_type FROM p
            |  UNION ALL SELECT * FROM seed),
            |live AS (${Cdc.latestSql("allev")})
            |SELECT key, after_id AS id, after_cents AS cents,
            |  after_type AS type, scn AS last_scn
            |FROM live ORDER BY key""".stripMargin))

  /** Transaction assembly: group the interleaved event stream back
    * into source transactions and emit per-transaction summaries in
    * commit order — what a transactional consumer (the reference sink
    * applies per-transaction via Kafka ordering; OLR buffers large
    * transactions) needs. The feed carries one op per event, so
    * transactions are modeled as fixed scn batches (txn = scn div 20);
    * the operator itself — partial-aggregated per-txn rollup, one
    * shuffle on the txn id — is the real thing. */
  val cdcTxnAssemble: Q = Q(
    "cdc_txn_assemble",
    (s, dir) => flatten(parsed(s, dir))
      .withColumn("txn_id", expr("scn div 20"))
      .groupBy("txn_id")
      .agg(count(lit(1)).as("n_ops"),
        sum(when(col("op") === "c", 1L).otherwise(0L)).as("n_inserts"),
        sum(when(col("op") === "u", 1L).otherwise(0L)).as("n_updates"),
        sum(when(col("op") === "d", 1L).otherwise(0L)).as("n_deletes"),
        countDistinct("key").as("n_keys"),
        min("scn").as("first_scn"), max("scn").as("commit_scn"))
      .orderBy("txn_id"),
    Some(s"""${Cdc.oracleFeed()}
            |SELECT scn // 20 AS txn_id, count(*) AS n_ops,
            |  CAST(sum(CASE WHEN op = 'c' THEN 1 ELSE 0 END) AS BIGINT) AS n_inserts,
            |  CAST(sum(CASE WHEN op = 'u' THEN 1 ELSE 0 END) AS BIGINT) AS n_updates,
            |  CAST(sum(CASE WHEN op = 'd' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes,
            |  count(DISTINCT key) AS n_keys,
            |  min(scn) AS first_scn, max(scn) AS commit_scn
            |FROM p GROUP BY 1 ORDER BY txn_id""".stripMargin))

  /** Every non-delete event of a flattened feed as a version, closed by
    * the key's next event (`next_scn`, null while open): the core of the
    * SCD2 history and the AS OF lookup. */
  private def versions(p: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("key").orderBy(col("scn").asc, col("xid").asc)
    p.withColumn("next_scn", lead("scn", 1).over(w)).filter(col("op") =!= "d")
  }

  /** [[versions]] in DuckDB: CTE `versions` over the parsed feed `p`. */
  private val versionsSql =
    """versions AS (
      |  SELECT * FROM (SELECT *, lead(scn) OVER
      |      (PARTITION BY key ORDER BY scn ASC, xid ASC) AS next_scn
      |    FROM p) WHERE op <> 'd')""".stripMargin

  /** SCD2 history: the changelog as a versioned audit table — every
    * non-delete event is a version valid from its scn until the next
    * event on the key (any op, including the delete that closes it);
    * open versions carry valid_to = -1 and is_current = true. The other
    * face of cdc_materialize: same one shuffle on the key, but keeping
    * every version instead of the latest. Per-key ordered history is
    * inherently sequential; histories are bounded per key (the
    * two-phase bucket trick from Skew applies if a key's history ever
    * isn't). */
  val cdcScd2History: Q = Q(
    "cdc_scd2_history",
    (s, dir) => versions(flatten(parsed(s, dir)))
      .select(col("key"), col("scn").as("valid_from"),
        coalesce(col("next_scn"), lit(-1L)).as("valid_to"),
        col("after_id").as("id"), col("after_cents").as("cents"),
        col("after_type").as("type"),
        col("next_scn").isNull.as("is_current"))
      .orderBy("key", "valid_from"),
    Some(s"""${Cdc.oracleFeed()},
            |$versionsSql
            |SELECT key, scn AS valid_from,
            |  coalesce(next_scn, -1) AS valid_to,
            |  after_id AS id, after_cents AS cents, after_type AS type,
            |  next_scn IS NULL AS is_current
            |FROM versions
            |ORDER BY key, valid_from""".stripMargin))

  /** Dead-letter routing: corrupt wire records (every 97th payload is
    * truncated, simulating producer/transport mangling) must not kill
    * the pipeline OR silently vanish — they are classified and carried
    * with is_valid = false and sentinel fields, ready for a dead-letter
    * sink, while valid records parse normally. PERMISSIVE from_json
    * yields an all-null row on malformed input, so validity is judged
    * by the always-present scn field; the oracle classifies with
    * json_valid(). Map-only, fused into the scan. */
  val cdcDeadLetter: Q = Q(
    "cdc_dead_letter",
    (s, dir) => {
      val wire = feed(s, dir).withColumn("wire",
        when(col("event_id") % 97 === 0,
          expr("substr(json, 1, length(json) - 2)"))
          .otherwise(col("json")))
      Cdc.parse(wire, col("wire"), keep = Seq("event_id"))
        .select(col("event_id"),
          col("scn").isNotNull.as("is_valid"),
          coalesce(col("scn"), lit(-1L)).as("scn"),
          coalesce(col("key"), lit(-1L)).as("key"))
        .orderBy("event_id")
    },
    Some(s"""WITH feed AS (${Cdc.feedSql()}),
            |wire AS (
            |  SELECT event_id,
            |    CASE WHEN event_id % 97 = 0
            |      THEN substring(json, 1, length(json) - 2) ELSE json END AS wire
            |  FROM feed)
            |SELECT event_id, json_valid(wire) AS is_valid,
            |  CASE WHEN json_valid(wire)
            |    THEN coalesce(CAST(json_extract(wire, '$$.scn') AS BIGINT), -1)
            |    ELSE -1 END AS scn,
            |  CASE WHEN json_valid(wire)
            |    THEN coalesce(CAST(json_extract(wire, '$$.key') AS BIGINT), -1)
            |    ELSE -1 END AS key
            |FROM wire ORDER BY event_id""".stripMargin))

  /** Log compaction with version retention: the changelog compacted to
    * the newest 3 versions per key — Kafka's compacted-topic semantics
    * (the reference's change topics are exactly that) extended with the
    * bounded version history consumers keep for replay/audit; delete
    * tombstones are retained so a compacted reader still sees the
    * deletion. One shuffle on the key; per-key history is bounded, and
    * the rank-then-filter never materializes more than the retained
    * depth downstream. */
  val cdcCompact: Q = Q(
    "cdc_compact",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("key").orderBy(col("scn").desc, col("xid").desc)
      flatten(parsed(s, dir))
        .withColumn("version_rank", row_number().over(w))
        .filter(col("version_rank") <= 3)
        .select(col("key"), col("scn"), col("op"),
          col("after_cents").as("cents"), col("version_rank"))
        .orderBy("key", "version_rank")
    },
    Some(s"""${Cdc.oracleFeed()},
            |ranked AS (
            |  SELECT *, row_number() OVER
            |    (PARTITION BY key ORDER BY scn DESC, xid DESC) AS version_rank
            |  FROM p)
            |SELECT key, scn, op, after_cents AS cents, version_rank
            |FROM ranked WHERE version_rank <= 3
            |ORDER BY key, version_rank""".stripMargin))

  /** The reference's whole topology as ONE declarative plan — what a
    * user actually deploys: an at-least-once transport feed (every 10th
    * event redelivered) → exactly-once dedup → changelog materialization
    * → dimension enrichment → per-nation rollup (the ksqlDB-style
    * consumer aggregate). Catalyst composes the stages: the dedup
    * window and the materialize aggregate exchange on real reduction
    * keys ((key, scn) then key), the dimension broadcasts, and the
    * final rollup partial-aggregates — so the whole pipeline is three
    * bounded shuffles end to end regardless of input size. */
  val pipelineCdc: Q = Q(
    "pipeline_cdc",
    (s, dir) => {
      val redelivered = redeliver(parsed(s, dir))
      val snap = Cdc.materialize(Cdc.dedup(redelivered))
      val cust = Tables(s, dir).customer
        .select(col("c_custkey"), col("c_nationkey"))
      snap.join(broadcast(cust), snap("key") === cust("c_custkey"))
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_keys"),
          sum("cents").as("sum_cents"),
          max("last_scn").as("max_scn"))
        .orderBy("c_nationkey")
    },
    Some(s"""${Cdc.oracleFeed()},
            |$dedupedSql,
            |live AS (${Cdc.latestSql("deduped")})
            |SELECT c_nationkey, count(*) AS n_keys,
            |  CAST(sum(after_cents) AS BIGINT) AS sum_cents,
            |  max(scn) AS max_scn
            |FROM live JOIN customer ON key = c_custkey
            |GROUP BY 1 ORDER BY c_nationkey""".stripMargin))

  /** Point-in-time (AS OF) lookup against the SCD2 history — the
    * canonical consumer of a version table: "what did key K look like
    * at scn S?". Probes (every 50th event's (key, scn)) join their
    * key's version chain on key-equality with the validity range as a
    * residual filter — a per-key bounded range join, one hash exchange
    * per side, never a cross product. A probe whose as-of time falls
    * after a delete finds no version: the key correctly did not exist
    * then. */
  val cdcTimeTravel: Q = Q(
    "cdc_time_travel",
    (s, dir) => {
      val p = flatten(parsed(s, dir))
      val hist = versions(p)
        .select(col("key"), col("scn").as("valid_from"),
          coalesce(col("next_scn"), lit(Long.MaxValue)).as("valid_to_x"),
          col("after_id").as("id"), col("after_cents").as("cents"),
          col("after_type").as("type"))
      val probes = p.filter(col("scn") % 50 === 0)
        .select(col("key").as("p_key"), col("scn").as("as_of"))
      hist.join(probes, col("key") === col("p_key")
          && col("valid_from") <= col("as_of") && col("as_of") < col("valid_to_x"))
        .select(col("key"), col("as_of"), col("id"), col("cents"), col("type"))
        .orderBy("key", "as_of")
    },
    Some(s"""${Cdc.oracleFeed()},
            |$versionsSql,
            |hist AS (
            |  SELECT key, scn AS valid_from,
            |    coalesce(next_scn, 9223372036854775807) AS valid_to_x,
            |    after_id AS id, after_cents AS cents, after_type AS type
            |  FROM versions),
            |probes AS (
            |  SELECT key AS p_key, scn AS as_of FROM p WHERE scn % 50 = 0)
            |SELECT key, as_of, id, cents, type
            |FROM hist JOIN probes
            |  ON key = p_key AND valid_from <= as_of AND as_of < valid_to_x
            |ORDER BY key, as_of""".stripMargin))

  /** One ParquetUpsert lake staging of the full change feed per
    * (session, source dir): the materialized current-state table the
    * pull queries serve from, built ONCE (the fmt-row asymmetry —
    * materialize once, query every day) so bench iterations time the
    * LOOKUPS, not the build. */
  private def lakeTable(s: SparkSession, dir: String): String =
    graft.sources.Formats.stageOnce(s, "pull", dir) { root =>
      graft.sinks.ParquetUpsert.applyBatch(
        Cdc.changeRows(parsed(s, dir)), root + "/tbl")
      root + "/tbl"
    }

  /** The probed keys, fixed A PRIORI — a pull query's key comes from
    * the caller, never from scanning the table (that would be a push
    * query). A key that is absent or currently tombstoned correctly
    * returns no row on BOTH sides, so the fixed list is
    * scale-factor-safe by construction. */
  private[graft] val PullKeys: Seq[Long] = 1L to 8L

  /** ksqlDB-style PULL query (reference README, ksqlDB section: the
    * consumer surface is push + pull) as a registry row: the CURRENT
    * state of specific keys, served as ONE batched scan by
    * [[graft.sinks.ParquetUpsert.pointLookupMany]] — the partition
    * filter is `bucket IN (the keys' hash buckets)` under the
    * writer-recorded bucket count, so the scan opens only the touched
    * `bucket=N` directories with the `key IN` residual inside them —
    * the shape a pull-query server runs for a key batch (N unioned
    * single-key scans would plan N times; pointLookup remains the
    * single-key API). At 100 TB a 1000-key batch opens ≤1000 few-GB
    * trees, never the table (pruning + writer/reader bucket-count
    * agreement are spec-pinned in ParquetUpsertSpec; the registry
    * row's plan pins ONE scan with a multi-value PartitionFilter in
    * CdcSpec). Tombstoned keys return no row. The oracle recomputes
    * each key's latest state from the raw feed. */
  val qPullLookup: Q = Q(
    "q_pull_lookup",
    (s, dir) => {
      val target = lakeTable(s, dir)
      graft.sinks.ParquetUpsert.pointLookupMany(s, target, PullKeys)
        .select(col("key"), col("id"), col("cents"), col("typ").as("type"),
          col("scn").as("last_scn"))
        .orderBy("key")
    },
    Some(snapshotSql(s"key IN (${PullKeys.mkString(", ")})")))

  val all: Seq[Q] = Seq(cdcParse, cdcUnwrap, cdcDeleteRewrite,
    cdcDedupEvents, cdcMaterialize, cdcSnapshotJoin, cdcKafkaWire,
    cdcAvroRoundtrip, cdcAvroEvolve, cdcBootstrap, cdcTxnAssemble,
    cdcScd2History, cdcDeadLetter, cdcCompact, pipelineCdc, cdcTimeTravel,
    qPullLookup)
}
