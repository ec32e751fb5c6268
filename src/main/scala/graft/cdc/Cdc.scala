package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CDC event model and operators, re-expressing the reference
  * pipeline's semantics Spark-first:
  *
  *  - OpenLogReplicator emits JSON change events with scn / xid /
  *    timestamp, op c|u|d and before/after payloads
  *    (reference: scripts/OpenLogReplicator.json:14 "format" block).
  *  - The Kafka->Postgres sink applies them with upsert + delete +
  *    ExtractNewRecordState("unwrap") + delete.handling.mode=rewrite
  *    (reference: README.md:792-795 transforms=unwrap config).
  *
  * This object is the ONE place the change-event model is written:
  * the envelope (Spark builder + DuckDB builder), the parse, the image
  * projection, and the latest-wins rule — each with its DuckDB oracle
  * fragment next to it. Every other module (registry rows, streaming
  * topologies, sinks, wire formats) calls these instead of spelling
  * its own copy.
  *
  * Everything here is declarative DataFrame code: parsing is a
  * codegen'd `from_json`, latest-per-key is ONE hash shuffle on the
  * key followed by a partial-aggregated max_by — the pattern that
  * scales linearly to 100 TB because state never leaves the executor
  * that owns the key range.
  */
object Cdc {

  /** Schema of a (flattened) OLR-style change event. */
  val changeSchema: StructType = StructType(Seq(
    StructField("scn", LongType),
    StructField("tm", LongType),
    StructField("xid", StringType),
    StructField("op", StringType),
    StructField("key", LongType),
    StructField("after", StructType(Seq(
      StructField("id", LongType),
      StructField("cents", LongType),
      StructField("type", StringType)))),
    StructField("before", StructType(Seq(
      StructField("id", LongType),
      StructField("cents", LongType),
      StructField("type", StringType))))))

  // ---------------------------------------------------------------
  // Envelope: the synthetic feed, rendered from the `events` table by
  // pure string concatenation of integer and string columns (no floats
  // -> byte-identical JSON in Spark and in the DuckDB oracle).
  // event_id becomes the scn, user_id the primary key, event_type maps
  // onto op c/u/d exactly like the reference's insert/update/delete
  // verification flow (reference: README.md "Verification" section).
  //
  // Invariant (spec-pinned in CdcSpec): scn = event_id is globally
  // unique, so (key, scn) uniquely identifies an event and the (scn,
  // xid) tiebreaks in the operators are deterministic.
  // ---------------------------------------------------------------

  /** op mapping: signup->c (insert), error->d (delete), rest->u. */
  private[graft] val opSql =
    "CASE event_type WHEN 'signup' THEN 'c' WHEN 'error' THEN 'd' ELSE 'u' END"

  private[cdc] val centsSql = "CAST(round(value * 100) AS BIGINT)"

  /** Envelope columns up to the key:
    * `{"scn":..,"tm":..,"xid":"..","op":"..",["owner":"GRAFT","table":"..",]"key":..`
    * over an events frame carrying the derived `op` (and, routed, `tbl`). */
  private[cdc] def head(routed: Boolean): Seq[Column] =
    Seq(lit("{\"scn\":"), col("event_id"),
      lit(",\"tm\":"), unix_micros(col("ts")),
      lit(",\"xid\":\""), col("user_id"), lit("."), col("event_id"),
      lit("\",\"op\":\""), col("op")) ++
      (if (routed) Seq(lit("\",\"owner\":\"GRAFT\",\"table\":\""), col("tbl")) else Nil) ++
      Seq(lit("\",\"key\":"), col("user_id"))

  /** One payload image `,"<name>":{"id":..,"cents":..,"type":"..` then `close`. */
  private[cdc] def image(name: Column, cents: Column, typ: Column,
                         close: String): Seq[Column] =
    Seq(lit(",\""), name, lit("\":{\"id\":"), col("user_id"),
      lit(",\"cents\":"), cents, lit(",\"type\":\""), typ, lit(close))

  /** The OLR-style JSON feed over an events DataFrame — batch or
    * streaming — as columns (event_id, extra..., json). `table` is the
    * routing rule (a SQL expression over the events columns): when set,
    * every envelope carries the `owner`/`table` fields OLR stamps on a
    * multiplexed feed. `extra` columns (e.g. the event timestamp for a
    * downstream watermark) ride along with the envelope untouched. */
  def feedFrom(events: DataFrame, table: Option[String] = None,
               extra: Seq[Column] = Nil): DataFrame = {
    val e = events
      .withColumn("op", expr(opSql))
      .withColumn("cents", expr(centsSql))
    table.fold(e)(t => e.withColumn("tbl", expr(t)))
      .withColumn("payload_name",
        when(col("op") === "d", lit("before")).otherwise(lit("after")))
      .select(col("event_id") +: extra :+ concat(head(table.isDefined) ++
        image(col("payload_name"), col("cents"), col("event_type"), "\"}}"): _*)
        .as("json"): _*)
  }

  /** [[feedFrom]] in DuckDB SQL (must concatenate identically). */
  private[graft] def feedSql(table: Option[String] = None): String = {
    val routing = table.fold("")(t => s"""'","owner":"GRAFT","table":"' || ($t) || """)
    s"""SELECT event_id,
       |  '{"scn":' || event_id ||
       |  ',"tm":' || epoch_us(CAST(ts AS TIMESTAMP)) ||
       |  ',"xid":"' || user_id || '.' || event_id ||
       |  '","op":"' || ($opSql) || $routing'","key":' || user_id ||
       |  ',"' || (CASE WHEN ($opSql) = 'd' THEN 'before' ELSE 'after' END) ||
       |  '":{"id":' || user_id ||
       |  ',"cents":' || $centsSql ||
       |  ',"type":"' || event_type || '"}}' AS json
       |FROM events""".stripMargin
  }

  // ---------------------------------------------------------------
  // Parse
  // ---------------------------------------------------------------

  /** Parse a JSON envelope column into one typed column per field of
    * `schema` (the single-table [[changeSchema]] by default; a routed
    * feed passes its envelope schema). The `keep` columns of `df` —
    * transport lineage such as (topic, partition, offset) — ride along
    * in front. ONE codegen'd from_json per row, whatever is selected
    * downstream (column pruning narrows the extraction). */
  def parse(df: DataFrame, json: Column, schema: StructType = changeSchema,
            keep: Seq[String] = Nil): DataFrame =
    df.select(keep.map(col) :+ from_json(json, schema).as("e"): _*)
      .select(keep.map(col) ++ schema.fieldNames.map(f => col(s"e.$f").as(f)): _*)

  /** DuckDB equivalent of the typed parse (json_extract) over CTE
    * `feed`, images flattened. Absent-payload numerics are coalesced to
    * -1 so the oracle hash compare never has to equate numeric NULL/NaN
    * representations. `routed` adds the owner / table (as tbl) fields. */
  private[graft] def parsedSql(routed: Boolean = false): String = {
    val routing = if (!routed) "" else
      """
        |  json_extract_string(json, '$.owner') AS owner,
        |  json_extract_string(json, '$.table') AS tbl,""".stripMargin
    s"""SELECT
       |  CAST(json_extract(json, '$$.scn') AS BIGINT) AS scn,
       |  CAST(json_extract(json, '$$.tm') AS BIGINT) AS tm,
       |  json_extract_string(json, '$$.xid') AS xid,
       |  json_extract_string(json, '$$.op') AS op,$routing
       |  CAST(json_extract(json, '$$.key') AS BIGINT) AS key,
       |  coalesce(CAST(json_extract(json, '$$.after.id') AS BIGINT), -1) AS after_id,
       |  coalesce(CAST(json_extract(json, '$$.after.cents') AS BIGINT), -1) AS after_cents,
       |  coalesce(json_extract_string(json, '$$.after.type'), '') AS after_type,
       |  coalesce(CAST(json_extract(json, '$$.before.id') AS BIGINT), -1) AS before_id,
       |  coalesce(CAST(json_extract(json, '$$.before.cents') AS BIGINT), -1) AS before_cents,
       |  coalesce(json_extract_string(json, '$$.before.type'), '') AS before_type
       |FROM feed""".stripMargin
  }

  /** `WITH feed AS (...), p AS (...)`: the parsed feed `p` every CDC
    * oracle starts from (routed when `table` is set). */
  private[graft] def oracleFeed(table: Option[String] = None): String =
    s"WITH feed AS (${feedSql(table)}), p AS (${parsedSql(table.isDefined)})"

  // ---------------------------------------------------------------
  // Image projection
  // ---------------------------------------------------------------

  /** The image an event leaves behind: the before-image for a delete,
    * the after-image otherwise. */
  private[graft] val payload: Column =
    when(col("op") === "d", col("before")).otherwise(col("after"))

  /** Parsed events -> the flat change rows every sink and keyed stream
    * consumes: (lead..., key, scn, xid, op, id, cents, typ), the payload
    * taken from [[payload]]. Map-only. */
  def changeRows(parsed: DataFrame, lead: String*): DataFrame =
    parsed.select(lead.map(col) ++ Seq(col("key"), col("scn"), col("xid"), col("op"),
      payload.getField("id").as("id"), payload.getField("cents").as("cents"),
      payload.getField("type").as("typ")): _*)

  /** Debezium ExtractNewRecordState ("unwrap") SMT: one flat row per
    * event carrying the new state; deletes carry the before-image with
    * `__deleted = 'true'` when rewrite=true (the reference sink's
    * delete.handling.mode=rewrite), or are dropped when rewrite=false.
    */
  def unwrap(parsed: DataFrame, rewrite: Boolean = true): DataFrame = {
    val flat = parsed
      .withColumn("__deleted", when(col("op") === "d", lit("true")).otherwise(lit("false")))
      .select(col("scn"), col("key"),
        payload.getField("id").as("id"),
        payload.getField("cents").as("cents"),
        payload.getField("type").as("type"),
        col("__deleted"))
    if (rewrite) flat else flat.filter(col("__deleted") === "false")
  }

  /** At-least-once -> exactly-once: drop redelivered events, keeping
    * one row per (key, scn). ONE shuffle on key (scn dedup is
    * key-local, matching how redelivery happens per partition). */
  def dedup(parsed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("key", "scn").orderBy(col("xid").asc)
    parsed.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  // ---------------------------------------------------------------
  // Latest wins
  // ---------------------------------------------------------------

  /** The rule every materializer applies: per `keys`, the event with
    * the greatest (scn, xid) wins, and a delete wins like any other
    * event (a tombstone — the caller reads `w.op` to hide it or keep
    * it). Returns the key columns plus struct `w` of the winner's
    * `carry` columns.
    *
    * Expressed as a max_by AGGREGATION, not a ranking window: the
    * aggregate partial-aggregates map-side (max_by with a struct
    * payload plans as ObjectHashAggregate, whose >128-group fallback
    * still COMBINES per key while sorting — a sort-based combine, not
    * a re-shuffle), so a hot key costs one combine per input partition
    * plus a reduce of #partitions pre-aggregated rows — skew-immune by
    * construction, where a per-key row_number window funnels the hot
    * key's entire history through one reducer. Exactly one shuffle, on
    * the keys, moving one row per (key, map partition). */
  def latest(events: DataFrame, keys: Seq[String], carry: Seq[String]): DataFrame =
    events
      .groupBy(keys.head, keys.tail: _*)
      .agg(max_by(struct(carry.map(col): _*), struct(col("scn"), col("xid"))).as("w"))

  /** Changelog -> current-state snapshot: the JDBC-sink upsert/delete
    * semantics as a batch operator. [[latest]] per key (per `keys`, for
    * a routed feed); keys whose latest op is a delete vanish. */
  def materialize(parsed: DataFrame, keys: Seq[String] = Seq("key")): DataFrame =
    latest(parsed, keys, Seq("op", "after", "scn"))
      .filter(col("w.op") =!= "d")
      .select(keys.map(col) ++ Seq(
        col("w.after.id").as("id"),
        col("w.after.cents").as("cents"),
        col("w.after.type").as("type"),
        col("w.scn").as("last_scn")): _*)

  /** [[latest]] in DuckDB SQL: the live (non-tombstone) latest row per
    * `keys` of relation `from`, as a ranking window — the oracle
    * computes the rule the other way round from the Spark aggregate. */
  private[graft] def latestSql(from: String, keys: String = "key"): String =
    s"""SELECT * FROM (SELECT *, row_number() OVER
       |    (PARTITION BY $keys ORDER BY scn DESC, xid DESC) AS rn
       |  FROM $from) WHERE rn = 1 AND op <> 'd'""".stripMargin

  /** [[oracleFeed]] plus CTE `live`: the parsed feed's materialized
    * snapshot, per key — or per (tbl, key) when routed. */
  private[graft] def liveSql(table: Option[String] = None): String =
    s"""${oracleFeed(table)},
       |live AS (${latestSql("p", if (table.isDefined) "tbl, key" else "key")})""".stripMargin
}
