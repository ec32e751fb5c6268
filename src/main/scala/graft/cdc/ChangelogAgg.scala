package graft.cdc

import graft.Q
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retraction-based aggregate maintenance over a change stream — the
  * ksqlDB `CREATE TABLE AS SELECT agg(...) ... GROUP BY g` semantics
  * the reference's query layer applies to CDC topics, computed WITHOUT
  * ever materializing per-key state.
  *
  * Every change event carries a before-image and an after-image (OLR
  * emits both when the source runs full supplemental logging — the
  * deployment mode the reference's setup SQL enables with
  * `SUPPLEMENTAL LOG DATA (ALL) COLUMNS`, reference
  * scripts/setup-olr.sql). For a sum/count grouped on a payload
  * attribute g, each event contributes at most two deltas:
  *
  *   -(before.value) to group before.g   (retract the old state)
  *   +(after.value)  to group after.g    (add the new state)
  *
  * Summing the deltas telescopes, per key, to exactly the key's final
  * state: the aggregate over the deltas EQUALS the aggregate over the
  * materialized snapshot — for any event order, any grouping drift
  * (updates that move a key between groups), deletes, and
  * re-inserts after delete.
  *
  * Scale design — this is the whole point of the operator: the
  * snapshot path (materialize latest-per-key, then aggregate) shuffles
  * the feed on the KEY — at 100 TB that is a 10-billion-row exchange
  * recomputed on every refresh. The delta path never groups on the
  * key: contributions are computed MAP-SIDE (an explode of at most 2
  * small structs per event) and the only exchange is the final
  * aggregate on the GROUP key — cardinality #groups, partial-aggregated
  * map-side like any declarative sum. Aggregate maintenance cost is
  * O(delta), independent of table size. PlanAuditSpec pins the
  * one-exchange/no-window shape on the operator.
  *
  * The same additivity makes the streaming form trivially correct
  * under any micro-batch split: per-batch delta aggregates merge into
  * running per-group sums (Structured Streaming's own stateful
  * aggregation — state is one row per GROUP, not per key).
  */
object ChangelogAgg {

  /** Harness synthesis of the full-image WIRE: the synthetic events
    * table rendered as an OLR-with-supplemental-logging JSON feed —
    * every event carries BOTH payload images (`ALTER TABLE ... ADD
    * SUPPLEMENTAL LOG DATA (ALL) COLUMNS`, reference
    * scripts-db/set-up-orl.sql), the before-image being the key's
    * previous after-image (absent for inserts and across a delete —
    * state did not exist). The lag window below is feed GENERATION,
    * standing in for the source database's supplemental logging; the
    * OPERATOR consumes the staged wire bytes and is window-free end to
    * end (plan spec-pinned). */
  def fullImageFeedFrom(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
    val e = events
      .withColumn("op", expr(Cdc.opSql))
      .withColumn("a_cents", when(col("op") === "d", lit(null))
        .otherwise(expr(Cdc.centsSql)))
      .withColumn("a_type", when(col("op") === "d", lit(null))
        .otherwise(col("event_type")))
      .withColumn("b_cents", lag("a_cents", 1).over(w))
      .withColumn("b_type", lag("a_type", 1).over(w))
    def img(name: String, cents: String, typ: String) =
      when(col(cents).isNotNull, concat(
        Cdc.image(lit(name), col(cents), col(typ), "\"}"): _*)).otherwise(lit(""))
    e.select(col("event_id"), concat(Cdc.head(routed = false) ++ Seq(
      img("after", "a_cents", "a_type"),
      img("before", "b_cents", "b_type"),
      lit("}")): _*).as("json"))
  }

  /** One staged full-image wire directory per (session, source dir),
    * shared by the batch and streaming registry rows; written as TWO
    * parquet files so `maxFilesPerTrigger=1` genuinely splits the
    * bounded feed into two micro-batches. */
  private[graft] def stagedFullFeed(s: SparkSession, dir: String): String =
    graft.sources.Formats.stageOnce(s, "full_feed", dir) { root =>
      fullImageFeedFrom(graft.sources.Tables(s, dir).events)
        .repartition(2).write.mode("overwrite").parquet(root + "/feed")
      root + "/feed"
    }

  /** Map-only projection of a parsed full-image event ([[Cdc.parse]]
    * output — the wire carries both images, so no window, no state,
    * no shuffle stands between the bytes and [[contributions]]). */
  def fullImageColumns(parsed: DataFrame): DataFrame =
    parsed.select(col("key"), col("scn"), col("xid"),
      col("after.cents").as("a_cents"), col("after.type").as("a_type"),
      col("before.cents").as("b_cents"), col("before.type").as("b_type"))

  /** The operator: full-image change rows -> maintained per-group
    * aggregate. Map-side contribution explode, ONE exchange (the group
    * aggregate). `n_contrib` counts contributions per group; it is
    * strictly increasing every time any event touches the group, which
    * makes it a valid emission ordinal for streaming sinks that must
    * collapse to the latest emission (see [[Streams.cdcStreamChangelogAgg]]).
    * Groups whose live row count reaches zero are dropped — a group
    * exists only while rows exist, matching the snapshot semantics. */
  def aggregateDeltas(full: DataFrame): DataFrame =
    contributions(full)
      .groupBy("type")
      .agg(sum("d_cents").as("sum_cents"),
        sum("d_rows").as("live_rows"),
        count(lit(1)).as("n_contrib"))
      .filter(col("live_rows") > 0)
      .drop("n_contrib")

  /** Map-side delta expansion: at most 2 contribution rows per event
    * (retraction of the before-image, addition of the after-image).
    * No shuffle, no per-key state. */
  def contributions(full: DataFrame): DataFrame =
    full.select(explode(array(
        struct(col("b_type").as("type"),
          (-col("b_cents")).as("d_cents"), lit(-1L).as("d_rows")),
        struct(col("a_type").as("type"),
          col("a_cents").as("d_cents"), lit(1L).as("d_rows")))).as("c"))
      .filter(col("c.type").isNotNull)
      .select(col("c.type").as("type"), col("c.d_cents").as("d_cents"),
        col("c.d_rows").as("d_rows"))

  /** Maintain a running per-group aggregate TABLE (a parquet dir) from
    * delta rows `(type, d_cents, d_rows)` — the sink side of streaming
    * aggregate maintenance: each micro-batch folds its deltas into the
    * stored totals (read-modify-overwrite of a #groups-row table; the
    * localCheckpoint pins the merge before the overwrite replaces the
    * files it read). Groups whose live row count telescopes to zero
    * stay stored at (0, 0) so a later re-insert resumes from the right
    * totals; readers filter `d_rows > 0`, mirroring
    * [[aggregateDeltas]]'s live-group semantics. */
  def mergeDeltaTable(delta: DataFrame, aggDir: String): Unit = {
    val sp = delta.sparkSession
    // first batch bootstraps from empty; a corrupt stored table must
    // fail loud, not silently reset the running totals to this delta
    val existing = graft.sources.Tables.readOrEmpty(sp, aggDir, delta.schema)
    val merged = existing.unionByName(delta)
      .groupBy("type")
      .agg(sum("d_cents").as("d_cents"), sum("d_rows").as("d_rows"))
      .localCheckpoint(true)
    // release the pin once the overwrite lands — one leaked block per
    // micro-batch adds up over a long-running stream
    try merged.write.mode("overwrite").parquet(aggDir)
    finally { merged.unpersist(false); () }
  }

  /** The wire-native operator input: staged full-image bytes -> parse
    * -> flat images. Nothing but map-side work before the delta agg. */
  private def fullImage(s: SparkSession, dir: String): DataFrame =
    fullImageColumns(Cdc.parse(
      graft.sources.Formats.readParquet(s, stagedFullFeed(s, dir)), col("json")))

  /** The oracle computes the SAME aggregate the other way — materialize
    * the latest row per key, then group — so a hash match proves the
    * delta maintenance path equals the snapshot path exactly. */
  private[graft] val snapshotAggSql =
    s"""${Cdc.liveSql()}
       |SELECT after_type AS type,
       |  CAST(sum(after_cents) AS BIGINT) AS sum_cents,
       |  count(*) AS live_rows
       |FROM live GROUP BY 1 ORDER BY type""".stripMargin

  val cdcChangelogAgg: Q = Q(
    "cdc_changelog_agg",
    (s, dir) => aggregateDeltas(fullImage(s, dir)).orderBy("type"),
    Some(snapshotAggSql))

  val all: Seq[Q] = Seq(cdcChangelogAgg)
}
