package graft.cdc

import graft.Q
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multi-table CDC routing: ONE multiplexed change feed carrying events
  * for N source tables, parsed ONCE, fanned out by (owner, table) into
  * per-table materializations and per-table sink directories.
  *
  * This is how the reference actually deploys: OpenLogReplicator's
  * config filters `{owner, table}` pairs and emits every matched
  * table's changes (reference scripts/OpenLogReplicator.json:32-39,48),
  * and the JDBC sink maps topic -> target table via `table.name.format`
  * (reference README.md:784,791). The repo's other CDC rows exercise a
  * single-table feed; this module is the N-table generalization.
  *
  * Scale design:
  *  - the feed is parsed EXACTLY ONCE (one codegen'd `from_json`) —
  *    routing must never re-parse per destination table (RouterSpec
  *    pins one from_json in the optimized plan);
  *  - ALL tables materialize in ONE shuffle: the latest-per-key
  *    aggregate simply groups on (owner, tbl, key) instead of key, so
  *    adding tables adds zero exchanges — at 100 TB the alternative
  *    (N filtered passes over the feed) reads the feed N times;
  *  - sink fan-out is directory partitioning on the routing key
  *    (`tbl=ORDERS/`, `tbl=CUSTOMERS/` — the table.name.format analog),
  *    one write serving every table.
  *
  * Tables share nothing but the transport: the same key value in two
  * tables is two distinct entities (PK domains overlap in real
  * databases), which is exactly what grouping on (owner, tbl, key)
  * encodes.
  */
object Router {

  /** Routing rule of the synthetic feed: which source table an event
    * belongs to. Deliberately NOT a function of the key, so the same
    * key appears in both tables as two independent entities. The
    * envelope builders take it as their `table` argument. */
  private[graft] val routing: Option[String] =
    Some("CASE WHEN event_id % 3 = 0 THEN 'CUSTOMERS' ELSE 'ORDERS' END")

  /** The multiplexed OLR-style feed: single-table feed shape plus the
    * `owner`/`table` envelope fields OLR stamps on every event. */
  def routedFeed(s: SparkSession, dir: String): DataFrame =
    Cdc.feedFrom(Tables(s, dir).events, routing)

  /** Wire schema of one multiplexed event: the single-table change
    * schema with the routing envelope inserted ahead of the key. */
  val routedSchema: StructType = {
    val (head, tail) = Cdc.changeSchema.fields.splitAt(
      Cdc.changeSchema.fieldIndex("key"))
    StructType(head ++ Seq(StructField("owner", StringType),
      StructField("table", StringType)) ++ tail)
  }

  /** The ONE parse of the multiplexed feed (the envelope's `table`
    * surfaces as `tbl`). Every downstream table consumes these columns;
    * none re-runs from_json. */
  def parseRouted(feed: DataFrame, jsonCol: Column): DataFrame =
    Cdc.parse(feed, jsonCol, routedSchema).withColumnRenamed("table", "tbl")

  /** Latest-per-key materialization of EVERY routed table in one
    * aggregate: group on (owner, tbl, key) — one shuffle total, however
    * many tables the feed carries. */
  def materializeRouted(parsed: DataFrame): DataFrame =
    Cdc.materialize(parsed, Seq("owner", "tbl", "key"))

  /** Per-table sink fan-out (the table.name.format analog): one write
    * lays every table's snapshot into its own `tbl=<NAME>/` directory.
    * A consumer of one table partition-prunes to its directory. */
  def writeRouted(snap: DataFrame, root: String): Unit =
    snap.write.mode("overwrite").partitionBy("tbl").parquet(root)

  /** Streaming fan-out of ONE routed micro-batch into per-table
    * bucketed lake targets (`<root>/<TBL>` via
    * [[graft.sinks.ParquetUpsert]]): the parsed batch is persisted
    * once, each table's slice feeds its own upsert (O(slice + touched
    * buckets)), and the table list is derived from the batch itself (a
    * <=N-row distinct collect — metadata), so a table appearing in the
    * feed for the first time creates its target on arrival
    * (spec-pinned by StreamingSpec across batches). Expects columns
    * (tbl, key, scn, xid, op, id, cents, typ).
    *
    * The per-table merges are INDEPENDENT by construction (each reads
    * one slice of the persisted batch and writes its own directory), so
    * they run concurrently on a bounded pool: micro-batch latency is
    * ceil(N/`parallelism`) merge rounds instead of N — a wide feed (the
    * reference's {owner, table} filter list can match hundreds of
    * tables) no longer stalls the trigger behind a serial loop. Spark
    * job submission is thread-safe; each job still uses the full
    * cluster, so `parallelism` caps concurrent jobs, keeping scheduler
    * pressure bounded. */
  def applyRoutedBatch(batch: DataFrame, root: String,
                       parallelism: Int = 4): Unit =
    foreachTableSlice(batch, parallelism) { (t, slice) =>
      graft.sinks.ParquetUpsert.applyBatch(slice, s"$root/$t")
    }

  /** The fan-out harness [[applyRoutedBatch]] (and the full streaming
    * pipeline) runs on: persist the batch once, discover its tables,
    * and apply `f(table, slice)` to every table's slice on a bounded
    * pool. `f` must touch only per-table resources — the slices share
    * nothing but the persisted batch they filter. */
  def foreachTableSlice(batch: DataFrame, parallelism: Int)
                       (f: (String, DataFrame) => Unit): Unit = {
    batch.persist()
    try {
      val tables = batch.select("tbl").distinct()
        .collect().map(_.getString(0)).sorted
      def run(t: String): Unit =
        f(t, batch.filter(col("tbl") === t).drop("tbl"))
      if (tables.length <= 1 || parallelism <= 1) tables.foreach(run)
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(parallelism, tables.length))
        try {
          import scala.concurrent.{Await, ExecutionContext, Future}
          implicit val ec: ExecutionContext =
            ExecutionContext.fromExecutor(pool)
          // lift each merge to a Try so the Await returns only after
          // EVERY in-flight merge has quiesced — failing the batch on
          // the first error while siblings still write would let a
          // stream retry of the same batch interleave with those
          // still-running writes against the same lake targets
          val outcomes = Await.result(
            Future.sequence(tables.toSeq.map(t =>
              Future(run(t)).transform(scala.util.Success(_)))),
            scala.concurrent.duration.Duration.Inf)
          outcomes.collectFirst { case scala.util.Failure(e) => e }
            .foreach(throw _)
        } finally { pool.shutdown(); () }
      }
    } finally { batch.unpersist(); () }
  }

  /** One feed in, N tables out: parse once, materialize all tables in
    * one shuffle. Output is every table's snapshot labeled by its
    * routing envelope. */
  val cdcRoute: Q = Q(
    "cdc_route",
    (s, dir) => materializeRouted(
      parseRouted(routedFeed(s, dir), col("json")))
      .orderBy("tbl", "key"),
    Some(s"""${Cdc.liveSql(routing)}
            |SELECT owner, tbl, key, after_id AS id, after_cents AS cents,
            |  after_type AS type, scn AS last_scn
            |FROM live ORDER BY tbl, key""".stripMargin))

  /** Feed-integrity audit — the monitoring query a CDC operator runs
    * against every replicated table (the reference's equivalent
    * concern: OLR checkpoints SCN progress per source and consumers
    * verify delivery; reference README.md "Verification" flow). Per
    * (owner, table): event/key cardinalities, duplicate (key, scn)
    * deliveries (at-least-once redelivery — injected here exactly like
    * cdc_dedup_events, every 10th event delivered twice), event-time
    * regressions against SCN order (clock skew / out-of-order capture),
    * and the SCN span.
    *
    * Scale: ONE pass; the per-(table, key) lag window shuffles on the
    * same (tbl, key) hash domain every other CDC operator uses, and the
    * distinct aggregates are standard two-stage partial aggs (Expand),
    * so the audit costs about as much as one materialization — run it
    * as a side output of ingest, not a separate read of the feed. */
  val cdcAudit: Q = Q(
    "cdc_audit",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val parsed = parseRouted(routedFeed(s, dir), col("json"))
        // injected clock skew (every 13th event stamped 1h early) so
        // the regression detector provably fires — the synthetic feed's
        // event time is otherwise monotone with scn
        .withColumn("tm", when(col("scn") % 13 === 0,
          col("tm") - 3600000000L).otherwise(col("tm")))
      // single-pass duplicate generation — see CdcQueries.redeliver
      val redelivered = graft.cdc.CdcQueries.redeliver(parsed)
      // (owner, tbl, key) — the full entity identity: two owners can
      // legitimately carry the same table name, and a lag window crossing
      // owner boundaries would mis-attribute tm regressions between them
      val w = Window.partitionBy("owner", "tbl", "key").orderBy("scn", "xid")
      redelivered
        .withColumn("prev_tm", lag("tm", 1).over(w))
        .groupBy("owner", "tbl")
        .agg(
          count(lit(1)).as("n_events"),
          countDistinct(col("key")).as("n_keys"),
          (count(lit(1)) - countDistinct(col("key"), col("scn")))
            .as("dup_deliveries"),
          sum(when(col("tm") < col("prev_tm"), 1L).otherwise(0L))
            .as("tm_regressions"),
          min("scn").as("min_scn"), max("scn").as("max_scn"))
        .orderBy("owner", "tbl")
    },
    Some(s"""${Cdc.oracleFeed(routing)},
            |skewed AS (
            |  SELECT * REPLACE (tm - CASE WHEN scn % 13 = 0
            |    THEN 3600000000 ELSE 0 END AS tm) FROM p),
            |r AS (SELECT * FROM skewed UNION ALL SELECT * FROM skewed WHERE scn % 10 = 0),
            |x AS (
            |  SELECT *, lag(tm) OVER
            |    (PARTITION BY owner, tbl, key ORDER BY scn, xid) AS prev_tm
            |  FROM r)
            |SELECT owner, tbl, count(*) AS n_events,
            |  count(DISTINCT key) AS n_keys,
            |  count(*) - count(DISTINCT (key, scn)) AS dup_deliveries,
            |  CAST(sum(CASE WHEN tm < prev_tm THEN 1 ELSE 0 END) AS BIGINT)
            |    AS tm_regressions,
            |  min(scn) AS min_scn, max(scn) AS max_scn
            |FROM x GROUP BY 1, 2
            |ORDER BY owner, tbl""".stripMargin))

  val all: Seq[Q] = Seq(cdcRoute, cdcAudit)
}
