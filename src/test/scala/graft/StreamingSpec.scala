package graft

import graft.streaming.{ChangeRow, Streams}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, lit, sum, unix_micros, window}
import org.scalatest.funsuite.AnyFunSuite

/** Incremental (multi-batch) semantics of the streaming operators —
  * the part the bounded-run DuckDB oracles can't see. */
class StreamingSpec extends AnyFunSuite with SparkSpec {

  private def ins(key: Long, scn: Long, cents: Long): ChangeRow =
    ChangeRow(key, scn, s"x.$scn", "c", Some(key), Some(cents), Some("t"))
  private def upd(key: Long, scn: Long, cents: Long): ChangeRow =
    ChangeRow(key, scn, s"x.$scn", "u", Some(key), Some(cents), Some("t"))
  private def del(key: Long, scn: Long): ChangeRow =
    ChangeRow(key, scn, s"x.$scn", "d", None, None, None)

  test("materializeStream: upsert/delete state transitions across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[ChangeRow]
    val q = Streams.materializeStream(in.toDS()).writeStream
      .format("memory").queryName("mat_test").outputMode("update").start()
    try {
      in.addData(ins(1, 10, 100), ins(2, 11, 200))
      q.processAllAvailable()
      val afterB1 = spark.table("mat_test").collect()
        .map(r => (r.getLong(0), r.getLong(2))).sorted
      assert(afterB1.toSeq == Seq((1L, 100L), (2L, 200L)))

      // batch 2: update key 1, delete key 2, and a LATE event for key 1
      // (scn 5 < 10) that must NOT win
      in.addData(upd(1, 20, 150), del(2, 12), ins(1, 5, 999))
      q.processAllAvailable()
      val updates = spark.table("mat_test").collect()
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(4), r.getBoolean(5)))
      // update-mode sink accumulates per-batch emissions: batch 2 emits
      // key 1 at scn 20 (cents 150) and an explicit TOMBSTONE for the
      // deleted key 2 (so a later collapse can apply the delete)
      assert(updates.count(r => r._1 == 1L && r._3 == 20L && r._2 == 150L && !r._4) == 1)
      assert(updates.count(r => r._1 == 2L && r._3 == 12L && r._4) == 1)
      assert(!updates.exists(r => r._1 == 2L && r._3 > 11L && !r._4))
      assert(!updates.exists(r => r._1 == 1L && r._3 == 5L))
    } finally q.stop()
  }

  test("materializeStream: delete then re-insert with higher scn resurrects the key") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[ChangeRow]
    val q = Streams.materializeStream(in.toDS()).writeStream
      .format("memory").queryName("mat_test2").outputMode("update").start()
    try {
      in.addData(ins(7, 1, 70), del(7, 2))
      q.processAllAvailable()
      // the delete emits a tombstone (not silence) — that is what makes
      // collapse-to-last-emission delete-safe across batches
      val b1 = spark.table("mat_test2").collect()
        .map(r => (r.getLong(0), r.getLong(4), r.getBoolean(5)))
      assert(b1.toSeq == Seq((7L, 2L, true)))
      in.addData(ins(7, 3, 77))
      q.processAllAvailable()
      val rows = spark.table("mat_test2").collect()
        .filter(!_.getBoolean(5))
        .map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
      assert(rows.toSeq == Seq((7L, 77L, 3L)))
    } finally q.stop()
  }

  test("collapseSnapshots: a delete in a LATER micro-batch removes the key (the registry row's own collapse path)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[ChangeRow]
    val q = Streams.materializeStream(in.toDS()).writeStream
      .format("memory").queryName("mat_collapse").outputMode("update").start()
    try {
      // batch 1 emits key 1 live; batch 2 deletes it — the stale-row
      // hazard the tombstone emission closes: without it, the batch-1
      // emission would survive the collapse
      in.addData(ins(1, 10, 100), ins(2, 11, 200))
      q.processAllAvailable()
      in.addData(del(1, 20), upd(2, 21, 250))
      q.processAllAvailable()
      val collapsed = Streams.collapseSnapshots(spark.table("mat_collapse"))
        .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).sorted
      assert(collapsed.toSeq == Seq((2L, 250L, 21L)),
        "key 1's batch-1 emission must be beaten by the batch-2 tombstone")
    } finally q.stop()
  }

  test("checkpoint recovery: keyed state survives stop/restart (OLR durable-checkpoint semantics)") {
    // the reference resumes from its olr_checkpoint volume after a
    // restart (reference README.md:55-87, 471): no events are lost and
    // no stale event can win against state established before the stop.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ckpt = tempDir("graft_ckpt")
    val emitted = new scala.collection.concurrent.TrieMap[Long, Seq[(Long, Long, Long)]]()
    val in = MemoryStream[ChangeRow]

    def start() = Streams.materializeStream(in.toDS()).toDF().writeStream
      .outputMode("update")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        emitted.put(id, batch.collect()
          .map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSeq.sorted)
        ()
      }
      .start()

    val q1 = start()
    try {
      in.addData(ins(1, 10, 100), ins(2, 11, 200))
      q1.processAllAvailable()
    } finally q1.stop()

    // events arriving while the pipeline is down: a LATE duplicate for
    // key 1 (scn 5 < the checkpointed scn 10) and a real update for 2
    in.addData(ins(1, 5, 999), upd(2, 20, 250))

    val q2 = start()
    try {
      q2.processAllAvailable()
      val batch1 = emitted.keys.max
      // key 1 re-emits the RECOVERED state (cents 100 @ scn 10) — if the
      // state store had not been restored from the checkpoint, the late
      // scn-5 event would have won and emitted (1, 999, 5)
      assert(emitted(batch1) == Seq((1L, 100L, 10L), (2L, 250L, 20L)))
    } finally q2.stop()

    // final materialized state == an uninterrupted single-run of the
    // same events
    val all = emitted.toSeq.sortBy(_._1).flatMap(_._2)
      .groupBy(_._1).map { case (_, v) => v.last }.toSeq.sorted
    assert(all == Seq((1L, 100L, 10L), (2L, 250L, 20L)))
  }

  test("stateful dropDuplicates drops a whole-batch replay delivered later") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[ChangeRow]
    val q = in.toDS().toDF().dropDuplicates("key", "scn").writeStream
      .format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      val batch = Seq(ins(1, 10, 100), ins(2, 11, 200))
      in.addData(batch: _*)
      q.processAllAvailable()
      // the transport redelivers the entire first batch plus one new event
      in.addData(batch :+ ins(3, 12, 300): _*)
      q.processAllAvailable()
      val rows = spark.table("dedup_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(rows.toSeq == Seq((1L, 10L), (2L, 11L), (3L, 12L)),
        "replayed events must be dropped by state, the new event kept")
    } finally q.stop()
  }

  test("watermark-bounded dedup drops replays inside the delay window (bounded state)") {
    // the production-scale variant of cdc_stream_dedup: state is
    // bounded by the watermark delay instead of growing forever
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val q = in.toDF().toDF("key", "scn", "ts")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("key", "scn")
      .writeStream.format("memory").queryName("wm_dedup")
      .outputMode("append").start()
    try {
      val t0 = new java.sql.Timestamp(1700000000000L)
      in.addData((1L, 10L, t0), (2L, 11L, t0))
      q.processAllAvailable()
      // replay arrives a batch later, still within the 1h delay
      in.addData((1L, 10L, t0), (3L, 12L, t0))
      q.processAllAvailable()
      val rows = spark.table("wm_dedup").select("key", "scn").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(rows.toSeq == Seq((1L, 10L), (2L, 11L), (3L, 12L)))

      // the BOUNDED-state half of the claim: advance the watermark past
      // the old entries and the state store must shrink to just the
      // still-covered row — state is O(watermark window), not O(feed)
      in.addData((99L, 99L, new java.sql.Timestamp(t0.getTime + 3L * 3600 * 1000)))
      q.processAllAvailable()
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows == 1,
        s"expected watermark eviction down to the sentinel row, state holds $stateRows")
    } finally q.stop()
  }

  test("append mode + watermark: final windows close, emit once, and state is evicted") {
    // the scale-correct shape of the windowed streaming rows: the
    // registry runs them in complete mode so the bounded feed flushes
    // (a DuckDB-comparable final answer); at 100 TB you run THIS —
    // append mode, watermark closes each window exactly once, closed
    // windows leave the state store
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(java.sql.Timestamp, String, Long)]
    def agg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n"), col("sum_cents"))
    val q = agg(in.toDF().toDF("ts", "event_type", "cents")
        .withWatermark("ts", "30 minutes"))
      .writeStream.format("memory").queryName("append_win")
      .outputMode("append").start()
    try {
      def t(ms: Long) = new java.sql.Timestamp(1700000000000L + ms)
      val events = Seq(
        (t(0), "a", 1L), (t(10 * 60 * 1000L), "a", 2L),
        (t(70 * 60 * 1000L), "b", 5L))
      in.addData(events: _*)
      q.processAllAvailable()
      // windows are still open: append mode must not have emitted yet
      assert(spark.table("append_win").collect().isEmpty)

      // a watermark-advancing sentinel (5 h later) closes both windows
      in.addData((t(5L * 3600 * 1000), "z", 0L))
      q.processAllAvailable()
      val emitted = spark.table("append_win").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      val expected = agg(events.toDF("ts", "event_type", "cents")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(emitted == expected,
        s"append-mode final windows must equal the batch result: $emitted vs $expected")

      // and the closed windows left the state store — only the
      // sentinel's still-open window remains
      val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
      assert(stateRows == 1,
        s"closed windows must be evicted from state, found $stateRows rows")
    } finally q.stop()
  }

  test("keyed state runs on the RocksDB state store (the cluster-scale provider)") {
    // the scale story says keyed state is RocksDB-backed on a real
    // cluster; prove the pipeline actually runs on that provider
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[ChangeRow]
      val q = Streams.materializeStream(in.toDS()).writeStream
        .format("memory").queryName("mat_rocks").outputMode("update").start()
      try {
        in.addData(ins(1, 10, 100))
        q.processAllAvailable()
        in.addData(upd(1, 20, 150), ins(2, 21, 200))
        q.processAllAvailable()
        val rows = spark.table("mat_rocks").collect()
          .map(r => (r.getLong(0), r.getLong(2), r.getLong(4)))
        // state for key 1 survived into batch 2 under RocksDB
        assert(rows.count(r => r._1 == 1L && r._2 == 150L && r._3 == 20L) == 1)
        assert(rows.count(r => r._1 == 2L && r._2 == 200L) == 1)
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("scd2Stream: versions close across batches via (key, valid_from) upsert") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[ChangeRow]
    val q = Streams.scd2Stream(in.toDS()).writeStream
      .format("memory").queryName("scd2_test").outputMode("update").start()
    try {
      def rows() = spark.table("scd2_test").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4),
          r.getBoolean(6)))

      in.addData(ins(1, 10, 100), ins(2, 11, 200))
      q.processAllAvailable()
      // batch 1: both versions open
      assert(rows().toSeq.sorted == Seq(
        (1L, 10L, -1L, 100L, true), (2L, 11L, -1L, 200L, true)))

      // batch 2: key 1 updated (closes v10, opens v20), key 2 deleted
      // (closes v11, no new open version), plus a STALE event for key 1
      // that must not produce any version
      in.addData(upd(1, 20, 150), del(2, 12), ins(1, 5, 999))
      q.processAllAvailable()
      // sink upserts on (key, valid_from): last emission per version wins
      val hist = rows().zipWithIndex
        .groupBy { case (r, _) => (r._1, r._2) }
        .map { case (_, v) => v.maxBy(_._2)._1 }.toSeq.sorted
      assert(hist == Seq(
        (1L, 10L, 20L, 100L, false),  // closed by the scn-20 update
        (1L, 20L, -1L, 150L, true),   // new open version
        (2L, 11L, 12L, 200L, false)), // closed by the delete, none opened
        s"got $hist")
      assert(!rows().exists(_._2 == 5L), "stale event must not open a version")
    } finally q.stop()
  }

  test("stateful registry rows produce identical results on the RocksDB provider") {
    // beyond the materializeStream pin above: run full REGISTRY rows —
    // SCD2 keyed state and the TypedImperativeAggregate top-k buffers —
    // under RocksDB (with changelog checkpointing, the 24/7 shape) and
    // require bit-identical output vs the default HDFS-backed provider.
    // This is the provider a 1000-executor deployment runs, so the
    // rows' state must round-trip its serialization, not just the
    // in-memory map's. runBounded's session clone inherits both confs.
    val rocks = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")
    val prev = rocks.map { case (k, _) => k -> spark.conf.getOption(k) }
    val rows = Seq("cdc_stream_scd2", "q_stream_topk", "q_stream_approx_topk")
    // the state-VOLUME-bound rows (the registry's #1/#2 wall costs at
    // scale) plus the session merge — these are the rows a scale run
    // moves onto RocksDB, so their provider-equivalence is pinned here
    // at spec SF. Compared as multisets: their sinks are parquet-read
    // back, so row order within equal sort keys is not contractual (the
    // DuckDB oracle pins the ordered contract).
    val volumeRows = Seq("cdc_stream_dedup", "cdc_stream_dedup_wm",
      "q_stream_session")
    def run(name: String): Seq[String] =
      SparkEntry.queries(name)(spark, sfDir).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    val expected = (rows ++ volumeRows).map(n => n -> run(n)).toMap
    assert(expected.values.forall(_.nonEmpty))
    rocks.foreach { case (k, v) => spark.conf.set(k, v) }
    try (rows ++ volumeRows).foreach { n =>
      assert(run(n) == expected(n), s"$n diverged on RocksDB")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runBounded runs on a session clone: the caller's conf is never written") {
    import spark.implicits._
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val callerParts = (Streams.statePartitions.toInt + 3).toString
    spark.conf.set(key, callerParts)
    try {
      StreamingSpec.caller = spark
      // each event reports (a) the caller session's setting, read
      // through a JVM-global holder (local mode: tasks share the JVM),
      // and (b) the setting its own task plans under
      val seen = Streams.eventsStream(spark, sfDir).select(col("event_id")).as[Long]
        .map(_ => (StreamingSpec.caller.conf.get(key),
          org.apache.spark.sql.internal.SQLConf.get.numShufflePartitions.toString))
        .toDF("caller_parts", "task_parts")
        .groupBy("caller_parts", "task_parts").count()
      val before = spark.conf.getAll
      val got = Streams.runBounded(seen, "complete").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set((callerParts, Streams.statePartitions)),
        s"(caller, task) shuffle partitions while the stream ran: $got")
      assert(spark.conf.getAll == before,
        "runBounded must write no conf of the session it is given")
      // withBatchSizedShuffle writes batch.sparkSession's conf: safe
      // only because a micro-batch never plans under the caller's
      // session
      val sessions = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
      Streams.drainEach(Streams.eventsStream(spark, sfDir)) { (b, _) =>
        sessions.add(b.sparkSession); ()
      }
      assert(!sessions.isEmpty && sessions.stream().allMatch(_ ne spark))
    } finally {
      StreamingSpec.caller = null
      spark.conf.set(key, prev)
    }
  }

  test("bounded streaming queries agree with their batch equivalents") {
    // a multiset of rows, columns in name order (the oracle contract)
    def bag(df: org.apache.spark.sql.DataFrame) =
      df.select(df.columns.sorted.map(col).toSeq: _*).collect().toSeq
        .map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    // every streamed row sharing a batch row's oracle is that row's twin
    val batch = SparkEntry.registry.filterNot(Streams.all.contains)
    val pairs = for {
      st <- Streams.all
      b <- batch.find(b => st.oracle.isDefined && b.oracle == st.oracle)
    } yield (st, b)
    assert(pairs.nonEmpty, "no streamed row shares a batch row's oracle")
    for ((st, b) <- pairs)
      assert(bag(st.run(spark, sfDir)) == bag(b.run(spark, sfDir)),
        s"${st.name} disagrees with its batch twin ${b.name}")
    // the tumbling row has no batch twin in the registry (q_tumbling_window
    // emits hour buckets): check it against the shared window body
    import scala.concurrent.duration.DurationInt
    assert(bag(Streams.qStreamTumbling.run(spark, sfDir)) == bag(
      graft.operators.Relational.windowAgg(
        graft.sources.Tables(spark, sfDir).events, 1.hour, 1.hour)))
  }

  test("stream routing: a table appearing mid-stream creates its target on arrival") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val root = tempDir("graft_route_mb")
    // routed-change rows: (tbl, key, scn, xid, op, id, cents, typ)
    val in = MemoryStream[(String, Long, Long, String, String, Long, Long, String)]
    val routed = in.toDF().toDF(
      "tbl", "key", "scn", "xid", "op", "id", "cents", "typ")
    val q = routed.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.cdc.Router.applyRoutedBatch(batch, root)
      }
      .start()
    try {
      // batch 1: only ORDERS exists in the feed
      in.addData(("ORDERS", 1L, 10L, "x.10", "c", 1L, 100L, "t"),
        ("ORDERS", 2L, 11L, "x.11", "c", 2L, 200L, "t"))
      q.processAllAvailable()
      assert(new java.io.File(s"$root/ORDERS").exists())
      assert(!new java.io.File(s"$root/CUSTOMERS").exists())

      // batch 2: CUSTOMERS appears for the first time; ORDERS key 1
      // updated, key 2 deleted — per-table upserts must all apply
      in.addData(("CUSTOMERS", 7L, 12L, "x.12", "c", 7L, 700L, "t"),
        ("ORDERS", 1L, 13L, "x.13", "u", 1L, 150L, "t"),
        ("ORDERS", 2L, 14L, "x.14", "d", -1L, -1L, ""))
      q.processAllAvailable()

      val orders = spark.read.parquet(s"$root/ORDERS")
        .filter(col("op") =!= "d")
        .select("key", "cents").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(orders == Seq((1L, 150L)))
      val customers = spark.read.parquet(s"$root/CUSTOMERS")
        .filter(col("op") =!= "d")
        .select("key", "cents").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(customers == Seq((7L, 700L)))
    } finally q.stop()
  }
}

object StreamingSpec {
  /** The session a running stream's tasks read back (local mode). */
  @volatile var caller: org.apache.spark.sql.SparkSession = _
}
