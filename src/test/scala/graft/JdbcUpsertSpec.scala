package graft

import graft.sinks.JdbcUpsert
import graft.streaming.ChangeRow
import org.apache.spark.sql.DataFrame

/** The JDBC upsert/delete sink against embedded Derby
  * (`jdbc:derby:memory:`): the micro-batch apply path the
  * `cdc_jdbc_upsert` registry row drives end to end. Covers the three
  * contracts the reference's JDBC sink connector provides
  * (insert.mode=upsert, pk.mode=record_key, delete.enabled=true):
  * upsert/delete state transitions, redelivered-batch idempotency via
  * the monotonic-scn guard, and parity with the batch materializer. */
class JdbcUpsertSpec extends SparkSpec {

  private def ins(key: Long, scn: Long, cents: Long): ChangeRow =
    ChangeRow(key, scn, s"x.$scn", "c", Some(key), Some(cents), Some("t"))
  private def upd(key: Long, scn: Long, cents: Long): ChangeRow =
    ChangeRow(key, scn, s"x.$scn", "u", Some(key), Some(cents), Some("t"))
  private def del(key: Long, scn: Long): ChangeRow =
    ChangeRow(key, scn, s"x.$scn", "d", None, None, None)

  private def toBatch(rows: Seq[ChangeRow]): DataFrame = {
    import spark.implicits._
    rows.toDF()
  }

  private def snapshot(url: String): Seq[(Long, Long, Long)] =
    JdbcUpsert.readBack(spark, url, "snapshot").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(4))).toSeq.sorted

  test("insert -> update -> delete across micro-batches") {
    val url = JdbcUpsert.memUrl()
    JdbcUpsert.ensureTable(url, "snapshot")
    JdbcUpsert.applyBatch(toBatch(Seq(ins(1, 10, 100), ins(2, 11, 200))), url, "snapshot")
    assert(snapshot(url) == Seq((1L, 100L, 10L), (2L, 200L, 11L)))

    JdbcUpsert.applyBatch(toBatch(Seq(upd(1, 20, 150), del(2, 12))), url, "snapshot")
    assert(snapshot(url) == Seq((1L, 150L, 20L)))

    // delete then re-insert with a higher scn resurrects the key
    JdbcUpsert.applyBatch(toBatch(Seq(ins(2, 30, 222))), url, "snapshot")
    assert(snapshot(url) == Seq((1L, 150L, 20L), (2L, 222L, 30L)))
  }

  test("redelivered batch is idempotent (monotonic-scn guard)") {
    val url = JdbcUpsert.memUrl()
    JdbcUpsert.ensureTable(url, "snapshot")
    val batch = Seq(ins(1, 10, 100), upd(1, 20, 150), ins(2, 11, 200), del(3, 5))
    JdbcUpsert.applyBatch(toBatch(batch), url, "snapshot")
    val first = snapshot(url)
    // the at-least-once transport redelivers the whole batch
    JdbcUpsert.applyBatch(toBatch(batch), url, "snapshot")
    assert(snapshot(url) == first)
    assert(first == Seq((1L, 150L, 20L), (2L, 200L, 11L)))
  }

  test("out-of-order older event does not overwrite newer state") {
    val url = JdbcUpsert.memUrl()
    JdbcUpsert.ensureTable(url, "snapshot")
    JdbcUpsert.applyBatch(toBatch(Seq(upd(1, 50, 500))), url, "snapshot")
    // a straggler batch with only an older event for the same key
    JdbcUpsert.applyBatch(toBatch(Seq(upd(1, 40, 999))), url, "snapshot")
    assert(snapshot(url) == Seq((1L, 500L, 50L)))
    // and an older delete must not remove newer state
    JdbcUpsert.applyBatch(toBatch(Seq(del(1, 45))), url, "snapshot")
    assert(snapshot(url) == Seq((1L, 500L, 50L)))
  }

  test("end state parity with the batch cdc_materialize operator") {
    import org.apache.spark.sql.functions.col
    val url = JdbcUpsert.memUrl()
    JdbcUpsert.ensureTable(url, "snapshot")
    val parsed = graft.cdc.Cdc.parse(
      graft.cdc.CdcQueries.feed(spark, sfDir), col("json"))
    val typed = parsed.select(col("key"), col("scn"), col("xid"), col("op"),
      org.apache.spark.sql.functions
        .when(col("op") === "d", col("before.id")).otherwise(col("after.id")).as("id"),
      org.apache.spark.sql.functions
        .when(col("op") === "d", col("before.cents")).otherwise(col("after.cents")).as("cents"),
      org.apache.spark.sql.functions
        .when(col("op") === "d", col("before.type")).otherwise(col("after.type")).as("typ"))
    JdbcUpsert.applyBatch(typed, url, "snapshot")
    val viaJdbc = JdbcUpsert.readBack(spark, url, "snapshot")
      .collect().map(_.toSeq).toSet
    val viaBatch = graft.cdc.Cdc.materialize(parsed)
      .collect().map(_.toSeq).toSet
    assert(viaJdbc == viaBatch)
  }

  test("MERGE-free fallback path produces the identical table (sf3 Derby-MERGE defect route)") {
    // the portable update-then-insert loop is what every MERGE failure
    // ultimately falls back to; run the full state-transition +
    // redelivery + out-of-order matrix through it and require the end
    // state to match the MERGE path bit for bit
    val urlM = JdbcUpsert.memUrl()
    val urlN = JdbcUpsert.memUrl()
    JdbcUpsert.ensureTable(urlM, "snapshot")
    JdbcUpsert.ensureTable(urlN, "snapshot")
    val batches = Seq(
      Seq(ins(1, 10, 100), ins(2, 11, 200), ins(3, 12, 300)),
      Seq(upd(1, 20, 150), del(2, 13), ins(4, 14, 400)),
      Seq(upd(1, 20, 150), del(2, 13), ins(4, 14, 400)), // redelivery
      Seq(upd(3, 5, 999), del(4, 2)),                    // stragglers lose
      Seq(ins(2, 30, 222)))                              // resurrect
    batches.foreach { b =>
      JdbcUpsert.applyBatch(toBatch(b), urlM, "snapshot")
      JdbcUpsert.applyBatchNoMerge(toBatch(b), urlN, "snapshot")
    }
    assert(snapshot(urlN) == snapshot(urlM))
    assert(snapshot(urlN) ==
      Seq((1L, 150L, 20L), (2L, 222L, 30L), (3L, 300L, 12L), (4L, 400L, 14L)))
  }

  test("a redelivered older event in a later batch cannot resurrect a deleted key (MERGE and MERGE-free paths)") {
    // batch 1 reduces to the delete at scn 60; the at-least-once
    // transport then redelivers the scn-50 update on its own. A hard
    // delete forgets scn 60 and lets the redelivery re-insert key 1 —
    // the stored tombstone must fence it on both apply paths
    val urlM = JdbcUpsert.memUrl()
    val urlN = JdbcUpsert.memUrl()
    JdbcUpsert.ensureTable(urlM, "snapshot")
    JdbcUpsert.ensureTable(urlN, "snapshot")
    Seq(Seq(upd(1, 50, 500), del(1, 60), ins(2, 10, 100)), Seq(upd(1, 50, 500)))
      .foreach { b =>
        JdbcUpsert.applyBatch(toBatch(b), urlM, "snapshot")
        JdbcUpsert.applyBatchNoMerge(toBatch(b), urlN, "snapshot")
      }
    assert(snapshot(urlM) == Seq((2L, 100L, 10L)), "MERGE path resurrected key 1")
    assert(snapshot(urlN) == Seq((2L, 100L, 10L)), "MERGE-free path resurrected key 1")
  }

  test("chunk-severity classification: rollback and connection classes rethrow, statement classes fall back per-row") {
    import java.sql._
    // chunk-severe: the in-flight transaction or connection is gone —
    // per-row recovery would lose applied rows / cascade on a corpse
    assert(JdbcUpsert.chunkSeverity(new SQLTransactionRollbackException("deadlock", "40001")))
    assert(JdbcUpsert.chunkSeverity(new SQLException("lock timeout", "40XL1")))
    assert(JdbcUpsert.chunkSeverity(new SQLException("dead statement", "40XC0")))
    assert(JdbcUpsert.chunkSeverity(new SQLNonTransientConnectionException("No current connection.", "08003")))
    assert(JdbcUpsert.chunkSeverity(new SQLException("connection closed", "08006")))
    assert(JdbcUpsert.chunkSeverity(new SQLTransientConnectionException("blip")))
    // statement-severity: MERGE machinery failing on a live connection
    // — the per-row MERGE-free loop is the right recovery
    assert(!JdbcUpsert.chunkSeverity(new SQLException("_actionRS is null", "XJ001")))
    assert(!JdbcUpsert.chunkSeverity(new SQLException("duplicate key", "23505")))
    assert(!JdbcUpsert.chunkSeverity(new SQLException("no state")))
  }

  test("writer layout: embedded Derby is single-writer; server targets get disjoint ascending key ranges") {
    import spark.implicits._
    val latest = (0L until 1000L).map(k => (k, k * 10, "c", k, k, "t"))
      .toDF("key", "scn", "op", "id", "cents", "typ")
    // embedded Derby: ONE writer task, no concurrency — the captured
    // buffer-manager monitor deadlock makes any >1 layout unsafe
    val derby = JdbcUpsert.writerPartitioned(latest, "jdbc:derby:memory:x")
    assert(derby.rdd.getNumPartitions == 1)
    // server-class target: N writers over DISJOINT key ranges, each
    // applied in ascending key order — a globally consistent row-lock
    // acquisition order, so no wait cycle is constructible
    val srv = JdbcUpsert.writerPartitioned(latest, "jdbc:postgresql://db/x")
    val parts = srv.select("key").rdd
      .mapPartitionsWithIndex { (i, it) =>
        Iterator.single(i -> it.map(_.getLong(0)).toVector) }
      .collect().toMap.filter(_._2.nonEmpty)
    assert(parts.size > 1)
    parts.values.foreach(ks => assert(ks == ks.sorted, "ascending within writer"))
    val ranges = parts.values.map(ks => (ks.head, ks.last)).toSeq.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, aMax), (bMin, _)) => assert(aMax < bMin, "disjoint ranges")
      case _ => ()
    }
    assert(parts.values.flatten.toSet == (0L until 1000L).toSet, "no row lost")
  }

  test("writer sizing by URL class: embedded Derby 1; Derby NETWORK SERVER and Postgres 32") {
    assume(sys.env.get("SPARK_GRAFT_JDBC_PARALLELISM").isEmpty,
      "env knob overrides the URL-derived defaults; unset it for this test")
    assert(JdbcUpsert.sinkParallelism("jdbc:derby:memory:x;create=true") == 1)
    assert(JdbcUpsert.sinkParallelism("jdbc:derby:/on/disk/db") == 1)
    // Derby's OWN network server serializes engine-side like any
    // server: it keeps the full parallel disjoint-range layout
    assert(JdbcUpsert.sinkParallelism("jdbc:derby://localhost:1527/memory:x") == 32)
    assert(JdbcUpsert.sinkParallelism("jdbc:postgresql://db:5432/x") == 32)
  }

  test("multi-writer layout EXECUTES in-container against the serializing gate driver") {
    // The derbynet jars this container lacks (next test) would have made
    // the 32-writer path real; the graftserial gate driver makes it real
    // HERE: 32 genuinely concurrent Spark writer tasks run the full
    // disjoint-range layout — connections, chunked transactions,
    // severity-classified recovery — against a server boundary that
    // serializes engine entry the way a networked engine mediates
    // writers (and the way the reference's own sink config does with
    // tasks.max=1). End state must match the single-writer truth.
    import graft.sinks.SerialDriver
    val emb = JdbcUpsert.memUrl()
    val url = SerialDriver.Prefix + emb
    assert(JdbcUpsert.sinkParallelism(url) == 32,
      "gate URL is server-class: full parallel layout")
    SerialDriver.resetStats()
    JdbcUpsert.ensureTable(url, "snapshot")
    JdbcUpsert.applyBatch(
      toBatch((0L until 2000L).map(k => ins(k, 10, k * 10))), url, "snapshot")
    JdbcUpsert.applyBatch(
      toBatch((0L until 2000L by 2).map(k => upd(k, 20, k)) ++
        (1L until 2000L by 4).map(k => del(k, 21))), url, "snapshot")
    // read back through the embedded engine directly — same database
    val got = snapshot(emb)
    val expect = ((0L until 2000L by 2).map(k => (k, k, 20L)) ++
      (3L until 2000L by 4).map(k => (k, k * 10, 10L))).sorted
    assert(got == expect)
    // prove the parallelism was real: >1 writer session simultaneously
    // at the gate at some point (32 tasks on local[32] — if this is 1,
    // the layout silently collapsed to a single task)
    assert(SerialDriver.peakConcurrentWriters > 1,
      s"expected concurrent writers at the gate, peak=${SerialDriver.peakConcurrentWriters}")
  }

  test("serializing gate protocol: an open transaction excludes other sessions until commit") {
    import graft.sinks.SerialDriver
    import java.sql.DriverManager
    SerialDriver.ensureRegistered()
    val url = SerialDriver.Prefix + JdbcUpsert.memUrl()
    JdbcUpsert.ensureTable(url, "snapshot")
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val aInTxn = new java.util.concurrent.CountDownLatch(1)
    val aMayCommit = new java.util.concurrent.CountDownLatch(1)
    val a = new Thread(() => {
      val c = DriverManager.getConnection(url)
      try {
        c.setAutoCommit(false) // gate HELD from here
        val st = c.prepareStatement(
          "INSERT INTO snapshot (k, id, cents, typ, last_scn) VALUES (1, 1, 1, 't', 1)")
        st.executeUpdate(); st.close()
        order.add("a-inserted")
        aInTxn.countDown()
        aMayCommit.await()
        Thread.sleep(150) // B must still be parked at the gate through this
        order.add("a-commits")
        c.commit()
      } finally c.close()
    })
    val b = new Thread(() => {
      aInTxn.await() // only start once A owns the gate mid-transaction
      val c = DriverManager.getConnection(url) // blocks: connect is an engine entry
      try {
        order.add("b-connected")
        val st = c.createStatement()
        st.executeUpdate(
          "INSERT INTO snapshot (k, id, cents, typ, last_scn) VALUES (2, 2, 2, 't', 1)")
        st.close()
        order.add("b-inserted")
      } finally c.close()
    })
    a.setDaemon(true); b.setDaemon(true)
    a.start(); b.start()
    assert(aInTxn.await(30, java.util.concurrent.TimeUnit.SECONDS),
      "writer A never reached its open transaction")
    aMayCommit.countDown()
    a.join(30000); b.join(30000)
    assert(!a.isAlive && !b.isAlive, s"gate wedged; order=$order")
    assert(order.toArray.toSeq ==
      Seq("a-inserted", "a-commits", "b-connected", "b-inserted"),
      s"B must enter only after A's commit releases the gate; order=$order")
    assert(snapshot(url.stripPrefix(SerialDriver.Prefix)).map(_._1) == Seq(1L, 2L))
  }

  test("multi-writer path EXECUTES against Derby Network Server where derbynet/derbyclient exist") {
    // The round-11 buffer-manager monitor deadlock forces EMBEDDED
    // Derby to one writer, which left the range-partitioned 32-writer
    // layout — the shape a production Postgres sink actually runs —
    // exercised by nothing real. Derby ships a network server
    // (derbynet.jar) whose engine serializes those monitors inside one
    // server process; running the parallel layout against
    // jdbc:derby://localhost makes the multi-writer path real.
    def has(c: String): Boolean =
      try { Class.forName(c); true } catch { case _: Throwable => false }
    val server = has("org.apache.derby.drda.NetworkServerControl")
    val client = has("org.apache.derby.client.ClientAutoloadedDriver") ||
      has("org.apache.derby.client.net.NetConnection")
    assume(server && client,
      "LOUD: this container ships only derby/derbyshared/derbytools in /opt/spark/jars — " +
        "org.apache.derby.drda.NetworkServerControl (derbynet.jar) " +
        s"${if (server) "present" else "ABSENT"}, derbyclient " +
        s"${if (client) "present" else "ABSENT"} — so the N>1 writer " +
        "path cannot execute against a server-class Derby HERE. It runs " +
        "(and this test verifies end state) wherever derbynet+derbyclient " +
        "are on the classpath; the layout contracts it would exercise are " +
        "pinned by the two tests above, and embedded Derby stays strictly " +
        "single-writer (captured JVM monitor deadlock, round 11).")
    // in-process DRDA server on a loopback ephemeral-ish port (reflective:
    // derbynet is not a compile-time dependency)
    val ncc = Class.forName("org.apache.derby.drda.NetworkServerControl")
    val inst = ncc.getConstructor(classOf[java.net.InetAddress], classOf[Int])
      .newInstance(java.net.InetAddress.getByName("127.0.0.1"),
        Integer.valueOf(15270))
    ncc.getMethod("start", classOf[java.io.PrintWriter])
      .invoke(inst, null: java.io.PrintWriter)
    try {
      val ping = ncc.getMethod("ping")
      var up = false
      var i = 0
      while (!up && i < 100) {
        try { ping.invoke(inst); up = true }
        catch { case _: Throwable => Thread.sleep(100); i += 1 }
      }
      assert(up, "network server did not come up")
      val url = "jdbc:derby://127.0.0.1:15270/memory:netdb;create=true"
      assert(JdbcUpsert.sinkParallelism(url) == 32, "network URL must keep the parallel layout")
      JdbcUpsert.ensureTable(url, "snapshot")
      // enough keys that repartitionByRange(32) actually spreads across
      // concurrent writer tasks, plus update/delete churn on top
      JdbcUpsert.applyBatch(
        toBatch((0L until 2000L).map(k => ins(k, 10, k * 10))), url, "snapshot")
      JdbcUpsert.applyBatch(
        toBatch((0L until 2000L by 2).map(k => upd(k, 20, k)) ++
          (1L until 2000L by 4).map(k => del(k, 21))), url, "snapshot")
      val got = snapshot(url)
      val expect = ((0L until 2000L by 2).map(k => (k, k, 20L)) ++
        (3L until 2000L by 4).map(k => (k, k * 10, 10L))).sorted
      assert(got == expect)
    } finally ncc.getMethod("shutdown").invoke(inst)
  }

  test("gate-wait is bounded: a writer corpse degrades to chunk-severe, never a JVM hang") {
    import graft.sinks.SerialDriver
    import java.sql.DriverManager
    SerialDriver.ensureRegistered()
    val url = SerialDriver.Prefix + JdbcUpsert.memUrl()
    JdbcUpsert.ensureTable(url, "snapshot")
    val savedTimeout = SerialDriver.gateTimeoutMs
    SerialDriver.gateTimeoutMs = 500L
    try {
      // A acquires the gate mid-transaction and DIES without close() —
      // the corpse case (abrupt thread death, executor OOM) where
      // nothing routes the release through the proxy. Spark's own
      // foreachPartition cleanup does close connections on ordinary
      // task failure; this is the path where even that never ran.
      val corpse = new Thread(() => {
        val c = DriverManager.getConnection(url)
        c.setAutoCommit(false) // gate HELD from here; thread exits, no close
      })
      corpse.setDaemon(true)
      corpse.start()
      corpse.join(30000)
      assert(!corpse.isAlive, "corpse thread should have exited")
      // the next writer must NOT hang: the bounded gate wait surfaces
      // the transient failure the sink's severity classifier already
      // treats as chunk-severe (same class as an interrupt at the gate)
      val t0 = System.nanoTime()
      val ex = intercept[java.sql.SQLTransientConnectionException] {
        DriverManager.getConnection(url)
      }
      val waitedMs = (System.nanoTime() - t0) / 1000000L
      assert(ex.getMessage.contains("graftserial"), ex.getMessage)
      assert(waitedMs >= 400 && waitedMs < 30000,
        s"expected a ~500ms bounded wait, waited ${waitedMs}ms")
    } finally {
      SerialDriver.gateTimeoutMs = savedTimeout
      // a ReentrantLock is owner-thread-bound: nothing can unlock the
      // corpse's lock, so recovery is a FRESH gate — later writers
      // queue on the new one, the old lock is unreachable garbage
      SerialDriver.resetGateForTest()
    }
    // and the gate is fully usable again after the reset
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.executeUpdate("INSERT INTO snapshot (k, id, cents, typ, last_scn) " +
        "VALUES (990001, 99, 99, 't', 1)")
      st.close()
    } finally c.close()
  }

  test("gate escalates after consecutive timeouts: fast non-chunk-severe failure; a freed gate self-heals") {
    import graft.sinks.SerialDriver
    import java.sql.DriverManager
    SerialDriver.ensureRegistered()
    val url = SerialDriver.Prefix + JdbcUpsert.memUrl()
    JdbcUpsert.ensureTable(url, "snapshot")
    val savedTimeout = SerialDriver.gateTimeoutMs
    SerialDriver.gateTimeoutMs = 300L
    SerialDriver.resetGateForTest() // counter + lock known-clean
    try {
      // Phase 1 — a LIVE holder merely slower than the timeout: queued
      // writers see bounded chunk-severe retries, and once the holder
      // releases, the first post-escalation arrival still ACQUIRES
      // (poisoned fast-fail is a non-blocking tryLock, not a hard
      // refusal) — the counter resets and no spurious permanent
      // failure survives a slow-but-alive transaction.
      val release = new java.util.concurrent.CountDownLatch(1)
      val slow = new Thread(() => {
        val c = DriverManager.getConnection(url)
        c.setAutoCommit(false) // gate held
        release.await()
        c.commit()
        c.close()
      })
      slow.setDaemon(true)
      slow.start()
      Thread.sleep(100) // let the holder take the gate
      for (i <- 1 to SerialDriver.GateTimeoutEscalation)
        intercept[java.sql.SQLTransientConnectionException] {
          DriverManager.getConnection(url)
        }
      assert(SerialDriver.consecutiveGateTimeouts ==
        SerialDriver.GateTimeoutEscalation)
      release.countDown()
      slow.join(30000)
      assert(!slow.isAlive)
      val healed = DriverManager.getConnection(url) // poisoned path, but freed
      healed.close()
      assert(SerialDriver.consecutiveGateTimeouts == 0, "acquire must reset the counter")

      // Phase 2 — a real corpse: after the escalation threshold the
      // failure is FAST (no per-chunk timeout burn) and NOT classified
      // chunk-severe, so the writer task fails loudly instead of
      // retrying forever.
      val corpse = new Thread(() => {
        val c = DriverManager.getConnection(url)
        c.setAutoCommit(false) // held; thread dies without close
      })
      corpse.setDaemon(true)
      corpse.start()
      corpse.join(30000)
      assert(!corpse.isAlive)
      for (_ <- 1 to SerialDriver.GateTimeoutEscalation)
        intercept[java.sql.SQLTransientConnectionException] {
          DriverManager.getConnection(url)
        }
      val t0 = System.nanoTime()
      val ex = intercept[java.sql.SQLNonTransientException] {
        DriverManager.getConnection(url)
      }
      val tookMs = (System.nanoTime() - t0) / 1000000L
      assert(ex.getMessage.contains("poisoned"), ex.getMessage)
      assert(tookMs < 250, s"escalated failure must be fast, took ${tookMs}ms")
      assert(!JdbcUpsert.chunkSeverity(ex),
        "escalated failure must NOT be chunk-severe (it must propagate)")
    } finally {
      SerialDriver.gateTimeoutMs = savedTimeout
      SerialDriver.resetGateForTest()
    }
  }
}
