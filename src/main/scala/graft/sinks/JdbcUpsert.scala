package graft.sinks

import graft.cdc.Cdc
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import java.sql.{Connection, DriverManager, PreparedStatement}

/** JDBC upsert/delete sink — the Spark re-expression of the reference
  * pipeline's terminal stage: a JDBC sink connector configured with
  * insert.mode=upsert, pk.mode=record_key, delete.enabled=true
  * (reference README.md:776-798). Verified by JdbcUpsertSpec (insert/
  * update/delete, redelivery idempotency, out-of-order events) against
  * embedded Derby (`jdbc:derby:memory:`), and end-to-end by the
  * `cdc_jdbc_upsert` registry row whose oracle is the cdc_materialize
  * snapshot SQL; any JDBC target works the same way.
  *
  * Scale design: each micro-batch is first reduced to its latest event
  * per key with a partial-aggregated max_by (map-side combine, one
  * shuffle of |keys-touched| rows — NOT a sort), then applied from the
  * executors with `foreachPartition` + JDBC batch statements, so write
  * parallelism = shuffle partitions and the driver never sees the data.
  * Conflict resolution is monotonic-scn: an UPDATE only wins when the
  * incoming scn >= the stored last_scn, which makes redelivered batches
  * idempotent (exactly the at-least-once -> effectively-once contract
  * the reference sink provides via Kafka per-key ordering). Deletes go
  * through the SAME guarded upsert and leave a tombstone row
  * (`deleted = true`) instead of removing the key, as ParquetUpsert
  * does: a hard delete would forget the delete's scn, and an older
  * event redelivered in a later micro-batch would re-insert the key.
  * [[readBack]] hides tombstones.
  */
object JdbcUpsert {

  private val ctr = new java.util.concurrent.atomic.AtomicInteger(0)

  /** JDBC write parallelism cap. A database has a CONNECTION budget,
    * not a shuffle-partition budget: at 100× the reduced batch arrived
    * in 512 shuffle partitions and 512 concurrent embedded-Derby
    * writers starved the engine outright ("No current connection"
    * even after fresh reopens). The sink therefore coalesces to at
    * most this many writer tasks — the same numPartitions cap Spark's
    * own JDBC writer exposes — sized via `SPARK_GRAFT_JDBC_PARALLELISM`
    * the way a deployment sizes it to the target's max_connections.
    * Coalesce (not repartition): no extra shuffle, the reduced rows
    * just fan in.
    *
    * The DEFAULT is sized by the target the URL names: 32 for a
    * networked Postgres-class database, 1 — strictly single-writer —
    * for embedded Derby. Concurrent embedded-Derby writers on one
    * table are UNSAFE at any count: a captured thread dump (round 11)
    * shows a Java-level monitor deadlock inside Derby's buffer
    * manager between just two writers — one thread in
    * BasePage.releaseExclusive holds the StoredPage monitor and wants
    * the BaseContainerHandle monitor (DerbyObservable.deleteObserver),
    * while a second in BaseContainerHandle.close holds the handle and
    * wants the page (informObservers → BasePage.update). That
    * lock-order inversion is independent of row-lock order, key
    * ranges, lock timeouts, and query timeouts (a monitor wait cannot
    * be cancelled), so no writer layout makes >1 embedded writer
    * live; it also explains the earlier "page-latch convoy"
    * signatures at 4 and 32 writers. A networked server serializes
    * inside its own engine and keeps the full parallel layout — that
    * includes Derby's OWN network server (`jdbc:derby://host/db`),
    * whose engine-side threads take those monitors inside one server
    * process with lock-manager mediation, so only the EMBEDDED form
    * (`jdbc:derby:` not followed by `//`) is forced single-writer.
    * The env knob still overrides either default. */
  private[graft] def sinkParallelism(url: String): Int = {
    val embeddedDerby =
      url.startsWith("jdbc:derby") && !url.startsWith("jdbc:derby://")
    val dflt = if (embeddedDerby) "1" else "32"
    val v = sys.env.getOrElse("SPARK_GRAFT_JDBC_PARALLELISM", dflt)
    require(v.forall(_.isDigit) && v.toInt >= 1,
      s"SPARK_GRAFT_JDBC_PARALLELISM must be a positive integer, got: $v")
    v.toInt
  }

  /** DriverManager connect that first registers the in-repo serializing
    * gate driver when the URL asks for it — executor JVMs resolve
    * `jdbc:graftserial:` without anything having touched the object. */
  private def getConn(url: String): Connection = {
    if (url.startsWith(SerialDriver.Prefix)) SerialDriver.ensureRegistered()
    DriverManager.getConnection(url)
  }

  /** Fresh embedded in-memory Derby database URL, unique per call (the
    * in-container stand-in for the reference's Postgres target; the
    * sink code is identical for any MERGE-capable JDBC database). */
  def memUrl(): String = {
    if (System.getProperty("derby.system.home") == null)
      System.setProperty("derby.system.home",
        graft.sources.Formats.scratchDir("graft_derby"))
    s"jdbc:derby:memory:graft${ctr.incrementAndGet()};create=true"
  }

  /** DDL for the materialized target ("key" is reserved in Derby, the
    * column is k). */
  def ensureTable(url: String, table: String): Unit = {
    val conn = getConn(url)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(
        s"""CREATE TABLE $table (
           |  k BIGINT PRIMARY KEY, id BIGINT, cents BIGINT,
           |  typ VARCHAR(64), last_scn BIGINT, deleted BOOLEAN DEFAULT FALSE)""".stripMargin)
      catch { case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () } // exists
      finally st.close()
    } finally conn.close()
  }

  /** Apply one micro-batch of parsed change rows (columns key, scn,
    * xid, op, id, cents, typ) to the JDBC target. */
  def applyBatch(batch: DataFrame, url: String, table: String): Unit =
    upsertBatch(batch, url, table, noMerge = false)

  /** The same micro-batch application forced through the MERGE-free
    * update-then-insert loop — the code path the sf3 Derby-MERGE
    * failure falls back to. Exposed so the spec can pin that both
    * paths produce identical tables on the full insert/update/delete/
    * redelivery matrix. */
  private[graft] def applyBatchNoMerge(batch: DataFrame, url: String,
                                       table: String): Unit =
    upsertBatch(batch, url, table, noMerge = true)

  private def upsertBatch(batch: DataFrame, url: String, table: String,
                          noMerge: Boolean): Unit = {
    // reduce the batch to the winning event per key BEFORE touching the
    // DB (Cdc.latest, tombstones kept): max_by partial-aggregates
    // map-side, so a skewed key costs one combine, not a sorted window
    val latest = Cdc.latest(batch, Seq("key"), Seq("scn", "op", "id", "cents", "typ"))
      .select(col("key"), col("w.*"))
    writerPartitioned(latest, url).foreachPartition { rows: Iterator[Row] =>
      if (rows.nonEmpty) applyRows(url, table, rows, noMerge)
    }
  }

  /** Shape the reduced batch for the writer tasks: DISJOINT key ranges,
    * each applied in ascending key order. Concurrent writers that
    * acquire row locks in a globally consistent order cannot deadlock
    * each other (no wait cycle is constructible), and disjoint ranges
    * keep each writer inside its own B-tree region so page-latch
    * collisions happen only at range boundaries — the one full-registry
    * sf10 run that hung did so with arbitrary-order writers parked in
    * Derby page latches (which, unlike lock waits, have NO timeout).
    * The range shuffle is over the post-max_by reduced stream
    * (|keys-touched| rows), so its cost is noise next to the JDBC
    * round-trips it protects. */
  private[graft] def writerPartitioned(latest: DataFrame, url: String): DataFrame = {
    val n = sinkParallelism(url)
    if (n == 1) latest.coalesce(1).sortWithinPartitions("key")
    else latest.repartitionByRange(n, col("key")).sortWithinPartitions("key")
  }

  /** Rows batched per transaction: bounds executor memory for the
    * replay buffer and keeps Derby's per-transaction lock count below
    * its table-lock escalation threshold under concurrent writers. */
  private val ChunkRows = 1000

  /** Fresh-connection whole-chunk replay attempts after the first
    * recovery replay (so a chunk sees at most 1 batch try + 1
    * same-connection replay + this many fresh-connection replays
    * before the failure propagates). */
  private val ReplayAttempts = 3

  /** Chunk-severity: per-ROW recovery is unsound for this failure —
    * either the engine rolled back the whole in-flight transaction
    * (SQLState class 40 — Derby: 40001 deadlock, 40XL1 lock timeout,
    * 40XC0 dead statement — rows already applied in the chunk are
    * gone) or the CONNECTION itself died (class 08 — e.g. Derby
    * 08003 "No current connection", seen mid-replay under sf10 load —
    * every further statement on it just cascades). Both need the
    * chunk-level reconnect + whole-chunk replay (idempotent via the
    * scn guard); only statement-severity failures may fall back to
    * the per-row MERGE-free loop. */
  private[graft] def chunkSeverity(e: java.sql.SQLException): Boolean =
    e.isInstanceOf[java.sql.SQLTransactionRollbackException] ||
      e.isInstanceOf[java.sql.SQLNonTransientConnectionException] ||
      e.isInstanceOf[java.sql.SQLTransientConnectionException] ||
      (e.getSQLState != null &&
        (e.getSQLState.startsWith("40") || e.getSQLState.startsWith("08")))

  /** Rows arrive as (key, scn, op, id, cents, typ), one per key. */
  private def applyRows(url: String, table: String, rows: Iterator[Row],
                        noMerge: Boolean): Unit = {
    var conn: Connection = null
    var merge: PreparedStatement = null
    var update: PreparedStatement = null
    var insert: PreparedStatement = null
    var exists: PreparedStatement = null

    // Derby MERGE (SQL:2003): matched rows update only when the incoming
    // scn wins; unmatched rows insert. A delete is the same upsert with
    // deleted = true — the tombstone keeps fencing older events.
    def open(): Unit = {
      conn = getConn(url)
      conn.setAutoCommit(false)
      merge = conn.prepareStatement(
        s"""MERGE INTO $table t USING SYSIBM.SYSDUMMY1 s ON t.k = ?
           |WHEN MATCHED AND t.last_scn <= ? THEN UPDATE SET
           |  id = ?, cents = ?, typ = ?, last_scn = ?, deleted = ?
           |WHEN NOT MATCHED THEN INSERT (k, id, cents, typ, last_scn, deleted)
           |  VALUES (?, ?, ?, ?, ?, ?)""".stripMargin)
      update = conn.prepareStatement(
        s"""UPDATE $table SET id = ?, cents = ?, typ = ?, last_scn = ?, deleted = ?
           |WHERE k = ? AND last_scn <= ?""".stripMargin)
      insert = conn.prepareStatement(
        s"INSERT INTO $table (k, id, cents, typ, last_scn, deleted) VALUES (?, ?, ?, ?, ?, ?)")
      exists = conn.prepareStatement(
        s"SELECT 1 FROM $table WHERE k = ?")
      // Liveness floor: no statement may block a writer task forever.
      // Lock waits already time out (Derby waitTimeout, SQLState 40XL1
      // → chunk-severe → bounded fresh-connection replay); the query
      // timeout converts any OTHER engine stall into a SQLException
      // that lands in the same bounded recovery instead of an
      // unkillable hang (one sf10 run sat 37 min in a silent convoy
      // before being killed externally). 120 s is ~5000× the observed
      // per-statement cost, so it can only fire on a genuine stall.
      Seq(merge, update, insert, exists).foreach { st =>
        try st.setQueryTimeout(120)
        catch { case _: java.sql.SQLException => () } // driver may not support it
      }
    }

    def closeAll(): Unit = {
      Seq(merge, update, insert, exists).foreach { st =>
        if (st != null) try st.close() catch { case _: java.sql.SQLException => () }
      }
      if (conn != null)
        try conn.close() catch { case _: java.sql.SQLException => () }
    }

    // 1 s probe: this is a liveness check feeding a reconnect, not a
    // health SLA — a connection that can't answer in a second gets the
    // same treatment as a dead one (reopen), so the long default
    // timeout only adds latency to the failure path.
    def usable: Boolean =
      try conn.isValid(1) catch { case _: Throwable => false }

    /** The row's stored values (id, cents, typ, last_scn, deleted) as
      * parameters `at`..`at + 4` of `st`. */
    def bindValues(st: PreparedStatement, at: Int, r: Row): Unit = {
      st.setLong(at, if (r.isNullAt(3)) -1L else r.getLong(3))
      st.setLong(at + 1, if (r.isNullAt(4)) -1L else r.getLong(4))
      st.setString(at + 2, if (r.isNullAt(5)) "" else r.getString(5))
      st.setLong(at + 3, r.getLong(1))
      st.setBoolean(at + 4, r.getString(2) == "d")
    }

    def bindMerge(r: Row): Unit = {
      merge.setLong(1, r.getLong(0)); merge.setLong(2, r.getLong(1))
      bindValues(merge, 3, r)
      merge.setLong(8, r.getLong(0))
      bindValues(merge, 9, r)
    }

    // One chunk = one transaction. The batch path is the fast path for
    // any real JDBC target; embedded Derby has an internal defect in
    // batched MERGE at volume (executeLargeBatch NPEs on "_actionRS is
    // null" once partitions carry thousands of rows — first seen at 30x
    // data, deterministic). On that failure the chunk's transaction is
    // rolled back and the SAME buffered rows are replayed one statement
    // at a time — semantically identical (each key appears once per
    // micro-batch after the max_by reduction, so intra-chunk order is
    // immaterial) and idempotent across the rollback boundary via the
    // monotonic-scn guard. Buffering is O(ChunkRows), never the
    // partition.
    //
    // The failure may also have KILLED the connection (Derby internal
    // errors under concurrent 30x load surface as "No current
    // connection" on the next statement; on a networked target this is
    // an ordinary transient drop). Replaying on a dead connection just
    // cascades, so each recovery first checks validity and reopens if
    // needed — safe for the same idempotency reason, and standard
    // JDBC-sink behavior (a sink that dies on one dropped connection
    // isn't a sink). One reconnect per replay attempt, then propagate:
    // a failure that survives a fresh connection is real.
    /** Scn-guarded UPDATE of an existing row (the matched branch MERGE
      * would have taken). */
    def guardedUpdate(r: Row): Int = {
      bindValues(update, 1, r)
      update.setLong(6, r.getLong(0)); update.setLong(7, r.getLong(1))
      update.executeUpdate()
    }

    /** The MERGE-free portable upsert loop: scn-guarded UPDATE first;
      * if it touched nothing, distinguish "row absent" (INSERT, with
      * the 23505 race falling back to the guarded UPDATE) from "guard
      * lost" (a newer scn is stored — nothing to do). Semantically the
      * exact decision table of the MERGE statement, one step at a
      * time, so it can substitute for MERGE on any row where the
      * engine's MERGE implementation itself is the thing failing. */
    def upsertNoMerge(r: Row): Unit = {
      if (guardedUpdate(r) == 0) {
        exists.setLong(1, r.getLong(0))
        val rs = exists.executeQuery()
        val present = try rs.next() finally rs.close()
        if (!present) {
          insert.setLong(1, r.getLong(0))
          bindValues(insert, 2, r)
          try insert.executeUpdate()
          catch {
            case e: java.sql.SQLException if e.getSQLState == "23505" =>
              guardedUpdate(r) // lost the insert race; row exists now
          }
        }
      }
    }

    def replay(chunk: Seq[Row]): Unit = {
      chunk.foreach { r =>
        if (noMerge) upsertNoMerge(r)
        else {
          bindMerge(r)
          try merge.executeUpdate()
          catch {
            // 23505 = duplicate key from the MERGE's not-matched
            // INSERT branch: Derby's not-matched read is not
            // serializable under concurrent load (seen at 30x), so a
            // row can exist by the time the INSERT applies. The row
            // exists NOW, so the scn-guarded UPDATE is exactly the
            // matched branch MERGE would have taken — the standard
            // upsert-on-conflict loop, idempotent via the guard.
            case e: java.sql.SQLException if e.getSQLState == "23505" =>
              guardedUpdate(r)
            // A STATEMENT-severity failure here is Derby's MERGE
            // machinery itself failing on a LIVE connection (third
            // observed mode, sf3: the batch NPE — "_actionRS is null" —
            // recurs on the single-statement MERGE, the connection stays
            // isValid, so the reconnect guard never fires and the task
            // would die). MERGE is the thing that's broken, so stop
            // using it for this row: apply the portable
            // update-then-insert loop, which needs no MERGE support at
            // all. Idempotent via the scn guard like every other
            // recovery path.
            //
            // CHUNK-severity failures (transaction rolled back, or the
            // connection died under the statement) must NOT be
            // absorbed per-row: after a rollback, rows already applied
            // in this chunk are gone — continuing row-by-row and
            // committing the remainder would silently lose them — and
            // on a dead connection the per-row fallback just cascades.
            // Rethrow so applyChunk's recovery replays the WHOLE chunk
            // on a fresh connection (safe: the scn guard makes replays
            // idempotent).
            case e: java.sql.SQLException if !chunkSeverity(e) =>
              upsertNoMerge(r)
          }
        }
      }
      conn.commit()
    }

    def applyChunk(chunk: Seq[Row]): Unit = {
      // Both entry paths run under the same recovery scaffolding below:
      // the forced-noMerge first pass is just as exposed to transient
      // connection drops / transaction rollbacks as the MERGE batch,
      // and recovering it is the same rollback + (reconnect-if-dead)
      // whole-chunk replay, idempotent via the scn guard.
      try {
        if (noMerge) { replay(chunk); return }
        chunk.foreach { r => bindMerge(r); merge.addBatch() }
        merge.executeBatch()
        conn.commit()
      } catch {
        case _: java.sql.SQLException =>
          try conn.rollback() catch { case _: java.sql.SQLException => () }
          // First replay rides the existing connection when the probe
          // says it's alive (cheap), then every further attempt gets a
          // FRESH connection — sf3 showed Derby keeping a connection
          // isValid while its statement machinery is broken
          // mid-transaction, and sf10 showed connections dying again
          // DURING the recovery replay (08003 mid-chunk). Attempts are
          // bounded with a short backoff so Derby's lock manager can
          // settle; every replay is idempotent via the scn guard, and
          // a failure that survives the last fresh connection
          // propagates for real.
          if (!usable) { closeAll(); open() }
          else merge.clearBatch()
          var attempt = 0
          var done = false
          while (!done) {
            try { replay(chunk); done = true }
            catch {
              case e: java.sql.SQLException if attempt < ReplayAttempts =>
                attempt += 1
                try conn.rollback() catch { case _: java.sql.SQLException => () }
                closeAll()
                Thread.sleep(50L << attempt)
                open()
            }
          }
      }
    }

    open()
    try rows.grouped(ChunkRows).foreach(c => applyChunk(c.toSeq))
    finally closeAll()
  }

  /** Read the materialized table back as a DataFrame (via the standard
    * Spark JDBC reader) with the snapshot column names, tombstones
    * hidden. */
  def readBack(spark: org.apache.spark.sql.SparkSession, url: String,
               table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url).option("dbtable", table).load()
      .filter(!col("DELETED"))
      .select(col("K").as("key"), col("ID").as("id"), col("CENTS").as("cents"),
        col("TYP").as("type"), col("LAST_SCN").as("last_scn"))
}
