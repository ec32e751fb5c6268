package perfbench

import graft.cdc.Cdc
import graft.sinks.{JdbcUpsert, ParquetUpsert}
import graft.sources.KafkaWire
import graft.streaming.{ChangeRow, Streams}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The reference CDC topology as a closed loop over a staged backlog:
  *
  *   wire files -> envelope dedup (dropDuplicatesWithinWatermark on
  *   partition, offset) -> KafkaWire.parse -> Streams.materializeStream
  *   -> foreachBatch { persist; ParquetUpsert.applyBatch;
  *      JdbcUpsert.applyBatch; ParquetUpsert.pointLookupMany(16 keys) }
  *
  * The driver stages one backlog file into the watched directory, waits
  * until its micro-batch commits, and only then stages the next, so
  * each micro-batch holds exactly one file and the run stops on a batch
  * boundary. */
final class CdcWorkload(spark: SparkSession, trace: Trace, args: Args) {
  import spark.implicits._
  import CdcWorkload._

  private val work = Paths.get(args.work)
  private val feed = work.resolve("feed")
  /** (file name, delivered events, redeliveries) in backlog order. */
  private val manifest: Vector[(String, Long, Long)] =
    Files.readAllLines(work.resolve("manifest.tsv")).asScala.toVector
      .map(_.split('\t')).map(a => (a(0), a(1).toLong, a(2).toLong))
  private val keySpace = args.int("keys")
  private val lookupKeys = 16

  /** One set-up pipeline: its own source directory, lake table, Derby
    * database, checkpoint and running query. */
  final class Pipeline(tag: String) {
    val src: Path = Files.createDirectories(work.resolve(s"src-$tag"))
    val lake: String = work.resolve(s"lake-$tag").toString
    val db = s"perfbench_$tag"
    val url = s"${graft.sinks.SerialDriver.Prefix}jdbc:derby:memory:$db;create=true"
    val stats = new java.util.concurrent.ConcurrentLinkedQueue[BatchStat]()
    var staged = 0
    JdbcUpsert.ensureTable(url, "snapshot")

    val query: StreamingQuery = {
      val wire = spark.readStream.schema(KafkaWire.wireSchema)
        .option("maxFilesPerTrigger", 1).parquet(src.toString)
      val deduped = wire
        .withWatermark("timestamp", s"${args.int("watermark_delay_s")} seconds")
        .dropDuplicatesWithinWatermark("partition", "offset")
      val parsed = KafkaWire.parse(deduped)
        .select(col("key"), col("scn"), col("xid"), col("op"),
          when(col("op") === "d", col("before.id")).otherwise(col("after.id")).as("id"),
          when(col("op") === "d", col("before.cents")).otherwise(col("after.cents")).as("cents"),
          when(col("op") === "d", col("before.type")).otherwise(col("after.type")).as("typ"))
        .as[ChangeRow]
      // the materialization's update stream in the sinks' change-row
      // shape: a tombstone emission becomes a delete at its scn
      val changes = Streams.materializeStream(parsed).toDF()
        .select(col("key"), col("last_scn").as("scn"), lit("").as("xid"),
          when(col("deleted"), lit("d")).otherwise(lit("u")).as("op"),
          col("id"), col("cents"), col("type").as("typ"))
      changes.writeStream
        .option("checkpointLocation", work.resolve(s"ckpt-$tag").toString)
        .outputMode("update")
        .foreachBatch((b: DataFrame, id: Long) => applyBatch(b, id))
        .start()
    }

    private def applyBatch(b: DataFrame, id: Long): Unit = {
      val t0 = System.nanoTime()
      val before = if (trace.enabled) lakeFiles(lake) else Map.empty[String, Long]
      val p = b.persist(StorageLevel.MEMORY_AND_DISK)
      val rows = trace.span("upstream")(p.count())
      trace.span("parquet")(ParquetUpsert.applyBatch(p, lake))
      trace.span("jdbc")(JdbcUpsert.applyBatch(p, url, "snapshot"))
      val rnd = new scala.util.Random(args.seed * 1000003L + id)
      val keys = Seq.fill(lookupKeys)(rnd.nextInt(keySpace).toLong)
      val l0 = System.nanoTime()
      trace.span("lookup")(ParquetUpsert.pointLookupMany(b.sparkSession, lake, keys).collect())
      val l1 = System.nanoTime()
      p.unpersist(false)
      val written =
        if (trace.enabled) lakeFiles(lake).filter { case (f, _) => !before.contains(f) }.values.sum
        else 0L
      stats.add(BatchStat(id, rows, (System.nanoTime() - t0) / 1e6, (l1 - l0) / 1e6, written))
    }

    /** Stage the next backlog file and block until its batch commits. */
    def step(): Unit = {
      val name = manifest(staged)._1
      Files.createLink(src.resolve(name), feed.resolve(name))
      staged += 1
      query.processAllAvailable()
    }

    def stop(): Unit = query.stop()

    def dropDb(): Unit =
      try java.sql.DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true").close()
      catch { case _: java.sql.SQLException => () } // a successful drop reports 08006
  }

  private def lakeFiles(lake: String): Map[String, Long] = {
    val root = Paths.get(lake)
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => p.toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  /** Progress entries of batches that consumed input, by batch id. */
  private def progressOf(q: StreamingQuery): Map[Long, StreamingQueryProgress] =
    q.recentProgress.filter(_.numInputRows > 0).map(p => p.batchId -> p).toMap

  def run(result: Result): Unit = {
    val warmup = args.int("warmup")
    require(manifest.size > warmup, "backlog shorter than the warm-up")
    // set-up, repeated: a fresh pipeline (sinks, checkpoint, running
    // query); the last one is warmed up and goes on into the timed region
    var live: Pipeline = null
    result.setup((1 to args.int("setup_reps")).map { r =>
      if (live != null) { live.stop(); live.dropDb() }
      val t0 = System.nanoTime()
      live = new Pipeline(s"r$r")
      (System.nanoTime() - t0) / 1e6
    })
    val w0 = System.nanoTime()
    (1 to warmup).foreach(_ => live.step())
    result.warmup((System.nanoTime() - w0) / 1e6)

    // timed region: closed loop, one staged file per micro-batch
    Trace.heapPeakReset()
    trace.reset()
    val compiles0 = Trace.codegenCompiles
    val (cpu0, jit0, steal0) = (Trace.processCpuNs, Trace.jitCpuNs, Trace.cpuSteal)
    val firstTimed = live.staged
    val lastWarmId = live.stats.asScala.map(_.id).max
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    val t0 = System.nanoTime()
    var failedBatches = 0
    val cycleS = mutable.ArrayBuffer.empty[Double]
    val cpuMs = mutable.ArrayBuffer.empty[(Double, Double)]
    try {
      while (System.nanoTime() < deadline && live.staged < manifest.size) {
        val c0 = System.nanoTime()
        val (p0, j0) = (Trace.processCpuNs, Trace.jitCpuNs)
        live.step()
        cycleS += (System.nanoTime() - c0) / 1e9
        cpuMs += (((Trace.processCpuNs - p0) / 1e6, (Trace.jitCpuNs - j0) / 1e6))
      }
    } catch {
      case e: Exception =>
        failedBatches += 1
        System.err.println(s"[perfbench] micro-batch failed: $e")
    }
    val drainS = (System.nanoTime() - t0) / 1e9
    val compiles = Trace.codegenCompiles - compiles0
    val cpuNs = Trace.processCpuNs - cpu0
    val jitNs = Trace.jitCpuNs - jit0
    result.environment(cpuNs, jitNs, steal0, Trace.cpuSteal)
    val timedFiles = manifest.slice(firstTimed, live.staged)
    result.metric("cpu_ms_per_op", "ms", (cpuNs - jitNs) / 1e6 / timedFiles.size.max(1))
    if (live.staged == manifest.size && System.nanoTime() < deadline)
      System.err.println("[perfbench] backlog exhausted before the deadline")

    val progress = progressOf(live.query)
    val timedStats = live.stats.asScala.toVector.sortBy(_.id).filter(_.id > lastWarmId)
    val timedProgress = timedStats.flatMap(s => progress.get(s.id))
    val batchMs = timedProgress.map(_.batchDuration.toDouble)
    val events = timedFiles.map(_._2).sum
    result.attempt(timedFiles.size + failedBatches, failedBatches)
    // the median of the per-batch rates (events ÷ stage-to-commit time)
    // rides out a short stall better than events ÷ drain time
    result.metric("throughput_per_s", "1/s",
      Stats.quantile(timedFiles.zip(cycleS).map { case (f, c) => f._2 / c }, 0.5))
    result.info("cdc.events_per_drain_s", events / drainS)
    result.metric("op_ms_p50", "ms", Stats.quantile(batchMs, 0.5))
    result.metric("lookup_ms_p50", "ms", Stats.quantile(timedStats.map(_.lookupMs), 0.5))
    result.info("cdc.batch_ms_p75", Stats.quantile(batchMs, 0.75))
    System.err.println(s"[perfbench] timed batch ms: ${batchMs.map(_.toLong).mkString(" ")}")
    System.err.println(s"[perfbench] timed batch cpu ms: ${cpuMs.map(_._1.toLong).mkString(" ")}")
    System.err.println(s"[perfbench] timed batch jit ms: ${cpuMs.map(_._2.toLong).mkString(" ")}")
    result.info("cdc.timed_batches", timedFiles.size.toDouble)
    result.info("cdc.timed_events", events.toDouble)

    val consumed = manifest.take(live.staged)
    // drops counted by the dedup state operator over every batch the
    // live pipeline ran (its whole history is in recentProgress)
    val allProgress = live.query.recentProgress.toVector
    val dropped = allProgress.map(droppedBy).sum
    live.stop()

    if (trace.enabled) {
      val coverage = layers(result, timedStats, timedProgress, allProgress, timedFiles, live.lake)
      val ops = timedProgress.map { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        (start, start + p.batchDuration)
      }
      trace.opSplit(result, ops, timedProgress.map(_.durationMs.get("queryPlanning").toDouble).sum,
        compiles, coverage)
    }
    val c0 = System.nanoTime()
    checks(result, live, consumed, dropped, allProgress.size)
    result.info("checks_s", (System.nanoTime() - c0) / 1e9)
  }

  /** Rows the envelope-dedup operator dropped in one batch: duplicates
    * found in its state plus rows behind the watermark. */
  private def droppedBy(p: StreamingQueryProgress): Long =
    p.stateOperators.find(_.operatorName.startsWith("dedupe")).map { o =>
      Option(o.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L) +
        o.numRowsDroppedByWatermark
    }.getOrElse(0L)

  /** The CDC layer table of a traced run; returns the share of the
    * timed batches' duration that the layers' self times cover. */
  private def layers(result: Result, stats: Vector[BatchStat],
                     progress: Vector[StreamingQueryProgress],
                     all: Vector[StreamingQueryProgress],
                     files: Vector[(String, Long, Long)], lake: String): Double = {
    trace.drain()
    val n = progress.size.max(1).toDouble
    def phase(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    val trigger = phase("triggerExecution")
    val addBatch = phase("addBatch")
    val body = stats.map(_.bodyMs)
    result.layer("streaming.trigger_overhead_ms", "ms", trigger.zip(addBatch).map { case (a, b) => a - b }.sum / n)
    result.layer("streaming.query_planning_ms", "ms", phase("queryPlanning").sum / n)
    result.layer("streaming.wal_commit_ms", "ms", (phase("walCommit").sum + phase("commitOffsets").sum) / n)
    result.layer("streaming.latest_offset_ms", "ms", phase("latestOffset").sum / n)
    result.layer("sources.input_rows", "count", progress.map(_.numInputRows.toDouble).sum)

    def stateOp(prefix: String) = progress.flatMap(_.stateOperators.find(_.operatorName.startsWith(prefix)))
    for ((name, prefix) <- Seq("dedup" -> "dedupe", "materialize" -> "flatMapGroupsWithState")) {
      val ops = stateOp(prefix)
      result.layer(s"state.$name.rows", "count", ops.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0))
      result.layer(s"state.$name.bytes", "bytes", ops.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0))
      result.layer(s"state.$name.commit_ms", "ms", ops.map(_.commitTimeMs.toDouble).sum / n)
    }
    val redeliveries = manifest.take(all.count(_.numInputRows > 0)).map(_._3).sum
    result.layer("state.dedup.drop_ratio", "ratio", all.map(droppedBy).sum.toDouble / redeliveries.max(1))

    // per-layer self time per timed batch: the spans inside foreachBatch
    // (recorded since the trace was reset at the start of the timed
    // region), and the engine's own phases around the sink call
    val self = trace.selfMs()
    val sinkLayers = Seq("upstream", "parquet", "jdbc", "lookup")
    val perBatch = sinkLayers.map(l => l -> self.getOrElse(l, 0.0) / n) :+
      ("streaming" -> (Seq("latestOffset", "queryPlanning", "walCommit", "commitOffsets", "getBatch")
        .map(k => phase(k).sum).sum + addBatch.sum - body.sum) / n)
    val per = perBatch.toMap
    result.layer("streaming.engine_ms", "ms", per("streaming"))
    result.layer("streaming.upstream_ms", "ms", per("upstream"))
    result.layer("sinks.parquet.apply_ms", "ms", per("parquet"))
    result.layer("sinks.jdbc.apply_ms", "ms", per("jdbc"))
    result.layer("sinks.lookup_ms", "ms", per("lookup"))
    result.layer("sinks.jdbc.rows", "count", stats.map(_.rows.toDouble).sum)
    val inBytes = files.map(f => Files.size(feed.resolve(f._1))).sum
    result.layer("sinks.parquet.write_amp", "ratio", stats.map(_.newLakeBytes).sum.toDouble / inBytes.max(1))
    result.layer("sinks.parquet.files", "count", lakeFiles(lake).size.toDouble)
    for (l <- sinkLayers) {
      val t = trace.totals(l)
      result.layer(s"spark.$l.jobs", "count", t.jobs / n)
      result.layer(s"spark.$l.tasks", "count", t.tasks / n)
      result.layer(s"spark.$l.task_cpu_ms", "ms", t.taskCpuMs / n)
      result.layer(s"spark.$l.gc_ms", "ms", t.gcMs / n)
      result.layer(s"spark.$l.shuffle_bytes", "bytes", t.shuffleBytes / n)
    }
    perBatch.map(_._2).sum / (trigger.sum / n)
  }

  /** Output checks, outside the timed region. */
  private def checks(result: Result, live: Pipeline, consumed: Vector[(String, Long, Long)],
                     dropped: Long, batches: Int): Unit = {
    // the snapshot tables are small (at most one row per key), so they
    // are compared as sets on the driver
    def rows(df: DataFrame, typ: String, scn: String): Set[(Long, Long, Long, String, Long)] =
      df.select(col("key"), col("id"), col("cents"), col(typ), col(scn)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))).toSet
    val wire = spark.read.schema(KafkaWire.wireSchema)
      .parquet(consumed.map(f => feed.resolve(f._1).toString): _*)
    val expected = rows(Cdc.materialize(Cdc.dedup(KafkaWire.parse(wire))), "type", "last_scn")
    val lake = rows(spark.read.parquet(live.lake).filter(col("op") =!= "d"), "typ", "scn")
    result.check("lake_equals_materialize", lake == expected,
      s"${lake.size} lake rows vs ${expected.size} expected")
    val jdbc = rows(JdbcUpsert.readBack(spark, live.url, "snapshot"), "type", "last_scn")
    result.check("jdbc_equals_materialize", jdbc == expected, s"${jdbc.size} jdbc rows")
    val redeliveries = consumed.map(_._3).sum
    result.check("dropped_equals_redeliveries", dropped == redeliveries,
      s"dropped $dropped of $redeliveries redeliveries over $batches batches")
    val rnd = new scala.util.Random(args.seed)
    val keys = Seq.fill(256)(rnd.nextInt(keySpace).toLong).toSet
    val got = rows(ParquetUpsert.pointLookupMany(spark, live.lake, keys.toSeq), "typ", "scn")
    val want = expected.filter(r => keys.contains(r._1))
    result.check("lookup_matches_snapshot", got == want, s"${want.size} live keys of ${keys.size} probed")
    live.dropDb()
  }
}

object CdcWorkload {
  /** Per-batch measurements taken inside foreachBatch. */
  final case class BatchStat(id: Long, rows: Long, bodyMs: Double,
                             lookupMs: Double, newLakeBytes: Long)
}
