package graft

import graft.cdc.{ChangelogAgg, Router}
import graft.sinks.ParquetUpsert
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The full streaming pipeline (parse once -> route -> per-table
  * lake upsert + maintained aggregate) — the cross-batch contracts the
  * DuckDB oracle can't see: incremental maintenance across controlled
  * micro-batches (group-moving updates, deletes, a table appearing
  * mid-stream), lake/aggregate consistency, and the single parse. */
class PipelineSpec extends SparkSpec {

  /** One routed OLR-style JSON event (the wire shape Router parses). */
  private def ev(scn: Long, op: String, tbl: String, key: Long,
                 cents: Long, typ: String): String = {
    val field = if (op == "d") "before" else "after"
    s"""{"scn":$scn,"tm":$scn,"xid":"$key.$scn","op":"$op",""" +
      s""""owner":"GRAFT","table":"$tbl","key":$key,""" +
      s""""$field":{"id":$key,"cents":$cents,"type":"$typ"}}"""
  }

  private def slice(parsed: DataFrame): DataFrame =
    parsed.select(col("tbl"), col("key"), col("scn"), col("xid"), col("op"),
      when(col("op") === "d", col("before.id")).otherwise(col("after.id")).as("id"),
      when(col("op") === "d", col("before.cents")).otherwise(col("after.cents")).as("cents"),
      when(col("op") === "d", col("before.type")).otherwise(col("after.type")).as("typ"))

  test("cross-batch maintenance: group move, delete, and mid-stream table discovery") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val routed = slice(Router.parseRouted(in.toDF(), col("value")))
    val lakeRoot = tempDir("graft_pipe_spec_lake")
    val aggRoot = tempDir("graft_pipe_spec_agg")
    val q = routed.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Router.foreachTableSlice(batch, parallelism = 4) { (t, s) =>
          val delta = ParquetUpsert.applyBatchWithDeltas(s, s"$lakeRoot/$t")
          ChangelogAgg.mergeDeltaTable(delta, s"$aggRoot/$t")
        }
      }
      .start()
    def agg(t: String): Set[(String, Long, Long)] =
      spark.read.parquet(s"$aggRoot/$t").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    try {
      in.addData(ev(1, "c", "ORDERS", 1, 100, "A"),
        ev(2, "c", "ORDERS", 2, 50, "A"),
        ev(3, "c", "CUSTOMERS", 1, 10, "B"))
      q.processAllAvailable()
      assert(agg("ORDERS") == Set(("A", 150L, 2L)))
      assert(agg("CUSTOMERS") == Set(("B", 10L, 1L)))

      // batch 2: an update that MOVES key 1 between groups (A -> B), a
      // delete, an unrelated insert, and a brand-new table
      in.addData(ev(4, "u", "ORDERS", 1, 70, "B"),
        ev(5, "d", "ORDERS", 2, 50, "A"),
        ev(6, "c", "CUSTOMERS", 3, 5, "B"),
        ev(7, "c", "PRODUCTS", 9, 1, "C"))
      q.processAllAvailable()
    } finally q.stop()

    // group A telescoped to exactly (0, 0) — retained so a re-insert
    // resumes correctly; readers filter d_rows > 0
    assert(agg("ORDERS") == Set(("A", 0L, 0L), ("B", 70L, 1L)))
    assert(agg("CUSTOMERS") == Set(("B", 15L, 2L)))
    assert(agg("PRODUCTS") == Set(("C", 1L, 1L)),
      "a table first seen mid-stream must create BOTH its lake and agg targets")

    // the lake agrees with the aggregate it fed: key 1 moved, key 2 gone
    val k1 = ParquetUpsert.pointLookup(spark, s"$lakeRoot/ORDERS", 1L)
      .select("cents", "typ").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(k1.toSeq == Seq((70L, "B")))
    assert(ParquetUpsert.pointLookup(spark, s"$lakeRoot/ORDERS", 2L).collect().isEmpty)
  }

  test("streamed curation equals one-shot curation (gates + decon + index in a single batch)") {
    import graft.functions.Portable._
    val viaStream = SparkEntry.queries("pipeline_curate_stream")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val gated = graft.sources.Tables(spark, sfDir).documents
      .withColumn("words", expr(words("text")))
      .withColumn("n_words", expr("size(words)"))
      .filter(col("n_words") >= 5)
      .filter(expr("regexp_count(text, '[^A-Za-z0-9 ]') * 10 <= length(text) * 3"))
      .filter(expr("size(array_distinct(words)) * 10 >= n_words * 3"))
      .select("doc_id", "text", "lang", "n_words")
    // fuzzy decontamination (round 12), recomputed from scratch: drop
    // gated docs whose band-collision est-Jaccard vs any benchmark doc
    // (every 20th of the SOURCE table, >= 3 words) reaches 0.5
    val bsig = graft.sources.Tables(spark, sfDir).documents
      .filter(col("doc_id") % 20 === 0)
      .withColumn("words", expr(words("text")))
      .filter(expr("size(words) >= 3"))
      .withColumn("bhashes", expr(shingleHashes("words")))
      .select(col("doc_id").as("b_id"), expr(minhashSig("bhashes")).as("bsig"))
    val csig = gated
      .withColumn("chashes", expr(shingleHashes(words("text"))))
      .select(col("doc_id"), expr(minhashSig("chashes")).as("sig"))
    val cont = csig
      .select(col("doc_id"), col("sig"), explode(expr(minhashBands("sig"))).as("bk"))
      .join(bsig.select(col("b_id"), col("bsig"),
        explode(expr(minhashBands("bsig"))).as("bk")), "bk")
      .filter(expr(minhashEstJaccard("sig", "bsig")) >= 0.5)
      .select("doc_id").distinct()
    val gated2 = gated.join(cont, Seq("doc_id"), "left_anti")
    val root = tempDir("graft_curate_oneshot")
    graft.operators.IncrementalDedup.applyBatch(gated2.select("doc_id", "text"), root)
    val oneShot = graft.operators.IncrementalDedup.accepted(spark, gated2, root)
      .join(gated2, "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words").cast("long")).as("sum_words"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("lang")
      .collect().map(_.toSeq).toSeq
    assert(viaStream.nonEmpty && viaStream == oneShot)
    // the gate is real on this corpus: something must actually be dropped
    assert(cont.count() > 0, "decon gate dropped nothing at spec SF")
  }

  test("the pipeline stream parses the feed exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[String]
    val routed = slice(Router.parseRouted(in.toDF(), col("value")))
    val n = "from_json".r.findAllIn(routed.queryExecution.analyzed.toString).size
    assert(n == 1, s"expected ONE from_json upstream of the fan-out, found $n")
  }

  test("deltas telescope: summed per-batch deltas equal the final snapshot aggregate") {
    // drive the SAME events through (a) two applyBatchWithDeltas calls
    // with an adversarial split (the key updated in batch 1 is updated
    // again in batch 2) and (b) one batch — summed deltas must agree,
    // and both must equal the live lake state aggregated from scratch
    import spark.implicits._
    def mk(rows: Seq[(Long, Long, String, Long, String)]): DataFrame =
      rows.map { case (key, scn, op, cents, typ) =>
        (key, scn, s"$key.$scn", op, key, cents, typ)
      }.toDF("key", "scn", "xid", "op", "id", "cents", "typ")
    val b1 = mk(Seq((1L, 1L, "c", 100L, "A"), (2L, 2L, "c", 40L, "A"),
      (3L, 3L, "c", 7L, "B")))
    val b2 = mk(Seq((1L, 4L, "u", 60L, "B"), (2L, 5L, "d", 40L, "A"),
      (4L, 6L, "c", 9L, "B")))

    val split = tempDir("graft_tel_split")
    val d1 = ParquetUpsert.applyBatchWithDeltas(b1, split)
    val d2 = ParquetUpsert.applyBatchWithDeltas(b2, split)
    val summed = d1.unionByName(d2).groupBy("type")
      .agg(sum("d_cents").as("c"), sum("d_rows").as("n"))
      .filter(col("n") > 0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    val whole = tempDir("graft_tel_whole")
    val dAll = ParquetUpsert.applyBatchWithDeltas(b1.unionByName(b2), whole)
    val once = dAll.groupBy("type")
      .agg(sum("d_cents").as("c"), sum("d_rows").as("n"))
      .filter(col("n") > 0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    val fromLake = spark.read.parquet(split).filter(col("op") =!= "d")
      .groupBy(col("typ").as("type"))
      .agg(sum("cents").as("c"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    assert(summed == Set(("B", 76L, 3L)))
    assert(once == summed, "delta sums must be independent of the batch split")
    assert(fromLake == summed, "deltas must telescope to the lake's live state")
  }

  /** Stage the sf feed as two parquet files and return their paths —
    * the raw material for controlled stop/restart runs. */
  private def stageTwoFiles(df: DataFrame, prefix: String): (String, Seq[java.nio.file.Path]) = {
    val all = tempDir(prefix) + "/all"
    df.repartition(2).write.mode("overwrite").parquet(all)
    val parts = graft.sources.Formats
      .listDir(java.nio.file.Paths.get(all))
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.toString)
    assert(parts.size == 2, s"expected 2 staged files, got ${parts.size}")
    (all, parts)
  }

  private def copyIn(feedDir: String, part: java.nio.file.Path, name: String): Unit =
    Files.copy(part, java.nio.file.Paths.get(feedDir).resolve(name))

  test("pipeline_cdc_stream: kill/restart on a durable checkpoint equals the uninterrupted run") {
    // the reference's deployed pipeline survives connector restarts on
    // durable offsets (README.md "Verification"); prove the composed
    // topology does too: batch 1, STOP, restart from the checkpoint,
    // batch 2 — final aggregate tables must equal a never-stopped run,
    // and the restarted query must NOT reprocess batch 1's file
    val (_, parts) = stageTwoFiles(
      Router.routedFeed(spark, sfDir).select("json"), "graft_restart_feed")
    val feedDir = tempDir("graft_restart_in")
    val lake = tempDir("graft_restart_lake")
    val agg = tempDir("graft_restart_agg")
    val ckpt = tempDir("graft_restart_ckpt")

    copyIn(feedDir, parts(0), "f0.parquet")
    val q1 = graft.streaming.Streams
      .startCdcTopology(spark, feedDir, lake, agg, Some(ckpt))
    try q1.processAllAvailable() finally q1.stop()

    copyIn(feedDir, parts(1), "f1.parquet")
    val q2 = graft.streaming.Streams
      .startCdcTopology(spark, feedDir, lake, agg, Some(ckpt))
    try q2.processAllAvailable() finally q2.stop()
    val restarted = graft.streaming.Streams.cdcTopologyResult(spark, agg)
      .collect().map(_.toSeq).toSeq
    // offset durability: the restarted query consumed ONLY the new file
    val replayed = q2.recentProgress.map(_.numInputRows).sum
    val batch2Rows = spark.read.parquet(parts(1).toString).count()
    assert(replayed == batch2Rows,
      s"restart must resume after batch 1: reprocessed $replayed rows, " +
        s"batch 2 alone is $batch2Rows")

    val lakeU = tempDir("graft_restart_lake_u")
    val aggU = tempDir("graft_restart_agg_u")
    val qU = graft.streaming.Streams
      .startCdcTopology(spark, feedDir, lakeU, aggU)
    try qU.processAllAvailable() finally qU.stop()
    val uninterrupted = graft.streaming.Streams.cdcTopologyResult(spark, aggU)
      .collect().map(_.toSeq).toSeq
    assert(restarted.nonEmpty && restarted == uninterrupted)
  }

  test("pipeline_curate_stream: kill/restart on a durable checkpoint equals the uninterrupted run") {
    val (_, parts) = stageTwoFiles(
      graft.sources.Tables(spark, sfDir).documents
        .select("doc_id", "text", "lang"), "graft_restart_docs")
    val feedDir = tempDir("graft_restart_din")
    val index = tempDir("graft_restart_idx")
    val curated = tempDir("graft_restart_cur") + "/rows"
    val ckpt = tempDir("graft_restart_cckpt")

    copyIn(feedDir, parts(0), "d0.parquet")
    val q1 = graft.operators.Curation
      .startCurateTopology(spark, feedDir, index, curated, Some(ckpt))
    try q1.processAllAvailable() finally q1.stop()

    copyIn(feedDir, parts(1), "d1.parquet")
    val q2 = graft.operators.Curation
      .startCurateTopology(spark, feedDir, index, curated, Some(ckpt))
    try q2.processAllAvailable() finally q2.stop()
    val restarted = graft.operators.Curation
      .curateTopologyResult(spark, index, curated)
      .collect().map(_.toSeq).toSeq
    val replayed = q2.recentProgress.map(_.numInputRows).sum
    val batch2Rows = spark.read.parquet(parts(1).toString).count()
    assert(replayed == batch2Rows,
      s"restart must resume after batch 1: reprocessed $replayed rows")

    val indexU = tempDir("graft_restart_idx_u")
    val curatedU = tempDir("graft_restart_cur_u") + "/rows"
    val qU = graft.operators.Curation
      .startCurateTopology(spark, feedDir, indexU, curatedU)
    try qU.processAllAvailable() finally qU.stop()
    val uninterrupted = graft.operators.Curation
      .curateTopologyResult(spark, indexU, curatedU)
      .collect().map(_.toSeq).toSeq
    assert(restarted.nonEmpty && restarted == uninterrupted)
  }
}
