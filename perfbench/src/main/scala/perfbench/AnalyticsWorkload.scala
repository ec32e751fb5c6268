package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A fixed mix of registry rows run closed loop, in an order set by the
  * seed: each row is a registry call (build) followed by
  * `queryExecution.toRdd.count()` (execute), the same timed unit as
  * `graft.Bench`. Every pass runs every row once. */
final class AnalyticsWorkload(spark: SparkSession, trace: Trace, args: Args) {
  import AnalyticsWorkload._
  private val work = Paths.get(args.work)
  private val dir = work.resolve("tables").toString
  private val queries = SparkEntry.queries
  private val oracles = SparkEntry.oracleSql

  /** The rows, each with the graft module that implements it. */
  private val rows: Seq[(String, String)] = {
    // q_percentiles is only in the full mix: on some generated tables its
    // p90 differs from the DuckDB oracle in the last rounded digit
    val light = Seq(
      "q1_agg" -> "relational", "q_window_rank" -> "relational",
      "q_asof_native" -> "plans",
      "q_pull_lookup" -> "cdc", "cdc_parse" -> "cdc", "cdc_materialize" -> "cdc",
      "dedup_minhash_lsh" -> "dedup", "text_quality" -> "text",
      "mm_phash_pairs" -> "multimodal")
    val heavy = Seq(
      "q_percentiles" -> "relational", "q5_multijoin" -> "relational", "q_sessionize_skew" -> "relational",
      "q_approx_topk" -> "relational", "pipeline_cdc" -> "cdc",
      "dedup_ngram_jaccard" -> "dedup", "dedup_clusters" -> "dedup",
      "dedup_incremental" -> "dedup", "ann_ivfadc" -> "ann", "bpe_encode" -> "text",
      "pipeline_curate_stream" -> "curation")
    args.opt("mix").getOrElse("light") match {
      case "light" => light
      case "full" => light ++ heavy
      case m => sys.error(s"unknown mix $m")
    }
  }

  private def release(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    spark.catalog.clearCache()
  }

  private def execute(row: String, module: String): Exec = {
    val c0 = Trace.codegenCompiles
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    trace.span(module) {
      val df = queries(row)(spark, dir)
      val t1 = System.nanoTime()
      val n = df.queryExecution.toRdd.count()
      val t2 = System.nanoTime()
      val plan = df.queryExecution.tracker.phases.values.map(_.durationMs.toDouble).sum
      Exec(row, module, (t1 - t0) / 1e6, (t2 - t1) / 1e6, plan, Trace.codegenCompiles - c0,
        w0, System.currentTimeMillis(), n)
    }
  }

  def run(result: Result): Unit = {
    // set-up, repeated: install graft's functions and open every table
    result.setup((1 to args.int("setup_reps")).map { _ =>
      val t0 = System.nanoTime()
      graft.functions.Native.install(spark)
      Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings")
        .foreach(t => spark.read.parquet(s"$dir/$t.parquet").schema)
      (System.nanoTime() - t0) / 1e6
    })
    // warm-up passes; the first also writes every row's output for the
    // launcher's oracle check, and later executions must match its row
    // count. A second pass lets the JIT finish the bulk of its compiles
    // before the timed region, which otherwise charges their CPU to
    // however few passes a slow run completes.
    val expected = mutable.HashMap.empty[String, Long]
    val w0 = System.nanoTime()
    rows.foreach { case (row, _) =>
      val out = work.resolve("out").resolve(row).toString
      try {
        queries(row)(spark, dir).coalesce(1).write.mode("overwrite").parquet(out)
        expected(row) = spark.read.parquet(out).count()
      } catch {
        case e: Exception => System.err.println(s"[perfbench] $row failed in warm-up: $e")
      }
      release()
    }
    for (_ <- 2 to args.int("warmup"); (row, _) <- rows if expected.contains(row)) {
      try queries(row)(spark, dir).queryExecution.toRdd.count()
      catch { case e: Exception => System.err.println(s"[perfbench] $row failed in warm-up: $e") }
      release()
    }
    result.warmup((System.nanoTime() - w0) / 1e6)
    result.check("rows_ran_in_warmup", expected.size == rows.size,
      s"${expected.size} of ${rows.size} rows")
    Files.writeString(work.resolve("oracle.json"), rows.map(_._1)
      .flatMap(r => oracles.get(r).map(sql => s"${Json.str(r)}:${Json.str(sql)}"))
      .mkString("{", ",", "}"))

    // timed region: passes in a seeded order until the deadline; a pass
    // always completes, so every row runs equally often and the per-op
    // figures do not depend on which rows a cut-off pass would have held
    Trace.heapPeakReset()
    trace.reset()
    val compiles0 = Trace.codegenCompiles
    val (cpu0, jit0, steal0) = (Trace.processCpuNs, Trace.jitCpuNs, Trace.cpuSteal)
    val execs = mutable.ArrayBuffer.empty[Exec]
    var attempted, failed = 0L
    val deadline = System.nanoTime() + (args.seconds * 1e9).toLong
    var pass = 0
    var timedNs = 0L
    while (pass == 0 || System.nanoTime() < deadline) {
      val order = new scala.util.Random(args.seed * 7919L + pass).shuffle(rows)
      order.foreach { case (row, module) =>
        attempted += 1
        val t0 = System.nanoTime()
        try {
          val e = execute(row, module)
          if (expected.get(row).contains(e.rows)) execs += e
          else {
            failed += 1
            System.err.println(s"[perfbench] $row returned ${e.rows} rows, expected ${expected.get(row)}")
          }
        } catch {
          case e: Exception =>
            failed += 1
            System.err.println(s"[perfbench] $row failed: $e")
        }
        timedNs += System.nanoTime() - t0
        release()
      }
      pass += 1
    }
    val compiles = Trace.codegenCompiles - compiles0
    val cpuNs = Trace.processCpuNs - cpu0
    val jitNs = Trace.jitCpuNs - jit0
    result.environment(cpuNs, jitNs, steal0, Trace.cpuSteal)
    result.metric("cpu_ms_per_op", "ms", (cpuNs - jitNs) / 1e6 / attempted.max(1))
    result.attempt(attempted, failed)
    // passes completed, as successful executions per row
    val passes = execs.size.toDouble / rows.size
    result.info("analytics.passes", passes)

    // one operation kind per row: the typical op time is the geometric
    // mean of the rows' median times, the rate is rows per second of the
    // summed medians
    val perRow = execs.groupBy(_.row).map { case (r, es) => r -> Stats.quantile(es.map(_.ms).toSeq, 0.5) }
    result.metric("throughput_per_s", "1/s", perRow.size / (perRow.values.sum / 1000))
    result.metric("op_ms_p50", "ms", Stats.geomean(perRow.values.toSeq))
    result.metric("lookup_ms_p50", "ms", perRow.getOrElse("q_pull_lookup", Double.NaN))
    result.info("analytics.total_s", perRow.values.sum / 1000)
    perRow.toSeq.sortBy(_._1).foreach { case (r, v) => result.info(s"row.$r.ms", v) }

    if (trace.enabled) {
      trace.drain()
      val self = trace.selfMs()
      rows.map(_._2).distinct.foreach { m =>
        result.layer(s"analytics.$m.ms", "ms", self.getOrElse(m, 0.0) / passes)
      }
      result.layer("analytics.build_ms", "ms", execs.map(_.buildMs).sum / passes)
      result.layer("analytics.execute_ms", "ms", execs.map(_.executeMs).sum / passes)
      // Spark keeps compile times in a sampling histogram: its mean times
      // the exact compile count estimates the compile time
      result.layer("analytics.codegen_ms_est", "ms", compiles * Trace.codegenMeanMs / passes)
      val jobs = trace.jobs.toVector
      execs.groupBy(_.row).toSeq.sortBy(_._1).foreach { case (r, es) =>
        val driver = es.map(e => e.endMs - e.startMs - trace.jobWallMs(e.startMs, e.endMs))
        result.info(s"row.$r.build_ms", es.map(_.buildMs).sum / es.size)
        result.info(s"row.$r.plan_ms", es.map(_.planMs).sum / es.size)
        result.info(s"row.$r.driver_ms", driver.sum.toDouble / es.size)
        result.info(s"row.$r.codegen_compiles", es.map(_.compiles).sum.toDouble / es.size)
        result.info(s"row.$r.jobs", jobs.count { case (_, a, b) =>
          es.exists(e => a >= e.startMs && b <= e.endMs) }.toDouble / es.size)
      }
      trace.opSplit(result, execs.map(e => (e.startMs, e.endMs)).toSeq, execs.map(_.planMs).sum,
        compiles, self.values.sum / (timedNs / 1e6))
    }
  }
}

object AnalyticsWorkload {
  /** One timed execution of one row. */
  final case class Exec(row: String, module: String, buildMs: Double, executeMs: Double,
                        planMs: Double, compiles: Long, startMs: Long, endMs: Long,
                        rows: Long) {
    def ms: Double = buildMs + executeMs
  }
}
