package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // deliberately a default-config session (no AQE, no Kryo, default
    // broadcast threshold): A/B at sf0.1 shows the cluster-oriented
    // GraftSession configs cost ~10% here — AQE's stage-wise
    // materialization and eager broadcasts only pay off at real data
    // sizes on a real cluster.
    // Shuffle partitions default to cores (right at the driver's sf0.1);
    // scale runs override via SPARK_GRAFT_SHUFFLE_PARTITIONS — the same
    // knob a cluster submit sizes to the input (brief: partitions must
    // fit executor memory at the target SF). At 30x data the pair-graph
    // joins put ~1e9 intermediate rows through the shuffle; 32 static
    // partitions made single tasks carry tens of millions of rows.
    val shufflePartitions = sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
      .map(_.toInt).getOrElse(cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up the JVM/codegen and the file-system cache so the first
    // timed query doesn't absorb session startup; loading through
    // Tables also infers each schema under the confs the rows read with
    graft.functions.Native.install(spark)
    val tables = graft.sources.Tables(spark, sfDir)
    Seq[graft.sources.Tables => DataFrame](
        _.lineitem, _.orders, _.documents, _.embeddings, _.events).foreach { t =>
      try t(tables).count()
      catch { case NonFatal(_) => () }
    }
    // SPARK_GRAFT_ONLY=q1_agg,q6_filter_agg restricts the run (local iteration).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // min-of-N per query: a single-shot timing cannot distinguish a
    // real regression from transient JVM/GC interference (round 2 saw a
    // 7x one-off on an untouched query). The min is the least-noisy
    // estimator of the plan's true cost.
    val iters = sys.env.getOrElse("SPARK_GRAFT_ITERS", "2").toInt.max(1)
    // classes Janino compiled per row, over all its iterations (a
    // codegen-cache thrash shows as a row that recompiles every time)
    val compiles = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val times = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        // toRdd.count() forces every output column to be evaluated;
        // df.count() would let Catalyst prune the computed columns and
        // under-report map-heavy queries.
        val ok =
          try { fn(spark, sfDir).queryExecution.toRdd.count(); true }
          catch { case t: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${t.toString.take(300)}")
            false }
        if (ok) Some((System.nanoTime() - t0) / 1e9) else None
      }
      compiles(name) = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      // a failed iteration must NOT yield a normal-looking elapsed time
      // — time-to-failure is indistinguishable from a fast success in
      // the emitted JSON. Any failure marks the row with sentinel -1.0
      // (impossible as a real duration) so downstream BENCH readers
      // can't mistake a broken row for a fast one.
      //
      // Between rows, drop every still-persisted RDD (localCheckpoint
      // pins from the finished row's internals — kmeans stages, lake
      // merges). Rows are independent, so this is always safe here; a
      // real deployment runs one query per driver and never sees the
      // accumulation, but 123 heterogeneous rows in one JVM pinned
      // enough storage (un-evictable below spark.memory.storageFraction)
      // to starve execution at 30x data and cascade-fail the remainder
      // of the run. Outside the timed region by construction.
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      // Also drop SQL-level cache entries and force a GC. Spark's
      // ContextCleaner frees dereferenced shuffle files and broadcasts
      // only when the JVM collects their handles, and tenured garbage
      // from prior rows (Derby page caches, streaming state stores,
      // codec buffers) otherwise surfaces as GC pauses INSIDE later
      // rows' timed regions: the round-11 sf10 chain read
      // cdc_stream_dedup at 237 s late in the run vs 27 s isolated on
      // the same corpus — same plan, same data, different JVM history.
      // JMH-style forced GC between iterations, outside the timed
      // region; rows are independent (a deployment runs one query per
      // driver), so measuring each row against a quiesced heap is the
      // honest per-row estimate.
      spark.catalog.clearCache()
      System.gc()
      name -> (if (times.exists(_.isEmpty)) -1.0 else times.flatten.min)
    }
    val failed = results.filter(_._2 < 0).map(_._1)
    val total = results.map(_._2).filter(_ >= 0).sum
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    // Full per-query detail goes to a file (committed per round); the
    // stdout line keeps only the slowest 30 so the whole line stays well
    // under the driver's 2000-char output tail — rounds 1-3 printed all
    // queries at full precision and the driver never managed to parse it.
    val detail = results.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val compilesJson = compiles.map { case (k, n) => s"\"$k\":$n" }.mkString("{", ",", "}")
    val detailJson =
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$detail,"failed":$failedJson,"iters":$iters,"sf":"$sfDir","compiles":$compilesJson}"""
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL", "BENCH_DETAIL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath), detailJson + "\n")
    catch { case _: Throwable => () }
    // STABLE stdout roster (round-18, additions-only): the old
    // top-30-by-time selection churned round over round — 8 phantom
    // "dropped"/"new" rows in the r17 PERF diff were pure roster
    // rotation on 2–3 s rows, costing adjudication time every round.
    // Pin the round-17 printed set (so every row the driver compared
    // last round stays comparable forever) and ADD any current top-10
    // row not already pinned (so a genuinely slow new row still
    // surfaces). Entries are only ever added, never removed or
    // renamed; the full registry remains in BENCH_DETAIL.
    val pinnedRoster: Set[String] = Set(
      "ann_incremental", "ann_ivf_pq_res", "ann_ivfadc",
      "ann_ivfpq_opq_res", "ann_ivfpq_rvopq_res", "ann_recall_ivfadc",
      "ann_recall_ivfpq_opq_res", "ann_recall_ivfpq_res",
      "ann_recall_ivfpq_rvopq_res", "bpe_encode", "cdc_avro_evolve",
      "cdc_avro_roundtrip", "cdc_stream_dedup_wm", "cdc_stream_route",
      "cdc_unwrap", "cdc_upsert_sink", "dedup_blocking_recall",
      "dedup_clusters", "dedup_incremental", "dedup_minhash_quality",
      "dedup_ngram_jaccard", "dedup_spans_cut", "pipeline_cdc",
      "pipeline_cdc_stream", "pipeline_curate", "pipeline_curate_clf",
      "pipeline_curate_stream", "q5_multijoin", "q_approx_percentile",
      "q_approx_topk")
    val top10 = results.sortBy(-_._2).take(10).map(_._1).toSet
    val top = results
      .filter { case (k, _) => pinnedRoster.contains(k) || top10.contains(k) }
      .sortBy(_._1)
      .map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    val sfName = new java.io.File(sfDir).getName
    spark.stop()
    // printed LAST (after spark.stop) so no Spark WARN line can land
    // between this and the end of the driver's captured tail
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$top,"failed":$failedJson,"iters":$iters,"sf":"$sfName"}""")
  }
}
