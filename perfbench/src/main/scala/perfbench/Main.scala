package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** `--name value` pairs from the command line. */
final class Args(argv: Array[String]) {
  private val kv: Map[String, String] =
    argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
  def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
  def int(k: String): Int = apply(k).toInt
  def opt(k: String): Option[String] = kv.get(k)
  val workload: String = apply("workload")
  val work: String = apply("work")
  val seed: Long = apply("seed").toLong
  val seconds: Double = apply("seconds").toDouble
  val traced: Boolean = apply("trace") == "1"
  val cores: Int = int("cores")
}

/** What one run reports: metrics, per-layer numbers, op counts and the
  * outcome of each output check. Written as JSON for the launcher. */
final class Result {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val infos = mutable.LinkedHashMap.empty[String, Double]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private var attempted = 0L
  private var failed = 0L

  def metric(name: String, unit: String, v: Double): Unit = metrics(name) = (v, unit)
  def layer(name: String, unit: String, v: Double): Unit = layers(name) = (v, unit)
  def info(name: String, v: Double): Unit = infos(name) = v
  def attempt(n: Long, f: Long): Unit = { attempted += n; failed += f }

  /** An output check: one attempted operation, failed when it does not hold. */
  def check(name: String, ok: => Boolean, detail: => String): Unit = {
    val (pass, d) =
      try (ok, detail)
      catch { case e: Exception => (false, s"check threw: $e") }
    checks += ((name, pass, d))
    attempt(1, if (pass) 0 else 1)
    System.err.println(s"[perfbench] check $name: ${if (pass) "ok" else "FAILED"} ($d)")
  }

  /** Set-up repetitions (ms); their median is part of the set-up time. */
  def setup(ms: Seq[Double]): Unit = {
    ms.zipWithIndex.foreach { case (v, i) => infos(s"setup.rep${i + 1}_s") = v / 1000 }
    infos("setup.median_rep_s") = Stats.quantile(ms, 0.5) / 1000
  }

  /** CPU used by the process and by its JIT compiler threads in the
    * timed region, and the share of the machine's CPU time the hypervisor
    * stole meanwhile. */
  def environment(cpuNs: Long, jitNs: Long, steal0: (Long, Long), steal1: (Long, Long)): Unit = {
    infos("timed.process_cpu_s") = cpuNs / 1e9
    infos("timed.jit_cpu_s") = jitNs / 1e9
    infos("jvm.code_cache_mb") = Trace.codeCacheMb
    val total = steal1._2 - steal0._2
    infos("timed.steal_share") = if (total > 0) (steal1._1 - steal0._1).toDouble / total else Double.NaN
  }

  /** The one-off warm-up (ms) that follows the set-up repetitions. */
  def warmup(ms: Double): Unit = infos("setup.warmup_s") = ms / 1000

  def json: String = {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    def obj(m: collection.Map[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${num(v)},\"unit\":${Json.str(u)}}" }.mkString("{", ",", "}")
    val cs = checks.map { case (n, ok, d) =>
      s"{\"name\":${Json.str(n)},\"ok\":$ok,\"detail\":${Json.str(d)}}" }.mkString("[", ",", "]")
    val is = infos.map { case (k, v) => s"${Json.str(k)}:${num(v)}" }.mkString("{", ",", "}")
    s"""{"attempted":$attempted,"failed":$failed,"metrics":${obj(metrics)},"layers":${obj(layers)},"info":$is,"checks":$cs}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  /** Linearly interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = (lo + 1).min(s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** Benchmark JVM entry point. The launcher (run.py) generates the
  * inputs into `--work` and reads `result.json` back from it. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = new Args(argv)
    val work = Paths.get(args.work)
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .config("spark.sql.shuffle.partitions", args.cores)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // the closed loop stages one file per batch; a watermark-only
      // batch between them would run the sinks on an empty batch
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val trace = new Trace(args.traced, s"${args.workload}-${args.seed}")
    trace.install(spark)
    val result = new Result
    result.info("setup.spark_start_s", sessionS)
    try {
      args.workload match {
        case "cdc_trickle" | "cdc_bulk" => new CdcWorkload(spark, trace, args).run(result)
        case "analytics_mix" => new AnalyticsWorkload(spark, trace, args).run(result)
        // a short run of both kinds of workload, for the class-data archive
        case "prime" =>
          new CdcWorkload(spark, trace, args).run(new Result)
          new AnalyticsWorkload(spark, trace, args).run(result)
        case w => sys.error(s"unknown workload $w")
      }
      Files.writeString(work.resolve("result.json"), result.json)
      if (trace.enabled)
        Files.writeString(work.resolve("spans.jsonl"), trace.all.map { s =>
          s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"run":${Json.str(s.run)},"start_ns":${s.startNs},"end_ns":${s.endNs}}"""
        }.mkString("", "\n", "\n"))
    } finally spark.stop()
  }
}
