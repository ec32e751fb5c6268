package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call into a layer. `parent` is the id of the span that
  * caused it (0 for a root); every span of one run carries the run id. */
final case class Span(id: Long, parent: Long, name: String, run: String,
                      startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-layer totals of the Spark work that jobs tagged with the layer ran. */
final class EngineTotals {
  var jobs = 0L
  var tasks = 0L
  var taskCpuMs = 0.0
  var gcMs = 0.0
  var shuffleBytes = 0L
}

/** Span recorder plus the Spark listener that tags engine work with the
  * span that submitted it.
  *
  * `span(name)` times its body and, while the body runs, sets the Spark
  * local property [[Trace.LayerProp]] on the calling thread, so every
  * job the body submits is attributed to that layer. With tracing off
  * the recorder is a pass-through: no listener, no local property, no
  * span kept. Spans stay in memory and are written out by the caller
  * when the run ends. */
final class Trace(val enabled: Boolean, val run: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private var nextId = 0L
  private var sc: Option[SparkContext] = None

  private val stageLayer = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  /** (layer, start ms, end ms) of every finished job, driver clock. */
  val jobs = mutable.ArrayBuffer.empty[(String, Long, Long)]
  private val engine = mutable.HashMap.empty[String, EngineTotals]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parents = open.get()
      val prevLayer = sc.map(_.getLocalProperty(Trace.LayerProp)).orNull
      sc.foreach(_.setLocalProperty(Trace.LayerProp, name))
      open.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(parents)
        sc.foreach(_.setLocalProperty(Trace.LayerProp, prevLayer))
        synchronized { spans += Span(id, parents.headOption.getOrElse(0L), name, run, t0, t1) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toVector)

  /** Forget everything recorded so far (spans, jobs, engine totals), so
    * what follows covers only the timed region. */
  def reset(): Unit = if (enabled) {
    drain()
    synchronized { spans.clear(); jobs.clear(); engine.clear() }
  }

  /** Engine totals of one layer (zeros when it ran no job). */
  def totals(layer: String): EngineTotals =
    synchronized(engine.getOrElse(layer, new EngineTotals))

  /** Self time per span name: each span's duration minus the part of its
    * interval its child spans cover. */
  def selfMs(within: Span => Boolean = _ => true): Map[String, Double] = {
    val ss = all.filter(within)
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (n, group) =>
      n -> group.map { s =>
        val covered = Trace.union(kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)))
        s.ms - covered / 1e6
      }.sum
    }
  }

  val listener: SparkListener = new SparkListener {
    private def layerOf(p: java.util.Properties): String =
      Option(p).flatMap(x => Option(x.getProperty(Trace.LayerProp))).getOrElse("untagged")
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val l = layerOf(e.properties)
      e.stageIds.foreach(stageLayer(_) = l)
      jobStart(e.jobId) = (l, e.time)
      engine.getOrElseUpdate(l, new EngineTotals).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (l, t0) => jobs += ((l, t0, e.time)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val l = stageLayer.getOrElse(e.stageId, "untagged")
      val t = engine.getOrElseUpdate(l, new EngineTotals)
      t.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        t.taskCpuMs += m.executorCpuTime / 1e6
        t.gcMs += m.jvmGCTime
        t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  /** Wall time (ms) within [startMs, endMs) covered by at least one
    * finished Spark job. */
  def jobWallMs(startMs: Long, endMs: Long): Long = {
    val iv = synchronized(jobs.toVector)
    Trace.union(iv.collect { case (_, a, b) if b > startMs && a < endMs =>
      (a.max(startMs), b.min(endMs)) })
  }

  /** The engine split every workload reports for its timed operations
    * (micro-batches or registry-row executions), given each op's
    * wall-clock interval in epoch ms: wall covered by Spark jobs vs
    * driver-only wall, Catalyst planning, codegen compiles, and the
    * task-side totals of every job in the timed region. */
  def opSplit(result: Result, ops: Seq[(Long, Long)], planMs: Double, compiles: Long,
              coverage: Double): Unit = {
    drain()
    val n = ops.size.max(1).toDouble
    val wall = ops.map { case (s, e) => (e - s).toDouble }.sum
    val inJobs = ops.map { case (s, e) => jobWallMs(s, e).toDouble }.sum
    val t = synchronized(engine.values.toVector)
    result.layer("op.wall_ms", "ms", wall / n)
    result.layer("op.job_ms", "ms", inJobs / n)
    result.layer("op.driver_ms", "ms", (wall - inJobs) / n)
    result.layer("op.plan_ms", "ms", planMs / n)
    result.layer("op.codegen_compiles", "count", compiles / n)
    result.layer("op.jobs", "count", t.map(_.jobs).sum / n)
    result.layer("op.tasks", "count", t.map(_.tasks).sum / n)
    result.layer("op.task_cpu_ms", "ms", t.map(_.taskCpuMs).sum / n)
    result.layer("op.gc_ms", "ms", t.map(_.gcMs).sum / n)
    result.layer("op.shuffle_bytes", "bytes", t.map(_.shuffleBytes).sum / n)
    result.layer("jvm.heap_peak_mb", "MB", Trace.heapPeakMb)
    result.layer("trace.coverage", "ratio", coverage)
  }

  def install(spark: SparkSession): Unit =
    if (enabled) {
      sc = Some(spark.sparkContext)
      spark.sparkContext.addSparkListener(listener)
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = sc.foreach(org.apache.spark.BenchAccess.drainListeners)
}

object Trace {
  val LayerProp = "perfbench.layer"

  /** This process's CPU time so far (ns, all threads). */
  def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** CPU time (ns) of the JVM's internal threads so far, by thread name:
    * the JIT compiler and GC threads, which ThreadMXBean does not list. */
  def internalCpuNs: Map[String, Long] =
    try {
      val mbean = Class.forName("sun.management.ManagementFactoryHelper")
        .getMethod("getHotspotThreadMBean").invoke(null)
      Class.forName("sun.management.HotspotThreadMBean").getMethod("getInternalThreadCpuTimes")
        .invoke(mbean).asInstanceOf[java.util.Map[String, java.lang.Long]]
        .asScala.map { case (k, v) => k -> v.longValue }.toMap
    } catch { case _: Exception => Map.empty }

  /** CPU time (ns) of the JIT compiler threads so far. */
  def jitCpuNs: Long = internalCpuNs.collect { case (k, v) if k.contains("CompilerThread") => v }.sum

  /** (steal, total) jiffies of all CPUs from /proc/stat: the share of
    * time the hypervisor ran something else on this machine's vCPUs. */
  def cpuSteal: (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Whole-stage and expression codegen compiles so far in this JVM. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Mean compile time (ms) of the recent compiles Spark's histogram holds. */
  def codegenMeanMs: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean

  /** Code cache in use (MB): JIT-compiled methods of all tiers. */
  def codeCacheMb: Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getName.startsWith("CodeHeap")).map(_.getUsage.getUsed).sum / 1048576.0

  def heapPeakReset(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.forEach(_.resetPeakUsage())

  def heapPeakMb: Double = {
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
