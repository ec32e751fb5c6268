package graft

import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Plan capture behind PlanAuditSpec's STREAMING product audit:
  * every streaming registry row executes through foreachBatch
  * (directly or via runBounded), so each micro-batch's real join
  * topology surfaces as ordinary batch QueryExecutions — captured here
  * with a QueryExecutionListener. */
object StreamingBnljCensus {

  /** Capture executed-plan strings of every batch action that runs
    * while `body` executes, polling the async listener bus until the
    * capture is stable. */
  def capturePlans(spark: SparkSession)(body: => Unit): Seq[String] = {
    val buf = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { buf.add(qe.executedPlan.toString); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener bus is async: a single quiet 300 ms poll can
      // declare stability while a plan is still in flight (GC pause,
      // slow bus drain) and the census would silently miss it.
      // Require THREE consecutive quiet polls before trusting the
      // capture.
      var quiet = 0
      var last = buf.size
      while (quiet < 3) {
        Thread.sleep(300)
        val cur = buf.size
        if (cur == last) quiet += 1 else { quiet = 0; last = cur }
      }
      buf.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  /** The foreachBatch-executing registry rows: everything in Streams
    * plus the two batch-registry rows that drive streams internally. */
  def streamingRows: Seq[String] =
    graft.streaming.Streams.all.map(_.name) ++
      Seq("dedup_incremental", "pipeline_curate_stream")
}
