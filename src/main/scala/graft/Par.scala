package graft

import org.apache.spark.sql.SparkSession
import java.util.concurrent.{Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicLong
import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success}

/** Overlapped driver-side action chains. Independent chains of eager
  * actions (checkpoints, counts, writes) only run one after another
  * because the driver calls them one after another; running each on
  * its own thread lets one chain's jobs fill the cores another chain's
  * small serial jobs leave idle.
  *
  * Each chain runs under its own Spark job group, set inside the
  * chain's thread and cleared when the chain ends. The first failure
  * (or an interrupt of the calling thread) cancels every chain's
  * group, waits until no job of any chain is still running, and
  * rethrows — a failed call never leaves jobs running into the next
  * query. */
object Par {

  private val calls = new AtomicLong()

  def pair[A, B](s: SparkSession)(a: => A, b: => B): (A, B) = {
    val r = run(s, Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  def triple[A, B, C](s: SparkSession)(a: => A, b: => B, c: => C): (A, B, C) = {
    val r = run(s, Seq(() => a, () => b, () => c))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }

  private def run(s: SparkSession, chains: Seq[() => Any]): Seq[Any] = {
    val sc = s.sparkContext
    val call = calls.incrementAndGet()
    val groups = chains.indices.map(i => s"graft-par-$call-$i")
    val pool = Executors.newFixedThreadPool(chains.size, new ThreadFactory {
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-par-$call"); t.setDaemon(true); t
      }
    })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = chains.zip(groups).map { case (chain, group) =>
        Future {
          sc.setJobGroup(group, group, interruptOnCancel = true)
          try chain() finally sc.clearJobGroup()
        }
      }
      // completes with the FIRST failure, or with all results
      val first = Promise[Seq[Any]]()
      futures.foreach(_.onComplete {
        case Failure(t) => first.tryFailure(t)
        case Success(_) =>
          if (futures.forall(_.value.exists(_.isSuccess)))
            first.trySuccess(futures.map(_.value.get.get))
      })
      // an interrupted caller (a stopped streaming query) fails the call
      val outcome =
        try { Await.ready(first.future, Duration.Inf); first.future.value.get }
        catch { case t: InterruptedException => Failure(t) }
      outcome match {
        case Success(results) => results
        case Failure(t) =>
          // a sibling may still be between actions and submit another
          // job after a single cancel: keep cancelling until it ends
          while (!futures.forall(_.isCompleted)) {
            groups.foreach(sc.cancelJobGroup)
            Thread.sleep(20)
          }
          // job-end events reach the status store asynchronously
          val tracker = sc.statusTracker
          def running = groups.exists(g => tracker.getJobIdsForGroup(g)
            .exists(id => tracker.getJobInfo(id).exists(
              _.status == org.apache.spark.JobExecutionStatus.RUNNING)))
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          while (running && System.nanoTime() < deadline) Thread.sleep(20)
          throw t
      }
    } finally pool.shutdown()
  }
}
