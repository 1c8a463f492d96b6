package graft.core

import org.apache.spark.sql.SparkSession

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

/** Overlap INDEPENDENT Spark actions (optimization guide §2.6: actions
  * are only sequential because driver code calls them sequentially; a second
  * in-flight job back-fills executors the first one's tail leaves idle).
  *
  * Use ONLY for actions with no data dependency and no ordering contract —
  * the verification gates' paired materializations (brute-force twin vs
  * index query) are the motivating case: each side is a deterministic
  * localCheckpoint whose VALUE is unaffected by when it runs, so the pair
  * is bit-identical to the sequential code, minus one action's worth of
  * driver-coordination latency.
  *
  * Waits are bounded (one hour) unless the caller passes its own limit —
  * `Duration.Inf` for work whose length grows with its input, such as
  * pipeline stages. When a task fails or the wait runs out, the others'
  * Spark jobs (tagged per call) are cancelled, the pool is shut down
  * (interrupting their threads) and the first failure is rethrown.
  */
object Par {
  private val Timeout: FiniteDuration = 1.hour

  def both[A, B](fa: => A, fb: => B, timeout: Duration = Timeout): (A, B) =
    all(Seq(() => fa, () => fb), 2, timeout) match {
      case Seq(a, b) => (a.asInstanceOf[A], b.asInstanceOf[B])
    }

  /** Runs `tasks` on a pool of at most `threads`; results in task order. */
  def all[A](tasks: Seq[() => A], threads: Int): Seq[A] = all(tasks, threads, Timeout)

  private[core] def all[A](tasks: Seq[() => A], threads: Int, timeout: Duration): Seq[A] = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).map(_.sparkContext)
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads.min(tasks.size).max(1))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    // tagged on the pool thread, so the tag marks only this call's jobs
    val results = tasks.map(t => Future { sc.foreach(_.addJobTag(tag)); t() })
    try Await.result(Future.sequence(results), timeout) // fails fast
    catch { case e: Throwable => sc.foreach(_.cancelJobsWithTag(tag)); throw e }
    finally pool.shutdownNow()
  }
}
