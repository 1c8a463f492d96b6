package graft.core

import graft.SparkSpec
import org.apache.spark.TaskContext

import java.util.concurrent.{CountDownLatch, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.duration._

/** `Par`: results come back in order; a failing side cancels its sibling,
  * shuts the pool down and surfaces its own exception; waits are finite
  * unless the caller asks for none.
  */
class ParSpec extends SparkSpec {

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  test("both and all return results in task order") {
    assert(Par.both(1, "b") == ((1, "b")))
    assert(Par.all((0 until 5).map(i => () => { Thread.sleep(10L * (5 - i)); i }), 3) ==
      (0 until 5))
  }

  test("a failing side cancels a sleeping sibling and its exception passes through") {
    val boom = new IllegalStateException("boom")
    val interrupted = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Par.both(
        { Thread.sleep(200); throw boom },
        try { Thread.sleep(60000); "never" } catch {
          case ie: InterruptedException => interrupted.set(true); throw ie
        })
    }
    assert(e eq boom)
    assert(secondsSince(t0) < 30)
    val deadline = 10.seconds.fromNow
    while (!interrupted.get && deadline.hasTimeLeft()) Thread.sleep(20)
    assert(interrupted.get, "the sibling was not interrupted")
  }

  test("a failing side cancels the sibling's Spark job") {
    val started = new CountDownLatch(1)
    val boom = new RuntimeException("gate side failed")
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException] {
      Par.both(
        { assert(started.await(30, TimeUnit.SECONDS)); Thread.sleep(1000); throw boom },
        {
          started.countDown()
          // each task would run 60 s unless its job is cancelled
          spark.sparkContext.parallelize(0 until 4, 4).map { i =>
            val end = System.nanoTime() + 60L * 1000000000L
            while (System.nanoTime() < end && !TaskContext.get().isInterrupted()) Thread.sleep(20)
            i
          }.count()
        })
    }
    assert(e eq boom)
    assert(secondsSince(t0) < 45)
    val tracker = spark.sparkContext.statusTracker
    val deadline = 20.seconds.fromNow
    while (tracker.getActiveJobIds().nonEmpty && deadline.hasTimeLeft()) Thread.sleep(50)
    assert(tracker.getActiveJobIds().isEmpty, "the sibling's job is still running")
  }

  test("with no time limit, results still come back and a failing side still cancels") {
    assert(Par.both(1, "b", Duration.Inf) == ((1, "b")))
    val boom = new IllegalStateException("boom")
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Par.both({ Thread.sleep(200); throw boom }, { Thread.sleep(60000); 2 }, Duration.Inf)
    }
    assert(e eq boom)
    assert(secondsSince(t0) < 30)
  }

  test("a side running past the timeout fails the call with a TimeoutException") {
    val t0 = System.nanoTime()
    intercept[TimeoutException] {
      Par.all(Seq(() => 1, () => { Thread.sleep(60000); 2 }), 2, 300.millis)
    }
    assert(secondsSince(t0) < 30)
  }
}
