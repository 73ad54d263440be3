package graft.core

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Promise, TimeoutException}
import scala.concurrent.duration._
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.testkit.SparkTestSession

/** The overlap helper's contract: input-order results, original-exception
  * propagation, the parallelism knob, and failure-path cancellation of
  * sibling in-flight Spark jobs (the round-15 advice: a failed takedown
  * leg must not leave orphan sibling jobs writing to stores while the
  * caller unwinds).
  */
class ParSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("results come back in input order, not completion order") {
    val got = Par.run(Seq(
      () => { Thread.sleep(150); "slow" },
      () => "fast"))
    assert(got === Seq("slow", "fast"))
  }

  test("the first failure propagates its original exception") {
    val boom = intercept[IllegalStateException] {
      Par.run[Unit](Seq(
        () => throw new IllegalStateException("leg down"),
        () => ()))
    }
    assert(boom.getMessage === "leg down")
  }

  test("spark.graft.par.parallelism bounds in-flight thunks") {
    spark.conf.set(Par.ParallelismConf, "2")
    try {
      val inFlight = new AtomicInteger
      val maxSeen = new AtomicInteger
      Par.run((1 to 6).map { _ => () =>
        val now = inFlight.incrementAndGet()
        maxSeen.updateAndGet(m => math.max(m, now))
        Thread.sleep(100)
        inFlight.decrementAndGet()
      })
      assert(maxSeen.get() <= 2,
        s"conf asked for 2 in flight, saw ${maxSeen.get()}")
    } finally spark.conf.unset(Par.ParallelismConf)
  }

  test("a failing thunk cancels sibling in-flight Spark jobs") {
    // sibling: a job that would run for minutes unless cancelled
    val slowSibling = () => {
      spark.range(0, 1000000L, 1, 4)
        .filter((id: java.lang.Long) => { Thread.sleep(1); id % 2 == 0 })
        .count()
      ()
    }
    val t0 = System.nanoTime()
    intercept[IllegalStateException] {
      Par.run[Unit](Seq(
        () => { Thread.sleep(300); throw new IllegalStateException("die") },
        slowSibling))
    }
    // the cancel fires before the rethrow; the sibling's job must drain
    // from the scheduler promptly instead of grinding on as an orphan
    val tracker = spark.sparkContext.statusTracker
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (tracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    assert(tracker.getActiveJobIds().isEmpty,
      "sibling job still active 30 s after the failing leg rethrew — " +
        "job-group cancellation did not reach it")
    val waited = (System.nanoTime() - t0) / 1e9
    assert(waited < 60, f"drain took $waited%.1f s")
  }

  test("a malformed spark.graft.par.parallelism names the setting") {
    // a session of its own, so no other caller sees the bad values
    val iso = SparkTestSession.isolated()
    SparkSession.setActiveSession(iso)
    try for (bad <- Seq("eight", "0", "-2", "")) {
      iso.conf.set(Par.ParallelismConf, bad)
      val e = intercept[IllegalArgumentException] {
        Par.run(Seq(() => 1, () => 2))
      }
      assert(e.getMessage.contains(Par.ParallelismConf), bad)
    } finally SparkSession.setActiveSession(spark)
  }

  test("after a failure, a sibling's next action fails fast, " +
      "also inside a nested Par.run") {
    spark // Par takes the session (and its job groups) from the active one
    val lateTag = "par-spec-late"
    for (nested <- Seq(false, true)) {
      val released = new CountDownLatch(1)
      val unwound = new CountDownLatch(1)
      val outcome = Promise[Long]()
      // a sibling between actions when the failure lands: it ignores
      // the pools' shutdown interrupts (as code outside a Spark wait
      // does) and submits its next action, an aggregate whose adaptive
      // plan starts with a shuffle-map stage, after Par.run rethrew
      val late = () => {
        var waiting = true
        while (waiting)
          try { released.await(); waiting = false }
          catch { case _: InterruptedException => () }
        spark.sparkContext.addJobTag(lateTag)
        outcome.complete(Try(spark.range(0, 1000000L, 1, 4)
          .filter((id: java.lang.Long) => { Thread.sleep(1); id % 2 == 0 })
          .count()))
        ()
      }
      val sibling =
        if (nested) () =>
          try { Par.run[Unit](Seq(late, () => ())); () }
          finally unwound.countDown()
        else late
      intercept[IllegalStateException] {
        Par.run[Unit](Seq(
          () => throw new IllegalStateException("die"), sibling))
      }
      // release only once the nested call has shut its pool down, so no
      // interrupt reaches the sibling's Spark wait
      if (nested) unwound.await()
      released.countDown()
      try {
        val got = Try(Await.result(outcome.future, 30.seconds))
        assert(got.isFailure &&
            !got.failed.get.isInstanceOf[TimeoutException],
          s"nested=$nested: the sibling's post-failure job was not " +
            s"cancelled as a future job of the failed call: $got")
      } finally spark.sparkContext.cancelJobsWithTag(lateTag)
    }
  }
}
