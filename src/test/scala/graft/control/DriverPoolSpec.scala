package graft.control

import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit, TimeoutException}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Millis, Seconds, Span}

import graft.SparkSuite
import graft.sinks.PartitionOverwriteSink

/** The driver fan-out contract: inline small inputs, input order,
  * inherited local properties, drain-then-rethrow-first-failure, and
  * cancel-on-timeout.
  */
class DriverPoolSpec extends SparkSuite {

  /** Runs `body` under a fresh job group (the pool's threads inherit it),
    * then requires that no job of that group is still active `within`
    * seconds later — the status tracker is fed by the async listener bus.
    */
  private def noActiveJobsAfter(within: Int)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    val group = s"driver-pool-spec-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    eventually(timeout(Span(within, Seconds)), interval(Span(20, Millis))) {
      val active = sc.statusTracker.getActiveJobIds().toSet
      assert(sc.statusTracker.getJobIdsForGroup(group).filter(active).isEmpty)
    }
  }

  test("overlap: every unit in flight at once, results in input order, caller's local properties inherited") {
    // asserted STRUCTURALLY (peak observed in-flight count), not by
    // wall-clock, which flakes under CI load. A latch forces every unit
    // to be in flight at once before any may finish, so a pool that ran
    // units one at a time would time out the await and fail the peak
    // assertion instead of hanging the suite.
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.test.caller", "outer")
    try {
      val inFlight = new AtomicInteger(0)
      val peak = new AtomicInteger(0)
      val allIn = new CountDownLatch(8)
      val out = DriverPool.map(spark, 0 until 8, 8, 1.minute) { i =>
        val now = inFlight.incrementAndGet()
        peak.getAndUpdate(p => math.max(p, now))
        allIn.countDown()
        allIn.await(5, TimeUnit.SECONDS)
        inFlight.decrementAndGet()
        (i * 2, sc.getLocalProperty("graft.test.caller"))
      }
      assert(out === (0 until 8).map(i => (i * 2, "outer")))
      assert(peak.get() === 8, s"expected all 8 units concurrently in flight (peak was ${peak.get()})")
    } finally sc.setLocalProperty("graft.test.caller", null)
  }

  test("width 1 or a single unit runs inline on the caller's thread") {
    val caller = Thread.currentThread()
    assert(DriverPool.map(spark, 0 until 3, 1, 1.minute)(_ => Thread.currentThread())
      .forall(_ eq caller))
    assert(DriverPool.map(spark, Seq(0), 8, 1.minute)(_ => Thread.currentThread())
      .forall(_ eq caller))
  }

  test("failure: the first failure in input order is rethrown unwrapped, after every started unit finished; unstarted units are dropped") {
    val first = new IllegalStateException("unit 0")
    val later = new IllegalArgumentException("unit 1")
    val started = new ConcurrentLinkedQueue[Int]()
    val finished = new ConcurrentLinkedQueue[Int]()
    val unit1Failed = new CountDownLatch(1)
    val thrown = intercept[IllegalStateException] {
      DriverPool.map(spark, 0 until 6, 3, 1.minute) { i =>
        started.add(i)
        i match {
          case 0 =>
            // fails AFTER unit 1 did: input order, not arrival order, wins
            unit1Failed.await(5, TimeUnit.SECONDS)
            finished.add(i)
            throw first
          case 1 =>
            finished.add(i)
            unit1Failed.countDown()
            throw later
          case _ =>
            Thread.sleep(300)
            finished.add(i)
            i
        }
      }
    }
    assert(thrown eq first)
    // every started unit had finished before the rethrow
    assert(finished.asScala.toSet === started.asScala.toSet)
    // three threads start units 0-2; after the failures no thread picks
    // up another unit, so at most one of 3-5 can have slipped in (the
    // healthy worker may take its next unit before unit 1 failed)
    assert(started.size <= 4, s"started ${started.asScala.toSeq.sorted}")
  }

  test("timeout: the call cancels its workers' Spark jobs and throws TimeoutException") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    noActiveJobsAfter(within = 5) {
      intercept[TimeoutException] {
        DriverPool.map(spark, Seq(1, 2), 2, 500.millis) { i =>
          // a job that only ends when its task is killed (or after 60 s)
          sc.parallelize(Seq(i), 1).map { x =>
            val ctx = TaskContext.get()
            val end = System.currentTimeMillis() + 60000L
            while (!ctx.isInterrupted() && System.currentTimeMillis() < end) Thread.sleep(20)
            x
          }.collect()
        }
      }
    }
    assert((System.nanoTime() - t0) / 1e9 < 30.0)
  }

  test("load: a target write that throws waits for the streak job, leaves no active Spark job and no audit row") {
    val dir = Files.createTempDirectory("graft-pool-load")
    // the target's parent is a regular file, so the write cannot start
    val notADir = Files.createFile(dir.resolve("not-a-dir")).toString
    // the streak job computes the pinned frame, ~3 s through the UDF
    val slow = udf { (d: String) => Thread.sleep(1500); d }.asNondeterministic()
    val df = spark.range(0, 2, 1, 1)
      .select(slow(date_format(date_add(lit("2024-01-01").cast("date"),
        col("id").cast("int")), "yyyy-MM-dd")).as("day"), lit("v").as("v"))
    noActiveJobsAfter(within = 1) {
      intercept[Exception] {
        PartitionOverwriteSink.load(spark, df, "day", s"$notADir/t", s"$dir/a", "t", "run1")
      }
    }
    assert(!Files.exists(dir.resolve("a")))
  }
}
