package graft.control

import java.util.UUID
import java.util.concurrent.TimeoutException
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

/** The engine's one driver-side fan-out (xlsx sniffs and reads, leaf
  * rewrites, footer reads, file copies, overlapping jobs), with one
  * failure and timeout contract:
  *  - `width <= 1` or at most one unit runs inline on the caller;
  *  - results come back in input order;
  *  - each call starts its own `min(width, n)` threads, created by the
  *    caller so they inherit its Spark local properties (job
  *    descriptions, span ids); nested calls cannot starve each other;
  *  - a failure stops units not yet started; the call waits for every
  *    started unit, then rethrows the first failure in input order,
  *    unwrapped — no caller sees an error while a neighbour is mid-write;
  *  - past `timeout` the call cancels the Spark jobs its workers started
  *    (a per-call job tag), interrupts them, waits up to [[ExitGrace]]
  *    for them to exit and throws `TimeoutException`.
  */
object DriverPool {

  private val ExitGrace = 30.seconds

  def map[A, B](spark: SparkSession, xs: Seq[A], width: Int, timeout: FiniteDuration)
      (f: A => B): IndexedSeq[B] = {
    val in = xs.toIndexedSeq
    if (width <= 1 || in.size <= 1) return in.map(f)
    val tag = s"graft-driver-pool-${UUID.randomUUID()}"
    val results = new Array[Try[B]](in.size)
    val next = new AtomicInteger(0)
    val stop = new AtomicBoolean(false)
    val workers = (0 until math.min(width, in.size)).map { k =>
      val t = new Thread(() => {
        spark.sparkContext.addJobTag(tag)
        var i = 0
        while (!stop.get && { i = next.getAndIncrement(); i < in.size }) {
          results(i) = try Success(f(in(i))) catch { case e: Throwable => Failure(e) }
          if (results(i).isFailure) stop.set(true)
        }
      }, s"graft-driver-pool-$k")
      t.setDaemon(true)
      t.start()
      t
    }
    def joinAll(wait: FiniteDuration): Boolean = {
      val deadline = System.nanoTime() + wait.toNanos
      workers.foreach(w => w.join(math.max(1L, (deadline - System.nanoTime()) / 1000000L)))
      !workers.exists(_.isAlive)
    }
    var done = false
    try done = joinAll(timeout)
    finally if (!done) {
      stop.set(true)
      spark.sparkContext.cancelJobsWithTag(tag)
      workers.foreach(_.interrupt())
      joinAll(ExitGrace): Unit
    }
    if (!done) throw new TimeoutException(
      s"driver pool over ${in.size} units did not finish within $timeout; its Spark jobs were cancelled")
    results.collectFirst { case Failure(e) => e }.foreach(e => throw e)
    results.toIndexedSeq.map(_.get)
  }
}
