package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Plan-audit companion to [[Explain]] for work that happens OUTSIDE the
  * returned frame's plan (eager training collects, store builds, manifest
  * stats passes): run each named query once end-to-end (construction +
  * noop write) and print the SPARK JOB / STAGE / TASK counts and the
  * bytes read+shuffled it took — the honest instrument for "this
  * optimization removed N construction-time passes", which a final-plan
  * explain cannot show. One line per query:
  *
  *   name jobs=J stages=S tasks=T input_mb=I shuffle_write_mb=W sec=E
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.builder("graft-jobcount").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val inputBytes = new AtomicLong; val shuffleWrite = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet(): Unit
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        Option(t.taskMetrics).foreach { m =>
          inputBytes.addAndGet(m.inputMetrics.bytesRead)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }: Unit
      }
    })
    // the listener bus is async: wait for every event posted so far, so
    // no job of the untimed pass lands in the measured window or past it
    def drain(): Unit = org.apache.spark.sql.GraftBridge.drainListeners(spark.sparkContext)
    names.foreach { n =>
      // one untimed pass so codegen/scratch setup is not billed, then
      // reset counters and measure one clean pass
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      drain()
      jobs.set(0); stages.set(0); tasks.set(0)
      inputBytes.set(0); shuffleWrite.set(0)
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      drain()
      println(f"JOBCOUNT $n jobs=${jobs.get}%d stages=${stages.get}%d " +
        f"tasks=${tasks.get}%d input_mb=${inputBytes.get / 1e6}%.1f " +
        f"shuffle_write_mb=${shuffleWrite.get / 1e6}%.2f sec=$sec%.3f")
    }
    spark.stop()
  }
}
