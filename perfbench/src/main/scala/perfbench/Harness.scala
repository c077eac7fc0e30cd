package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one workload needs from the harness. */
final case class Ctx(spark: SparkSession, work: String, seed: Long, seconds: Double,
    rec: Option[Recorder], spec: Map[String, Any]) {
  /** Wraps `body` in a span when tracing, runs it bare otherwise. */
  def span[A](name: String, label: String = "", parent: Int = -2)(body: => A): A =
    rec.fold(body)(_.span(name, label, parent)(body))
  def note(key: String, value: Double): Unit = rec.foreach(_.note(key, value))
  def noteLast(key: String, value: Double): Unit = rec.foreach(_.noteLast(key, value))
}

/** One workload: `setup` runs before the clock starts, `body` is timed,
  * `check` reads the outputs back and reports what it found.
  */
trait Workload {
  def setup(ctx: Ctx): Unit = ()
  def body(ctx: Ctx): Unit
  /** What the run left behind, for the runner to compare with the
    * generator's expected outcome.
    */
  def check(ctx: Ctx): Map[String, Any]
}

/** Runs one workload in this JVM and writes its raw measurements as JSON.
  *
  * {{{
  * perfbench.Harness --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --out <file.json>
  * }}}
  *
  * `setup_s` runs from JVM start to a ready session (plus the workload's
  * own set-up); `wall_s` and `cpu_s` cover the timed body only.
  */
object Harness {
  private val workloads: Map[String, Workload] = Map(
    "afc_nightly" -> Afc,
    "store_mixed" -> Store,
    "curation_batch" -> Curation)

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set (VmHWM) in MB, from /proc; 0 where unavailable. */
  def peakRssMb(): Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) 0.0
    else Files.readAllLines(f).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
  }

  /** Tracks the largest heap in use just after a collection: the
    * program's peak live set. Unlike VmHWM it does not follow how large
    * G1 chose to make the young generation.
    */
  final class LiveHeapPeak {
    private val peak = new AtomicLong(0L)
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peak.accumulateAndGet(used, math.max(_, _))
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
    def mb: Double = peak.get / (1024.0 * 1024.0)
  }

  def main(args: Array[String]): Unit = {
    val liveHeap = new LiveHeapPeak
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opts("workload")
    val workload = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val work = opts("work")
    val spark = GraftSession.getOrCreate("perfbench")
    try {
      val specFile = new File(work, "spec.json")
      val spec: Map[String, Any] =
        if (specFile.exists) json.readValue(specFile, classOf[Map[String, Any]]) else Map.empty
      val bare = Ctx(spark, work, opts("seed").toLong, opts("seconds").toDouble, None, spec)
      workload.setup(bare)
      val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      // the recorder sees the timed body only: set-up and checks stay out
      val ctx = if (opts("trace") == "1")
          bare.copy(rec = Some(new Recorder(spark, s"$name-${opts("seed")}")))
        else bare
      val cpu0 = processCpuNs()
      val t0 = System.nanoTime()
      val bodyStartMs = ctx.rec.fold(0.0)(_.nowMs)
      workload.body(ctx)
      val bodyEndMs = ctx.rec.fold(0.0)(_.nowMs)
      val wallS = (System.nanoTime() - t0) / 1e9
      val cpuS = (processCpuNs() - cpu0) / 1e9
      val rssMb = peakRssMb()
      val liveMb = liveHeap.mb
      val trace = ctx.rec.map(r => r.snapshot() ++ Map(
        "body_start" -> bodyStartMs, "body_end" -> bodyEndMs))
      val observed = workload.check(ctx)
      val out = Map(
        "setup_s" -> setupS, "wall_s" -> wallS, "cpu_s" -> cpuS,
        "peak_rss_mb" -> rssMb, "peak_live_heap_mb" -> liveMb,
        "observed" -> observed, "trace" -> trace.orNull)
      Files.writeString(Paths.get(opts("out")), json.writeValueAsString(out))
    } finally spark.stop()
  }
}
