package perfbench

import java.io.File

import scala.collection.immutable.TreeMap
import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sinks.DataSkipping

/** One closed-loop client against a DataSkipping store: pruned range and
  * point reads (the majority), as-of reads at older versions, small
  * appends, key upserts and a periodic small-file compaction.
  *
  * The store is seeded in set-up and warmed with one untimed cycle of
  * ops: this models a long-lived session issuing many ops. The timed
  * body then issues a fixed number of cycles, sized from the run's
  * seconds, so `wall_s` and `cpu_s` are the cost of the same work on
  * every run. Every read is checked against the client's own model of the
  * keys (and of every committed version, for as-of reads).
  */
object Store extends Workload {
  private val SeedRows = 50000L
  private val SeedFiles = 8
  private val RangeKeys = 2000L
  private val AppendRows = 500
  private val UpsertRows = 50
  private val CompactEvery = 6 // writes
  private val CompactMinRows = 5000L
  // One cycle: the op mix, shuffled per cycle by the seed. A fixed mix
  // per cycle keeps run-to-run variation down to the order of ops. Reads
  // are the majority; writes are a large enough share that a run holds
  // the 20 write samples a median needs.
  private val Cycle: Seq[String] =
    Seq.fill(3)("read") ++ Seq("point_read", "asof_read") ++
      Seq.fill(3)("append") ++ Seq("upsert")
  // About how long one cycle takes on 4 cores. The body runs
  // round(`--seconds` / this) cycles, so a run measures about `--seconds`
  // there.
  private val SecondsPerCycle = 3.0

  final case class Op(kind: String, ms: Double, ok: Boolean, rows: Long)

  private var dir = ""
  private var rng: java.util.Random = _
  private var model = TreeMap.empty[Long, Long]
  private val versions = mutable.LinkedHashMap.empty[Long, TreeMap[Long, Long]]
  private var nextKey = 0L
  private var writes = 0
  private var queue = List.empty[String]
  private var warm = Vector.empty[Op]
  private var timed = Vector.empty[Op]

  private def seedValue(k: Long): Long = (k * 7919L) % 100003L
  private def frame(ctx: Ctx, rows: Seq[(Long, Long)]): DataFrame = {
    import ctx.spark.implicits._
    rows.toDF("k", "v").withColumn("pad", sha2(col("k").cast("string"), 256))
  }

  override def setup(ctx: Ctx): Unit = {
    val spark = ctx.spark
    dir = s"${ctx.work}/store"
    rng = new java.util.Random(ctx.seed)
    val seed = spark.range(0, SeedRows).select((col("id") * 2).as("k"))
      .withColumn("v", (col("k") * 7919L) % 100003L)
      .withColumn("pad", sha2(col("k").cast("string"), 256))
    DataSkipping.writeWithStats(seed, dir, col("k"), SeedFiles, Seq("k"))
    model = TreeMap.from((0L until SeedRows).map(i => (2 * i) -> seedValue(2 * i)))
    nextKey = 2 * SeedRows
    versions(DataSkipping.currentVersion(spark, dir)) = model
    warm = Cycle.indices.map(_ => runOp(ctx, nextKind())).toVector
  }

  private def nextKind(): String = {
    if (queue.isEmpty) {
      val c = new java.util.ArrayList[String](Cycle.size)
      Cycle.foreach(c.add)
      java.util.Collections.shuffle(c, rng)
      queue = List.from(c.toArray(Array.empty[String]))
    }
    val k = queue.head
    queue = queue.tail
    k
  }

  private def randomKey(): Long = (rng.nextLong() & Long.MaxValue) % nextKey
  // a range wholly inside the key space, so every range read returns
  // about the same number of rows
  private def randomRangeStart(): Long =
    (rng.nextLong() & Long.MaxValue) % (nextKey - RangeKeys)

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.select("k", "v").collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)

  private def timedCall[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Files in the store directory with their sizes. */
  private def listing(): Map[String, Long] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).map(f => f.getName -> f.length).toMap

  private def liveBytes(ctx: Ctx): Double =
    DataSkipping.readManifest(ctx.spark, dir).files.map(f => new File(dir, f.file).length).sum.toDouble

  private def runOp(ctx: Ctx, kind: String): Op = {
    val spark = ctx.spark
    val tracing = ctx.rec.isDefined
    try kind match {
      case "read" | "asof_read" =>
        val lo = randomRangeStart()
        val hi = lo + RangeKeys
        val (version, expect) =
          if (kind == "read") (-1L, model)
          else {
            val vs = versions.keys.toIndexedSeq
            val v = vs(rng.nextInt(vs.size))
            (v, versions(v))
          }
        val live = if (tracing) liveBytes(ctx) else 0.0
        val (got, ms) = timedCall(ctx.span(s"sinks.$kind") {
          rows(if (version < 0) DataSkipping.readPruned(spark, dir, Seq(("k", lo, hi)))
            else DataSkipping.readPrunedAt(spark, dir, Seq(("k", lo, hi)), version))
        })
        ctx.noteLast("live_bytes", live)
        Op(kind, ms, got == expect.range(lo, hi + 1).toSeq, got.size.toLong)
      case "point_read" =>
        val keys = Seq.fill(8)(randomKey())
        val live = if (tracing) liveBytes(ctx) else 0.0
        val (got, ms) = timedCall(ctx.span("sinks.point_read") {
          rows(DataSkipping.readPrunedKeys(spark, dir, "k", keys))
        })
        ctx.noteLast("live_bytes", live)
        val expect = keys.distinct.flatMap(k => model.get(k).map(k -> _)).sortBy(_._1)
        Op(kind, ms, got == expect, got.size.toLong)
      case "append" | "upsert" =>
        val batch =
          if (kind == "append") {
            val ks = (0 until AppendRows).map(i => nextKey + 2 * i)
            nextKey += 2L * AppendRows
            ks.map(k => k -> (k * 31 + writes) % 1000003L)
          } else {
            // keys near one another, so the upsert rewrites one file
            val near = model.rangeFrom(randomKey()).keysIterator.take(UpsertRows * 4).toIndexedSeq
            val start = if (near.size == UpsertRows * 4) near
              else model.keysIterator.take(UpsertRows * 4).toIndexedSeq
            start.grouped(4).map(_.head).toSeq.map(k => k -> (k * 13 + writes) % 1000003L)
          }
        val df = frame(ctx, batch)
        val before = if (tracing) listing() else Map.empty[String, Long]
        val (m, ms) = timedCall(ctx.span(s"sinks.$kind") {
          if (kind == "append") DataSkipping.appendWithStats(df, dir, col("k"), 1)
          else DataSkipping.upsertKeys(spark, dir, "k", df, col("k"))
        })
        model = model ++ batch
        committed(ctx, before, m)
        writes += 1
        val op = Op(kind, ms, true, batch.size.toLong)
        if (writes % CompactEvery == 0) compact(ctx)
        op
    } catch {
      case e: Exception =>
        System.err.println(s"$kind failed: $e")
        Op(kind, 0.0, false, 0L)
    }
  }

  /** Records the new version and, when tracing, the bytes the write put
    * on disk against the bytes of user rows it added.
    */
  private def committed(ctx: Ctx, before: Map[String, Long],
      m: DataSkipping.SkipManifest): Unit = {
    versions(DataSkipping.currentVersion(ctx.spark, dir)) = model
    if (ctx.rec.isDefined) {
      val after = listing()
      val added = after.filter { case (n, _) => !before.contains(n) }
      val user = m.files.filter(f => !f.isRewrite && added.contains(f.file)).map(f => added(f.file))
      ctx.noteLast("written_bytes", added.values.sum.toDouble)
      ctx.noteLast("user_bytes", user.sum.toDouble)
    }
  }

  private val compactions = mutable.ArrayBuffer.empty[Op]
  private def compact(ctx: Ctx): Unit = {
    val before = if (ctx.rec.isDefined) listing() else Map.empty[String, Long]
    val (m, ms) = timedCall(ctx.span("sinks.compact") {
      DataSkipping.compactSmallFiles(ctx.spark, dir, col("k"), CompactMinRows)
    })
    committed(ctx, before, m)
    compactions += Op("compact", ms, true, 0L)
  }

  def body(ctx: Ctx): Unit = {
    compactions.clear()
    val cycles = math.max(1, math.round(ctx.seconds / SecondsPerCycle).toInt)
    val out = Vector.newBuilder[Op]
    for (_ <- 0 until cycles * Cycle.size) {
      val kind = nextKind()
      // the op span holds the client's own work (key model, checks, trace
      // bookkeeping) around the span of the engine call
      out += ctx.span("store.op", kind)(runOp(ctx, kind))
      out ++= compactions
      compactions.clear()
    }
    timed = out.result()
  }

  def check(ctx: Ctx): Map[String, Any] = {
    val warmFailed = warm.count(!_.ok)
    val m = DataSkipping.readManifest(ctx.spark, dir)
    Map(
      "attempted" -> timed.size, "failed" -> timed.count(!_.ok),
      "warmup_failed" -> warmFailed,
      "ops" -> timed.map(o => Map("kind" -> o.kind, "ms" -> o.ms, "ok" -> o.ok, "rows" -> o.rows)),
      "live_files" -> m.files.size,
      "versions" -> DataSkipping.listVersions(ctx.spark, dir).size,
      "model_rows" -> model.size,
      "store_rows" -> m.files.map(_.rows).sum)
  }
}
