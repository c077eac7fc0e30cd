package graft.pipeline

import java.io.File

import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.classify.HeaderSniffer
import graft.control.DriverPool
import graft.operators.{Consolidate, KeepLastDedup}
import graft.readers.{BookingPaymentReader, OccupancyReader, ReaderOutput, TrainListReader}
import graft.schema.ReportType
import graft.sinks.SideChannelCsv

/** C2/C3/C4 + §3.1 — the end-to-end batch pipeline: discover input files,
  * classify each (S3/S4), dispatch to the per-type reader with per-input
  * failure isolation, consolidate (union → keep-last dedup with an
  * input-order tiebreaker), and write the three side channels.
  *
  * Reference: `reports_exporter_v0.83.py:1629-1656` (dispatcher; a failing
  * sheet is logged and skipped, the batch proceeds) and `:1662-1875` (main).
  *
  * Scale notes: classification collects ≤50 rows per file (the reference's
  * own bound); everything else is one lazy plan per report type — the
  * union'd scan, clean, dedup window, and sinks all execute distributed.
  */
object Pipeline {

  final case class InputError(path: String, message: String)
  final case class ReportResult(
      report: ReportType,
      kept: DataFrame,
      duplicates: DataFrame,
      rejects: DataFrame,
      missingTrainNumbers: Option[DataFrame])
  final case class RunResult(results: Seq[ReportResult], errors: Seq[InputError],
      unclassified: Seq[String]) {
    /** C4 — any accumulated error flips the run to failed. */
    def errorsFound: Boolean = errors.nonEmpty
  }

  /** One classified input unit: a CSV file, or one sheet of an xlsx
    * workbook (S2 — sheet enumeration makes (file, sheet) the unit).
    */
  final case class ClassifiedInput(path: String, sheet: Option[Int], headerIdx: Int,
      report: ReportType) {
    def display: String = sheet.fold(path)(i => s"$path#sheet$i")
  }

  /** S1 — enumerate candidate input files (driver-side, like the
    * reference's `os.listdir`).
    */
  def discover(inputDir: String, suffix: String = ".csv"): Seq[String] = {
    val files = Option(new File(inputDir).listFiles()).getOrElse(Array.empty)
    files.filter(f => f.isFile && f.getName.endsWith(suffix))
      .map(_.getPath).sorted.toIndexedSeq
  }

  /** Driver-pool width for the classify/read fan-out: the per-(file,
    * sheet) sniffs and xlsx parses are independent, driver-side, and
    * each a mix of zip IO and StAX CPU — a bounded pool is the engine's
    * answer to the reference's dormant tiered read
    * (`Old/reports_exporter_v0.82.ipynb:484-560`). Capped: the driver is
    * shared with Spark's scheduler threads.
    */
  val DriverPoolParallelism: Int =
    math.max(1, math.min(16, Runtime.getRuntime.availableProcessors()))

  /** Bound on each classify/read fan-out. Its units are independent and
    * thread-compatible (each xlsx parse opens its own ZipFile; job
    * submission is thread-safe on a shared session), so the fan-out
    * changes wall time only, never output.
    */
  private val FanOutTimeout = 6.hours

  private sealed trait SniffUnit
  private final case class CsvFile(path: String) extends SniffUnit
  private final case class XlsxSheet(path: String, sheet: Int) extends SniffUnit
  /** A workbook whose sheet enumeration failed or returned none. */
  private final case class DeadBook(path: String) extends SniffUnit

  /** S2-S4 — classify every input unit in a directory: CSV files whole,
    * xlsx workbooks per sheet. Returns (classified, unclassified-display).
    *
    * Two pool phases: sheet enumeration per workbook, then every
    * (file, sheet) sniff+classify and CSV sniff together — a batch of
    * thousands of workbooks no longer serializes on the driver.
    */
  def classifyAll(spark: SparkSession, inputDir: String,
      parallelism: Int = DriverPoolParallelism)
      : (Seq[ClassifiedInput], Seq[String]) = {
    val books = DriverPool.map(spark, discover(inputDir, ".xlsx"), parallelism,
        FanOutTimeout) { p =>
      p -> (try graft.sources.Xlsx.sheetNames(p).indices.toSeq
            catch { case _: Exception => Seq.empty })
    }
    val units: Seq[SniffUnit] =
      discover(inputDir, ".csv").map(CsvFile) ++
        books.flatMap {
          case (p, ss) if ss.isEmpty => Seq(DeadBook(p))
          case (p, ss)               => ss.map(XlsxSheet(p, _))
        }
    val all = DriverPool.map(spark, units, parallelism, FanOutTimeout) {
      case CsvFile(p) =>
        HeaderSniffer.classifyCsv(spark, p) match {
          case Some((idx, rep)) => Right(ClassifiedInput(p, None, idx, rep))
          case None             => Left(p)
        }
      case XlsxSheet(p, i) =>
        val rows = try graft.sources.Xlsx.readSheet(p, i, HeaderSniffer.SniffRows)
          catch { case _: Exception => Seq.empty }
        HeaderSniffer.classify(rows) match {
          case Some((idx, rep)) => Right(ClassifiedInput(p, Some(i), idx, rep))
          case None             => Left(s"$p#sheet$i")
        }
      case DeadBook(p) => Left(p)
    }
    (all.collect { case Right(c) => c }, all.collect { case Left(p) => p })
  }

  /** C2 — dispatch one classified input to its reader. Any throw is
    * captured (C3) and the input skipped.
    *
    * Big workbooks route to the DISTRIBUTED xlsx parse (S6): at or
    * above `xlsxDistributedBytes` (default
    * [[graft.sources.XlsxDistributed.SingleBookDistributedBytes]]) the
    * sheet parses in an executor task instead of on the driver pool —
    * identical frame either way (PipelineSpec pins it), so the
    * threshold trades driver memory/CPU for a task dispatch, never
    * semantics.
    */
  /** Workbook size for the distributed-parse routing decision, resolved
    * through the Hadoop FileSystem of the path's SCHEME — `java.io.File`
    * answers 0 for any non-local path (HDFS/S3), which would silently
    * route every big remote workbook back onto the driver pool, the
    * exact failure mode the threshold exists to prevent. A vanished
    * file answers 0 and falls through to the driver-pool reader, whose
    * open error the C3 isolation already captures.
    */
  private[pipeline] def inputBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    try p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p).getLen
    catch { case _: java.io.IOException => 0L }
  }

  def readInput(spark: SparkSession, input: ClassifiedInput,
      fileOrd: Int, trainHours: => DataFrame, history: => DataFrame,
      eagerEmptyGuard: Boolean = true,
      xlsxDistributedBytes: Long =
        graft.sources.XlsxDistributed.SingleBookDistributedBytes)
      : Either[InputError, ReaderOutput] =
    try {
      val path = input.path
      val report = input.report
      val base = input.sheet match {
        case Some(si) if inputBytes(spark, path) >= xlsxDistributedBytes =>
          graft.sources.XlsxDistributed.readClassifiedSingle(spark, path, si,
            input.headerIdx, report.schema)
        case Some(si) => graft.sources.Xlsx.readClassified(spark, path, si,
          input.headerIdx, report.schema)
        case None => HeaderSniffer.readClassified(spark, path, input.headerIdx, report)
      }
      val raw = base
        // D1 input-order tiebreaker (SURVEY §7.4 risk 1): file ordinal +
        // per-file row id reproduce pandas' stable keep-last across a batch.
        .withColumn("__file_ord", lit(fileOrd))
        .withColumn("__row_ord", monotonically_increasing_id())
      val out = report match {
        case ReportType.TrainList =>
          val r = TrainListReader(raw, trainHours, history)
          if (!r.missingTrainNumbers.isEmpty) {
            val missing = r.missingTrainNumbers.limit(20).collect().map(_.get(0)).mkString(", ")
            Left(InputError(input.display, s"train numbers missing from departure times: $missing"))
          } else Right(ReaderOutput(r.good, r.rejects))
        case ReportType.Occupancy      => Right(OccupancyReader(raw))
        case ReportType.BookingPayment => Right(BookingPaymentReader(raw))
      }
      // P3 — empty-batch guard (reference raises when 0 rows survive the
      // clean, `reports_exporter_v0.83.py:606-607`); the input is isolated
      // like any other failure. This is a deliberate per-input action
      // (limit-1 count), matching the reference's per-sheet shape[0]
      // check — the only eager work in the otherwise-lazy per-report plan.
      // With `eagerEmptyGuard=false` the check is deferred to run()'s
      // single union-level count (one job for a whole batch of inputs).
      if (eagerEmptyGuard)
        out.filterOrElse(!_.good.isEmpty,
          InputError(input.display, EmptyBatchMessage))
      else out
    } catch {
      case e: Exception => Left(InputError(input.display, String.valueOf(e.getMessage)))
    }

  /** Full run over a directory of inputs (CSV files and xlsx workbooks).
    * Readers carry the tiebreaker columns through to consolidation, where
    * the dedup window orders by (report sort keys, file ordinal, row
    * ordinal) — exact pandas stable-sort keep-last parity — and drops
    * them from the outputs.
    */
  val EmptyBatchMessage = "empty batch: no rows survived cleaning (P3 guard)"

  /** @param batchedGuard defer the P3 empty-input check from one Spark
    *   action per input to ONE count job over the tagged union per report
    *   type — same isolation semantics, N driver round trips → 1. Keep
    *   the default (eager, reference-faithful per-sheet check) for small
    *   batches; flip it when input counts grow to the thousands.
    * @param parallelism driver-pool width for BOTH fan-outs (classify and
    *   the per-input reads) — the reads are usually the heavier phase, so
    *   they get the same knob `classifyAll` exposes; 1 = sequential.
    */
  def run(spark: SparkSession, inputDir: String, exportDir: String, runStamp: String,
      trainHours: => DataFrame, history: => DataFrame,
      sortMode: Consolidate.SortMode = Consolidate.SortMode.Lexicographic,
      batchedGuard: Boolean = false,
      parallelism: Int = DriverPoolParallelism): RunResult = {
    val (classified, unclassified) = classifyAll(spark, inputDir, parallelism)

    val errors = Seq.newBuilder[InputError]
    val results = ReportType.all.flatMap { report =>
      val mine = classified.filter(_.report == report)
      if (mine.isEmpty) None
      else {
        // per-(file, sheet) reads fan out on the driver pool: the xlsx
        // parses and per-input guard actions are the serial cost for a
        // workbook batch; order (and so the D1 fileOrd tiebreaker and
        // error attribution) is preserved by the pool.
        val reads = DriverPool.map(spark, mine.zipWithIndex, parallelism,
            FanOutTimeout) {
          case (ci, ord) =>
            (ci, readInput(spark, ci, ord, trainHours, history,
              eagerEmptyGuard = !batchedGuard))
        }
        reads.collect { case (_, Left(e)) => e }.foreach(errors += _)
        val okPairs = reads.collect { case (ci, Right(o)) => (ci, o) }
        val ok =
          if (!batchedGuard) okPairs.map(_._2)
          else {
            // P3 batched: which inputs still have rows, in ONE job.
            // RDD union + take(1) per partition: each partition's lazy
            // iterator stops at its first surviving row (no full counts),
            // and the RDD action runs as a single shuffle-free job (a
            // DataFrame union of limit(1)s would become one AQE stage
            // job per branch).
            def batchedPresent(): Set[Int] =
              if (okPairs.isEmpty) Set.empty
              else {
                val marked = okPairs.zipWithIndex.map { case ((_, o), i) =>
                  o.good.select(lit(i).as("__i")).rdd.mapPartitions(_.take(1))
                }
                spark.sparkContext.union(marked)
                  .map(_.getInt(0)).collect().toSet
              }
            try {
              val present = batchedPresent()
              okPairs.zipWithIndex.flatMap { case ((ci, o), i) =>
                if (present(i)) Some(o)
                else { errors += InputError(ci.display, EmptyBatchMessage); None }
              }
            } catch {
              case _: Exception =>
                // the combined job cannot attribute an execution-time
                // failure to an input — fall back to the eager per-input
                // guard so C3 isolation still holds (one bad input must
                // not sink the batch)
                okPairs.flatMap { case (ci, o) =>
                  try {
                    if (!o.good.isEmpty) Some(o)
                    else { errors += InputError(ci.display, EmptyBatchMessage); None }
                  } catch {
                    case e: Exception =>
                      errors += InputError(ci.display, String.valueOf(e.getMessage))
                      None
                  }
                }
            }
          }
        if (ok.isEmpty) None
        else {
          val tiebreak = Seq(col("__file_ord"), col("__row_ord"))
          // The numeric "fixed" mode only applies to occupancy's numeric-
          // string keys; date/timestamp sort keys keep their native order.
          val mode = if (report == ReportType.Occupancy) sortMode
            else Consolidate.SortMode.Lexicographic
          val ordering = Consolidate.ordering(
            report.schema.sortKeys.filter(k => ok.head.good.columns.contains(k)),
            mode) ++ tiebreak
          val (kept0, dups0) = Consolidate(ok.map(_.good), report.schema.dedupKeys, ordering)
          val kept = kept0.drop("__file_ord", "__row_ord")
          val dups = dups0.drop("__file_ord", "__row_ord")
          val rejects = Consolidate.union(ok.map(_.rejects)).drop("__file_ord", "__row_ord")
          Some(ReportResult(report, kept, dups, rejects, None))
        }
      }
    }

    // K1-K3 side channels per report.
    results.foreach { r =>
      val name = r.report.schema.name
      SideChannelCsv.writeErrors(r.rejects, exportDir, name, runStamp)
      SideChannelCsv.writeDuplicates(r.duplicates, exportDir, name, runStamp)
      SideChannelCsv.writeSnapshot(r.kept, exportDir, name, runStamp)
    }
    RunResult(results, errors.result(), unclassified)
  }
}
