package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.classify.HeaderSniffer
import graft.readers.{BookingPaymentReader, OccupancyReader, TrainListReader}
import graft.schema.{ReportType, Schemas}
import graft.sinks.PartitionOverwriteSink

/** End-to-end pipeline coverage: classification on files, reader dispatch
  * with failure isolation, side channels, partition-overwrite sink.
  */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private def tmpDir(name: String): String = {
    val p = Files.createTempDirectory(name)
    p.toFile.deleteOnExit()
    p.toString
  }

  /** A tiny occupancy CSV: junk rows above the header exercise the sniff
    * offset; one reject row (empty mandatory Date cell); duplicate keys.
    */
  private def occCsv(rows: Seq[String], junkRows: Int): String = {
    val header = Schemas.occupancy.header.mkString(",")
    val junk = (0 until junkRows).map(i => s"junk$i,x")
    (junk ++ Seq(header) ++ rows).mkString("\n")
  }

  private def occRow(date: String, od: String, train: String, cls: String,
      reserved: String, quota: String): String = {
    // 24 cells in schema order; non-mandatory cells filled with "1"
    val m = Map(0 -> date, 1 -> od, 5 -> train, 6 -> cls, 14 -> reserved, 8 -> quota)
    (0 until 24).map(i => m.getOrElse(i, "1")).mkString(",")
  }

  test("S3/S4: classifyCsv finds the occupancy header behind junk rows") {
    val dir = tmpDir("graft-cls")
    val path = s"$dir/occ.csv"
    Files.writeString(Paths.get(path), occCsv(Seq(occRow("2024-01-01 00:00:00", "AB", "T1", "C1", "5", "q")), junkRows = 2))
    val got = HeaderSniffer.classifyCsv(spark, path)
    assert(got === Some((2, ReportType.Occupancy)))
  }

  test("S5: readClassified skips junk above an offset header and parses all rows") {
    val dir = tmpDir("graft-read")
    val path = s"$dir/occ.csv"
    Files.writeString(Paths.get(path),
      occCsv(Seq(
        occRow("2024-01-01 00:00:00", "AB", "T1", "C1", "5", "q"),
        occRow("2024-01-02 00:00:00", "CD", "T2", "C2", "6", "q")), junkRows = 3))
    val df = HeaderSniffer.readClassified(spark, path, 3, ReportType.Occupancy)
    assert(df.count() === 2)
    assert(df.columns.length === 24)
  }

  test("pipeline run: consolidation, keep-last dedup, rejects, bad input isolated") {
    val in = tmpDir("graft-in")
    val out = tmpDir("graft-out")
    // file A: one good row + one reject (empty mandatory Date)
    Files.writeString(Paths.get(s"$in/a.csv"), occCsv(Seq(
      occRow("2024-01-01 00:00:00", "AB", "T1", "C1", "5", "q1"),
      occRow("", "AB", "T1", "C1", "9", "q0")), junkRows = 0))
    // file B: duplicate of A's key with higher sort value → wins keep-last
    Files.writeString(Paths.get(s"$in/b.csv"), occCsv(Seq(
      occRow("2024-01-01 00:00:00", "AB", "T1", "C1", "7", "q2")), junkRows = 0))
    // file C: unclassifiable garbage
    Files.writeString(Paths.get(s"$in/c.csv"), "what,is,this\n1,2,3")

    val empty = spark.emptyDataFrame
    val res = Pipeline.run(spark, in, out, "20240101T000000", empty, empty)

    assert(res.unclassified === Seq(s"$in/c.csv"))
    assert(res.errors.isEmpty)
    val occ = res.results.find(_.report == ReportType.Occupancy).get
    val kept = occ.kept.collect()
    assert(kept.length === 1)
    // keep-last on lexicographic ticket_reserved: "7" > "5"
    assert(occ.kept.select("ticket_reserved").as[String].collect().toSeq === Seq("7"))
    assert(occ.duplicates.count() === 1)
    assert(occ.rejects.count() === 1)
    // side channels written (gzip csv directories) with the right content
    val exported = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(exported.exists(_.contains("error rows")))
    assert(exported.exists(_.contains("duplicates")))
    assert(exported.exists(_.contains("data exported")))
    def readBack(channel: String) =
      spark.read.option("header", "true")
        .csv(s"$out/${Schemas.occupancy.name} $channel 20240101T000000")
    val dupRows = readBack("duplicates")
    assert(dupRows.count() === 1)
    assert(dupRows.select("ticket_reserved").as[String].head() === "5")
    val snap = readBack("data exported")
    assert(snap.count() === 1)
    assert(snap.select("ticket_reserved").as[String].head() === "7")
    val errs = readBack("error rows")
    assert(errs.count() === 1)
  }

  test("pipeline run: equal sort keys across files — later input wins (pandas stable keep-last parity)") {
    val in = tmpDir("graft-tie-in")
    val out = tmpDir("graft-tie-out")
    // same dedup key AND same sort keys; only a non-key cell differs
    def row(origin: String) =
      (0 until 24).map(i => Map(0 -> "2024-01-01 00:00:00", 1 -> "AB", 5 -> "T1", 6 -> "C1",
        14 -> "5", 8 -> "q", 2 -> origin).getOrElse(i, "1")).mkString(",")
    val header = Schemas.occupancy.header.mkString(",")
    Files.writeString(Paths.get(s"$in/a.csv"), (Seq(header) :+ row("fromA")).mkString("\n"))
    Files.writeString(Paths.get(s"$in/b.csv"), (Seq(header) :+ row("fromB")).mkString("\n"))
    val res = Pipeline.run(spark, in, out, "20240101T000000",
      spark.emptyDataFrame, spark.emptyDataFrame)
    val occ = res.results.find(_.report == ReportType.Occupancy).get
    // files are discovered sorted (a, b) → b is the later input → keep-last keeps b
    assert(occ.kept.select("origin_station").as[String].collect().toSeq === Seq("fromB"))
    assert(occ.duplicates.select("origin_station").as[String].collect().toSeq === Seq("fromA"))
  }

  test("pipeline run: TL path with dims; missing train number isolates the file") {
    val in = tmpDir("graft-tl-in")
    val out = tmpDir("graft-tl-out")
    def tlRow(dep: String, train: String, ticket: String): String = {
      val h = Schemas.trainList.header
      val m = Map("Departure Date" -> dep, "Train Number" -> train, "Ticket Number" -> ticket)
      h.map(c => m.getOrElse(c, "1")).mkString(",")
    }
    val header = Schemas.trainList.header.mkString(",")
    // file A: train T1 exists in the dim
    Files.writeString(Paths.get(s"$in/a.csv"),
      (Seq(header) :+ tlRow("2024-01-01 10:00:00", "T1", "tk1")).mkString("\n"))
    // file B: train T9 missing from the dim → input isolated as an error
    Files.writeString(Paths.get(s"$in/b.csv"),
      (Seq(header) :+ tlRow("2024-01-02 10:00:00", "T9", "tk2")).mkString("\n"))
    val hours = Seq(("T1", "09:30:00")).toDF("train_number", "departure_time")
    val hist = Seq(("tk1", java.sql.Timestamp.valueOf("2024-01-01 08:00:00")))
      .toDF("ticket_number", "operation_date_time")
    val res = Pipeline.run(spark, in, out, "20240101T000000", hours, hist)
    assert(res.errors.map(_.path) === Seq(s"$in/b.csv"))
    assert(res.errors.head.message.contains("T9"))
    val tl = res.results.find(_.report == ReportType.TrainList).get
    val kept = tl.kept.collect()
    assert(kept.length === 1)
    val row = tl.kept.select("ticket_number", "train_hour", "train_key",
      "operation_date").head()
    assert(row.getString(0) === "tk1")
    assert(row.getString(1) === "09:30")
    assert(row.getString(2) === "2024-01-01 - T1 - 1") // OD filler "1"
    assert(row.getString(3) === "2024-01-01")
  }

  test("readers: column counts and reject capture per schema") {
    import graft.readers.ReportReader
    // Occupancy: 24 source cols → 26 output
    val occRaw = Seq(
      ("2024-01-01 00:00:00", "AB", "T1", "C1", "5", "q"),
      (null, "AB", "T1", "C1", "5", "q")).toDF("Date", "OD", "Train Number", "Class",
      "Ticket Reserved (Usual + Carer + PRM)", "Quota Configuration")
    val full = Schemas.occupancy.header.foldLeft(occRaw) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit("1"))
    }
    val r = OccupancyReader(full, to_date(lit("2024-06-01")))
    assert(r.good.columns.length === 26)
    assert(r.good.count() === 1 && r.rejects.count() === 1)
    assert(r.good.select("train_key").as[String].head() === "2024-01-01 - T1 - AB")
  }

  test("P3: an input whose every row is rejected is isolated as an empty batch") {
    val in = tmpDir("graft-p3-in")
    val out = tmpDir("graft-p3-out")
    // all rows have an unparseable mandatory Date → all rejected
    Files.writeString(Paths.get(s"$in/bad.csv"), occCsv(Seq(
      occRow("", "AB", "T1", "C1", "5", "q"),
      occRow("", "CD", "T2", "C2", "6", "q")), junkRows = 0))
    Files.writeString(Paths.get(s"$in/good.csv"), occCsv(Seq(
      occRow("2024-01-01 00:00:00", "EF", "T3", "C3", "7", "q")), junkRows = 0))
    val res = Pipeline.run(spark, in, out, "20240101T000000",
      spark.emptyDataFrame, spark.emptyDataFrame)
    assert(res.errors.map(_.path) === Seq(s"$in/bad.csv"))
    assert(res.errors.head.message.contains("empty batch"))
    assert(res.results.find(_.report == ReportType.Occupancy).get.kept.count() === 1)
  }

  test("P3 batched guard: same isolation, one guard job instead of one per input") {
    def writeInputs(): String = {
      val in = tmpDir("graft-p3b-in")
      Files.writeString(Paths.get(s"$in/bad.csv"), occCsv(Seq(
        occRow("", "AB", "T1", "C1", "5", "q")), junkRows = 0))
      Files.writeString(Paths.get(s"$in/g1.csv"), occCsv(Seq(
        occRow("2024-01-01 00:00:00", "EF", "T3", "C3", "7", "q")), junkRows = 0))
      Files.writeString(Paths.get(s"$in/g2.csv"), occCsv(Seq(
        occRow("2024-01-02 00:00:00", "GH", "T4", "C4", "8", "q")), junkRows = 0))
      in
    }
    def countJobs(body: => Unit): Int = {
      val n = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          n.incrementAndGet(); ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      try { body; Thread.sleep(1000) } // listener bus drains asynchronously
      finally spark.sparkContext.removeSparkListener(l)
      n.get
    }

    val inA = writeInputs()
    var resBatched: Pipeline.RunResult = null
    val jobsBatched = countJobs {
      resBatched = Pipeline.run(spark, inA, tmpDir("graft-p3b-o1"), "20240101T000000",
        spark.emptyDataFrame, spark.emptyDataFrame, batchedGuard = true)
    }
    // identical isolation semantics to the eager guard
    assert(resBatched.errors.map(_.path) === Seq(s"$inA/bad.csv"))
    assert(resBatched.errors.head.message.contains("empty batch"))
    assert(resBatched.results.find(_.report == ReportType.Occupancy).get.kept.count() === 2)

    val inB = writeInputs()
    val jobsEager = countJobs {
      Pipeline.run(spark, inB, tmpDir("graft-p3b-o2"), "20240101T000000",
        spark.emptyDataFrame, spark.emptyDataFrame, batchedGuard = false)
    }
    // 3 inputs: eager pays 3 isEmpty jobs, batched pays 1 count job
    assert(jobsBatched < jobsEager,
      s"batched guard should run fewer jobs (batched=$jobsBatched, eager=$jobsEager)")
  }

  /** Minimal one-sheet all-string workbook (rels-less fallback path). */
  private def writeStrXlsx(path: String, rows: Seq[Seq[String]]): Unit = {
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8")); zos.closeEntry()
    }
    put("xl/workbook.xml",
      """<?xml version="1.0"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheets><sheet name="Report" sheetId="1"/></sheets></workbook>""")
    val body = rows.zipWithIndex.map { case (cells, ri) =>
      val cs = cells.zipWithIndex.map { case (v, ci) =>
        s"""<c r="${('A' + ci).toChar}${ri + 1}" t="str"><v>${scala.xml.Utility.escape(v)}</v></c>"""
      }.mkString
      s"""<row r="${ri + 1}">$cs</row>"""
    }.mkString
    put("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$body</sheetData></worksheet>""")
    zos.close()
  }

  test("classifyAll over a workbook batch: pool fan-out equals sequential") {
    val in = tmpDir("graft-par-in")
    val occCells = (0 until 24).map(i => Map(0 -> "2024-01-01 00:00:00", 1 -> "AB",
      5 -> "T1", 6 -> "C1", 14 -> "5", 8 -> "q").getOrElse(i, "1"))
    (0 until 6).foreach { i =>
      writeStrXlsx(s"$in/w$i.xlsx", Seq(Schemas.occupancy.header, occCells))
    }
    val sequential = Pipeline.classifyAll(spark, in, parallelism = 1)
    val pooled = Pipeline.classifyAll(spark, in)
    // identical output (content AND order — fileOrd tiebreakers depend on it)
    assert(pooled === sequential)
    assert(sequential._1.size === 6 && sequential._2.isEmpty)
    assert(sequential._1.forall(_.report == ReportType.Occupancy))
  }

  test("S6 routing: a workbook over the byte threshold reads via the executor-side parse, frame-identical to the driver path") {
    val in = tmpDir("graft-dist-route")
    val occCells = (d: String, od: String) => (0 until 24).map(i =>
      Map(0 -> d, 1 -> od, 5 -> "T1", 6 -> "C1", 14 -> "5", 8 -> "q")
        .getOrElse(i, "1"))
    writeStrXlsx(s"$in/big.xlsx",
      Seq(Seq("junk above"), Schemas.occupancy.header,
        occCells("2024-01-01 00:00:00", "AB"),
        occCells("2024-01-02 00:00:00", "CD"),
        occCells("2024-01-03 00:00:00", "EF")))
    val (classified, un) = Pipeline.classifyAll(spark, in)
    assert(classified.size === 1 && un.isEmpty)
    val ci = classified.head

    // the two execution venues must produce the IDENTICAL frame
    val driverSide = graft.sources.Xlsx.readClassified(spark, ci.path,
      ci.sheet.get, ci.headerIdx, ci.report.schema)
    val executorSide = graft.sources.XlsxDistributed.readClassifiedSingle(
      spark, ci.path, ci.sheet.get, ci.headerIdx, ci.report.schema)
    assert(executorSide.schema === driverSide.schema)
    assert(executorSide.collect().toSeq.sortBy(_.toString)
      === driverSide.collect().toSeq.sortBy(_.toString))

    // end-to-end through readInput: threshold 0 forces the distributed
    // route; the reader output (minus the venue-dependent physical
    // tiebreaker ids) matches the default driver route
    def goodRows(threshold: Long) =
      Pipeline.readInput(spark, ci, 0, spark.emptyDataFrame,
          spark.emptyDataFrame, xlsxDistributedBytes = threshold)
        .toOption.get.good.drop("__file_ord", "__row_ord")
    val viaDriver = goodRows(Long.MaxValue)
    val viaExecutor = goodRows(0L)
    assert(viaExecutor.columns.toSeq === viaDriver.columns.toSeq)
    assert(viaExecutor.collect().toSeq.sortBy(_.toString)
      === viaDriver.collect().toSeq.sortBy(_.toString))
    assert(viaExecutor.count() === 3L)
  }

  test("J1: a dimension key with a NULL probe value counts as missing (reference null-check parity)") {
    import graft.enrich.Enrichment
    val fact = Seq(("T1", 1), ("T2", 2), ("T3", 3)).toDF("k", "v")
    val dim = Seq(("T1", "09:00:00"), ("T2", null)).toDF("k", "hour")
    val (_, missing) = Enrichment.broadcastLookup(fact, dim, "k", "hour")
    // T2 exists but carries a null hour; T3 is absent — both missing
    assert(missing.as[String].collect().toSet === Set("T2", "T3"))
  }

  test("TL reader: missing train numbers surfaced for abort") {
    val raw0 = Seq(("2024-01-01 10:00:00", "T9", "AB", "tkt1")).toDF(
      "Departure Date", "Train Number", "OD", "Ticket Number")
    val raw = Schemas.trainList.header.foldLeft(raw0) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit("1"))
    }
    val hours = Seq(("T1", "09:00:00")).toDF("train_number", "departure_time")
    val hist = Seq(("tkt1", java.sql.Timestamp.valueOf("2024-01-01 08:00:00")))
      .toDF("ticket_number", "operation_date_time")
    val res = TrainListReader(raw, hours, hist)
    assert(res.missingTrainNumbers.as[String].collect().toSeq === Seq("T9"))
    assert(res.good.columns.length === 53)
  }

  test("BPD reader: VAT Penalty consumed by gross-up, 56 output columns") {
    val raw0 = Seq(("B1", "t1", "2024-01-01 10:00:00", "100", "10", "200")).toDF(
      "Booking Code", "Ticket Number", "Operation Date", "Base Price", "VAT Penalty", "Penalty Tariff")
    val raw = Schemas.bookingPayment.header.foldLeft(raw0) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c,
        if (c.contains("Date")) lit("2024-01-01 10:00:00") else lit("1"))
    }
    val r = BookingPaymentReader(raw)
    assert(r.good.columns.length === 56)
    assert(!r.good.columns.contains("vat_penalty"))
    assert(r.good.select("penalty_tariff").as[Double].head() === 200 * 1.15)
  }

  test("Main.run: full control loop — gate, load, archive, exit code") {
    val in = tmpDir("graft-main-in")
    val exp = tmpDir("graft-main-exp")
    val tgt = tmpDir("graft-main-tgt")
    val arc = tmpDir("graft-main-arc")
    Files.writeString(Paths.get(s"$in/good.csv"), occCsv(Seq(
      occRow("2024-01-01 00:00:00", "AB", "T1", "C1", "5", "q1"),
      occRow("2024-01-02 00:00:00", "CD", "T2", "C2", "6", "q2")), junkRows = 0))
    Files.writeString(Paths.get(s"$in/junk.csv"), "not,a,report\n1,2,3")

    val code = Main.run(spark, in, exp, tgt, arc,
      spark.emptyDataFrame, spark.emptyDataFrame, s"$tgt/version_control.txt")
    // junk.csv is unclassified → recorded error → nonzero exit
    assert(code === 1)
    // good file loaded into the partitioned target
    val loaded = spark.read.parquet(s"$tgt/occupancy")
    assert(loaded.count() === 2)
    assert(loaded.columns.contains("date"))
    // audit rows: one per loaded day
    assert(spark.read.parquet(s"$tgt/audit").count() === 2)
    // processed input archived, failed one left in place
    assert(!Files.exists(Paths.get(s"$in/good.csv")))
    assert(Files.exists(Paths.get(s"$arc/good.csv")))
    assert(Files.exists(Paths.get(s"$in/junk.csv")))
  }

  test("bucketed tables: co-located join plans without a shuffle exchange") {
    import graft.sinks.BucketedTables
    val dir = tmpDir("graft-bkt")
    val a = (0 until 1000).map(i => (i % 50, s"a$i")).toDF("k", "va")
    val b = (0 until 1000).map(i => (i % 50, s"vb$i")).toDF("k", "vb")
    BucketedTables.writeBucketed(a, "bkt_a", s"$dir/a", "k", 8, Seq("k"))
    BucketedTables.writeBucketed(b, "bkt_b", s"$dir/b", "k", 8, Seq("k"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = BucketedTables.coLocatedJoin(spark, "bkt_a", "bkt_b", "k")
      assert(joined.count() === (0 until 50).map(k => 20L * 20L).sum)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"co-located join must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("K1-K3 zip container: literal .csv.zip with one csv entry, content intact") {
    import scala.jdk.CollectionConverters._
    import graft.sinks.SideChannelCsv
    val dir = tmpDir("graft-zip")
    val df = Seq(("a", "x,y"), ("b", "plain"), ("c", "say \"hi\""))
      .toDF("k", "v").repartition(2)
    SideChannelCsv.write(df, s"$dir/Occupancy duplicates 20240101",
      SideChannelCsv.Container.CsvZip)
    val zf = new java.util.zip.ZipFile(s"$dir/Occupancy duplicates 20240101.csv.zip")
    try {
      val entries = zf.entries().asScala.toSeq
      assert(entries.map(_.getName) === Seq("Occupancy duplicates 20240101.csv"))
      val lines = scala.io.Source.fromInputStream(zf.getInputStream(entries.head))
        .getLines().toSeq
      assert(lines.head === "k,v")
      // embedded quotes double (RFC 4180), never backslash-escape (ADVICE r3)
      assert(lines.tail.sorted === Seq("a,\"x,y\"", "b,plain", "c,\"say \"\"hi\"\"\""))
    } finally zf.close()
    // staging directory cleaned up
    assert(!Files.exists(Paths.get(s"$dir/Occupancy duplicates 20240101.staging")))
  }

  test("K4-K6: partition-overwrite load is idempotent and audits per day") {
    val target = tmpDir("graft-sink")
    val audit = tmpDir("graft-audit")
    // under a STATIC session mode, only the writer-scoped option makes
    // the load dynamic, and the load must leave the session's mode alone
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.get(modeKey)
    spark.conf.set(modeKey, "static")
    try {
      val df = Seq(("2024-01-01", "a"), ("2024-01-02", "b")).toDF("day", "v")
      val r1 = PartitionOverwriteSink.load(spark, df, "day", s"$target/t", s"$audit/a", "t", "run1")
      assert(r1.days === Seq("2024-01-01", "2024-01-02"))
      assert(r1.streaks.size === 1 && r1.gaps === 0)
      // reload same days: no duplicates (overwrite, not append)
      PartitionOverwriteSink.load(spark, df, "day", s"$target/t", s"$audit/a", "t", "run2")
      assert(spark.read.parquet(s"$target/t").count() === 2)
      // audit: one row per day per run
      assert(spark.read.parquet(s"$audit/a").count() === 4)
      // reloading only day 2 replaces that partition alone
      PartitionOverwriteSink.load(spark, Seq(("2024-01-02", "c")).toDF("day", "v"),
        "day", s"$target/t", s"$audit/a", "t", "run3")
      assert(spark.read.parquet(s"$target/t").select(col("day").cast("string"), col("v"))
        .as[(String, String)].collect().sorted.toSeq ===
        Seq(("2024-01-01", "a"), ("2024-01-02", "c")))
      assert(spark.conf.get(modeKey) === "static")
    } finally spark.conf.set(modeKey, modeBefore)
  }

  test("sharded export: one sorted file per shard, membership portable, rewrite byte-identical") {
    import graft.sinks.ShardedExport
    val out = tmpDir("graft-shards")
    val df = (0L until 200L).map(i => (i, s"p$i")).toDF("id", "payload")
    ShardedExport.write(df, "id", s"$out/e", 4)
    val dirs = new java.io.File(s"$out/e").listFiles().filter(_.getName.startsWith("shard="))
    assert(dirs.map(_.getName).sorted.toSeq === (0 until 4).map(i => s"shard=$i"))
    // exactly one data file per shard (the co-location contract)
    dirs.foreach { d =>
      assert(d.listFiles().count(_.getName.endsWith(".parquet")) === 1, d.getName)
    }
    // membership = portable hash, contents sorted by id within each file
    val expectShard = df
      .select(col("id"), (graft.llm.Dedup.hash32(col("id").cast("string")) % 4).as("es"))
      .as[(Long, Long)].collect().toMap
    (0 until 4).foreach { k =>
      val ids = spark.read.parquet(s"$out/e/shard=$k").select("id").as[Long].collect()
      assert(ids.sorted.toSeq === ids.toSeq, s"shard $k not sorted")
      assert(ids.forall(expectShard(_) === k.toLong), s"shard $k has a misplaced id")
    }
    // a rewrite of the same frame reproduces the same bytes per shard
    // (keyed by shard DIRECTORY — data file names share a part number
    // when AQE coalesces the small shards into one task)
    def shardBytes(): Map[String, Seq[Byte]] =
      new java.io.File(s"$out/e").listFiles().filter(_.getName.startsWith("shard="))
        .map(d => d.getName -> java.nio.file.Files.readAllBytes(
          d.listFiles().filter(_.getName.endsWith(".parquet")).head.toPath).toSeq)
        .toMap
    val before = shardBytes()
    val manifest = ShardedExport.write(df, "id", s"$out/e", 4)
    assert(shardBytes() === before, "shard bytes changed on rewrite")
    // manifest: entries match the written files (rows from read-back,
    // bytes and md5 from the actual data files) and round-trip via
    // readManifest; a loader can verify integrity without decoding
    // parquet
    assert(manifest.map(_.shard) === Seq(0L, 1L, 2L, 3L))
    assert(manifest.map(_.n_rows).sum === 200L)
    (0 until 4).foreach { k =>
      val readRows = spark.read.parquet(s"$out/e/shard=$k").count()
      assert(manifest(k).n_rows === readRows, s"manifest rows off for shard $k")
      val file = new java.io.File(s"$out/e/shard=$k").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      assert(manifest(k).n_bytes === file.length(), s"manifest bytes off for shard $k")
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(java.nio.file.Files.readAllBytes(file.toPath))
        .map(b => f"$b%02x").mkString
      assert(manifest(k).md5 === hex, s"manifest md5 off for shard $k")
    }
    assert(ShardedExport.readManifest(spark, s"$out/e") === manifest)
    // the manifest file must be invisible to a directory read
    assert(spark.read.parquet(s"$out/e").count() === 200L)
  }

  test("jsonl export: same portable membership, line-sorted shards, lossless round-trip, byte-stable rewrite") {
    import graft.sinks.ShardedExport
    val out = tmpDir("graft-jsonl")
    val df = (0L until 200L).map(i => (i, s"p$i", i * 3))
      .toDF("id", "payload", "n")
    val manifest = ShardedExport.writeJsonl(df, "id", s"$out/e", 4)
    assert(manifest.map(_.shard) === Seq(0L, 1L, 2L, 3L))
    assert(manifest.map(_.n_rows).sum === 200L)
    // same membership law as the parquet export
    val expectShard = df
      .select(col("id"), (graft.llm.Dedup.hash32(col("id").cast("string")) % 4).as("es"))
      .as[(Long, Long)].collect().toMap
    // each shard dir: exactly one .txt file, valid sorted JSON lines
    (0 until 4).foreach { k =>
      val files = new java.io.File(s"$out/e/shard=$k").listFiles()
        .filter(_.getName.endsWith(".txt"))
      assert(files.length === 1, s"shard $k file count")
      val lines = scala.io.Source.fromFile(files.head, "UTF-8").getLines().toSeq
      assert(lines.sorted === lines, s"shard $k not line-sorted")
      assert(lines.forall(l => l.startsWith("{\"id\":") && l.endsWith("}")), s"shard $k malformed lines")
    }
    // lossless round-trip with an explicit schema
    val back = spark.read.schema("id LONG, payload STRING, n LONG")
      .json(s"$out/e").select(col("id"), col("payload"), col("n"))
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(back.toSeq === (0L until 200L).map(i => (i, s"p$i", i * 3)))
    back.foreach { case (id, _, _) => assert(expectShard(id) >= 0) }
    // rewrite reproduces the same manifest (same bytes, same md5)
    assert(ShardedExport.writeJsonl(df, "id", s"$out/e", 4) === manifest)
  }
}
