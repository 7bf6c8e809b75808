package graft.app

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.SparkSpec
import graft.io.Xlsx
import graft.pipeline.PayrollFixtures._
import graft.storage.LocalFsStorage

/** End-to-end: fixture files on disk → catalog discovery → XLSX/CSV loads
  * → both pipelines → date-stamped CSV+XLSX sinks, with a pinned clock. */
class MainE2ESpec extends SparkSpec {

  private def csvBytes(cols: Seq[String], rows: Seq[Seq[Option[String]]]): Array[Byte] = {
    def cell(v: Option[String]) = v.map { s =>
      if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\""
      else s
    }.getOrElse("")
    (cols.mkString(",") + "\n" +
      rows.map(_.map(cell).mkString(",")).mkString("\n")).getBytes("UTF-8")
  }

  /** The fixture drop on disk: inputs/ and lookups/ under a fresh temp
    * directory; `withBw = false` leaves out the BW certification CSV and
    * `withPua = false` the PUA workbook. */
  private def writeDrop(withBw: Boolean = true,
                        withPua: Boolean = true): java.nio.file.Path = {
    val root = Files.createTempDirectory("graft_e2e")
    val inDir = root.resolve("inputs"); val lkDir = root.resolve("lookups")
    Files.createDirectories(inDir); Files.createDirectories(lkDir)
    // primary PUA extract as a real XLSX produced by our own codec
    if (withPua) Files.write(inDir.resolve("Monthly PUA Extract.xlsx"),
      Xlsx.write(PuaColumns, PuaRows))
    // lookups + certs as CSVs with the reference's exact names/patterns
    Files.write(lkDir.resolve("TS_Org.csv"), csvBytes(TsOrgColumns, TsOrgRows))
    Files.write(lkDir.resolve("TS_Dept.csv"), csvBytes(TsDeptColumns, TsDeptRows))
    Files.write(lkDir.resolve("Overtime_E_Class.csv"),
      csvBytes(OvertimeColumns, OvertimeRows))
    Files.write(lkDir.resolve("TE_M.csv"), csvBytes(TeMColumns, TeMRows))
    Files.write(lkDir.resolve("Feeder_List.csv"),
      "col1\nv1\n".getBytes("UTF-8"))
    if (withBw) Files.write(lkDir.resolve("Cert BW extract.csv"),
      csvBytes(CertColumns, CertBwRows))
    Files.write(lkDir.resolve("Cert MN extract.csv"),
      csvBytes(CertColumns, CertMnRows))
    root
  }

  private def runMain(root: java.nio.file.Path): Seq[String] =
    Main.run(spark, new LocalFsStorage, root.resolve("inputs").toString,
      root.resolve("lookups").toString, root.resolve("out").toString, FixedClock)

  /** One CSV line as the sink writes it: quoted fields may hold commas and
    * doubled quotes, and a quoted empty field (a null timestamp) reads "". */
  private def splitCsvLine(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quoted = false
    var i = 0
    while (i < line.length) {
      val ch = line.charAt(i)
      if (quoted && ch == '"' && line.startsWith("\"\"", i)) { cur += '"'; i += 1 }
      else if (ch == '"') quoted = !quoted
      else if (ch == ',' && !quoted) { out += cur.toString; cur.clear() }
      else cur += ch
      i += 1
    }
    out += cur.toString
    out.result()
  }

  /** The XLSX holds the CSV's header and rows in the CSV's order, cell by
    * cell; a timestamp the CSV renders date-only compares on its date. */
  private def assertXlsxMatchesCsv(csvPath: String, xlsxPath: String): Unit = {
    val lines = new String(Files.readAllBytes(Paths.get(csvPath)), "UTF-8")
      .split("\n").toSeq.map(splitCsvLine)
    val (h, rows) = Xlsx.readTable(Files.readAllBytes(Paths.get(xlsxPath)))
    assert(h == lines.head, s"$xlsxPath header")
    assert(rows.size == lines.size - 1, s"$xlsxPath row count")
    rows.zip(lines.tail).zipWithIndex.foreach { case ((x, c), r) =>
      assert(x.size == c.size, s"$xlsxPath row $r width")
      x.map(_.getOrElse("")).zip(c).zipWithIndex.foreach { case ((xv, cv), i) =>
        assert(xv == cv || xv == cv + " 00:00:00",
          s"$xlsxPath row $r column ${h(i)}: xlsx '$xv' vs csv '$cv'")
      }
    }
  }

  test("full payroll run: discovery, loads, pipelines, stamped sinks") {
    val root = writeDrop()
    val storage = new LocalFsStorage

    spark.catalog.clearCache() // known-clean baseline for the scope check
    val written = runMain(root)

    // Main wraps each pipeline unit in CacheScope.using: every
    // operator-internal persist must be freed by the time run returns —
    // a long-lived session must not accumulate pinned executor memory
    assert(spark.sharedState.cacheManager.isEmpty,
      "pipeline-internal caches survived Main.run")

    assert(written.size == 4, s"expected 4 outputs, got $written")
    // stamped names from the pinned clock: MMddyyyy_HHmm of 2025-03-15T12:00Z
    assert(written.exists(_.endsWith("PUA_Data_Transformed_03152025_1200.csv")))
    assert(written.exists(_.endsWith("CPA_Data_Transformed_03152025_1200.xlsx")))

    // PUA CSV golden properties: 6 surviving rows, 26 columns, dedup winner
    val puaCsv = new String(Files.readAllBytes(
      java.nio.file.Paths.get(
        written.find(p => p.endsWith(".csv") && p.contains("PUA")).get)), "UTF-8")
    val lines = puaCsv.trim.split("\n").toSeq
    assert(lines.head.split(",", -1).length == 26)
    assert(lines.size == 7) // header + 6 rows
    assert(lines.exists(l => l.contains("u1") && l.contains("RGS")))
    assert(!lines.exists(_.contains("OVT"))) // dedup dropped the second u1 row

    // CPA outputs: 3 rows × 20 cols
    val cpaCsv = new String(Files.readAllBytes(
      java.nio.file.Paths.get(
        written.find(p => p.endsWith(".csv") && p.contains("CPA")).get)), "UTF-8")
    val cpaLines = cpaCsv.trim.split("\n").toSeq
    assert(cpaLines.head.split(",", -1).length == 20)
    assert(cpaLines.size == 4)
    assert(cpaLines.exists(_.contains("u2-nan") == false)) // UIN Job not in output

    // each XLSX holds its CSV's rows in the CSV's order, read back
    // through our own reader
    for (p <- Seq("PUA", "CPA")) {
      def out(ext: String) = written.find(w => w.contains(p) && w.endsWith(ext)).get
      assertXlsxMatchesCsv(out(".csv"), out(".xlsx"))
    }
    val (h, rows) = Xlsx.readTable(storage.readBytes(
      written.find(_.endsWith("PUA_Data_Transformed_03152025_1200.xlsx")).get))
    assert(h.length == 26 && rows.size == 6)
  }

  test("each pipeline's plan executes once: one collect feeds its CSV and XLSX") {
    val root = writeDrop()
    val sinkExecs = new java.util.concurrent.atomic.AtomicInteger
    @volatile var sentinelSeen = false
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) =>
          if (s.description.startsWith("collect at TableIo.scala"))
            sinkExecs.incrementAndGet(): Unit
          if (s.description.contains("MainE2ESpec.scala")) sentinelSeen = true
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val written = runMain(root)
      assert(written.size == 4)
      // events arrive in order: once this action's start is seen, every
      // execution of the run has been counted
      spark.range(1).collect()
      var tries = 0
      while (!sentinelSeen && tries < 100) { Thread.sleep(100); tries += 1 }
      assert(sentinelSeen, "listener never saw the sentinel action")
    } finally spark.sparkContext.removeSparkListener(l)
    assert(sinkExecs.get == 2,
      s"expected one sink execution per pipeline, got ${sinkExecs.get}")
  }

  /** Runs Main over `root`, returning what it wrote and its stderr. */
  private def runMainCapturingErr(root: java.nio.file.Path): (Seq[String], String) = {
    val err = new java.io.ByteArrayOutputStream
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    val written = try runMain(root) finally System.setErr(saved)
    val outFiles = Files.list(root.resolve("out")).toArray.map(_.toString).toSeq
    assert(outFiles.sorted == written.sorted)
    (written, err.toString("UTF-8"))
  }

  test("a missing BW certification CSV warns and skips only the CPA pipeline") {
    val (written, err) = runMainCapturingErr(writeDrop(withBw = false))
    assert(written.size == 2 && written.forall(_.contains("PUA_Data_Transformed")),
      s"expected only the two PUA outputs, got $written")
    assert(err.contains("[graft] WARN: input '*BW*' not found — skipping"), err)
  }

  test("a missing PUA workbook warns and skips only the PUA pipeline") {
    val (written, err) = runMainCapturingErr(writeDrop(withPua = false))
    assert(written.size == 2 && written.forall(_.contains("CPA_Data_Transformed")),
      s"expected only the two CPA outputs, got $written")
    assert(err.contains("[graft] WARN: input '*PUA*.xlsx' not found — skipping"), err)
  }
}
