package graft.app

import java.time.Clock
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.Sessions
import graft.io.TableIo
import graft.ops.DateOps
import graft.pipeline.{CpaPipeline, PuaPipeline}
import graft.storage.{Catalog, LocalFsStorage, StorageClient}

/** End-to-end payroll ETL driver — the engine's equivalent of running the
  * reference script (/root/reference/etl_payroll_pipeline.py:11-640):
  * storage auth boundary → recursive catalog → pattern-based input
  * detection → loads → PUA + CPA pipelines → date-stamped CSV/XLSX sinks.
  *
  * Usage: graft.app.Main <inputRoot> <lookupRoot> <outputFolder>
  * Inputs are discovered by the reference's own rules: PUA file by
  * substring "PUA" + Excel extension, lookups by exact name, BW/MN
  * certification CSVs by substring.
  */
object Main {

  final case class LoadSummary(name: String, found: Boolean, rows: Long)

  def main(args: Array[String]): Unit = {
    val Array(inputRoot, lookupRoot, outFolder) = args.take(3)
    val spark = Sessions.local()
    val storage = new LocalFsStorage
    val clock = Clock.systemUTC()
    run(spark, storage, inputRoot, lookupRoot, outFolder, clock)
    spark.stop()
  }

  def run(spark: SparkSession, storage: StorageClient, inputRoot: String,
          lookupRoot: String, outFolder: String, clock: Clock): Seq[String] = {
    val catalog = Catalog.build(spark, storage, inputRoot)
    val lookupCatalog = Catalog.build(spark, storage, lookupRoot)
    val summaries = scala.collection.mutable.ArrayBuffer.empty[LoadSummary]

    // an input that is not found is warned about and its pipeline skipped
    // (the reference's warn-and-skip, ref 85-86, 131-132, 152-153)
    def skipIfMissing(label: String, df: Option[DataFrame]): Option[DataFrame] = {
      if (df.isEmpty) {
        summaries += LoadSummary(label, found = false, 0L)
        System.err.println(s"[graft] WARN: input '$label' not found — skipping")
      }
      df
    }
    def loadCsv(label: String, matches: Column): Option[DataFrame] = {
      val m = Catalog.firstMatch(lookupCatalog, matches)
      val df = m.map(f => TableIo.readCsv(spark, f.file_path))
      df.foreach(d => summaries += LoadSummary(label, found = true, d.count()))
      skipIfMissing(label, df)
    }
    def loadCsvByName(name: String): Option[DataFrame] =
      loadCsv(name, Catalog.nameEquals(name))
    def loadCsvContaining(sub: String): Option[DataFrame] =
      loadCsv(s"*$sub*", Catalog.nameContains(sub) && Catalog.hasExtension(".csv"))

    // primary PUA extract: substring "PUA" + Excel extension (ref 67-70)
    val puaFile = Catalog.firstMatch(catalog,
      Catalog.nameContains("PUA") && Catalog.hasExtension(".xlsx", ".xls"))
    val pua = skipIfMissing("*PUA*.xlsx",
      puaFile.map(f => TableIo.readXlsx(spark, storage, f.file_path)))
    // the CPA Excel and YTD/Feeder_List inputs are loaded for load-summary
    // parity but never consumed (SURVEY.md §0 dead inputs)
    val cpaDead = Catalog.firstMatch(catalog,
      Catalog.nameMatchesBounded("CPA") && Catalog.hasExtension(".xlsx", ".xls"))
    summaries += LoadSummary("*CPA*.xlsx (unused)", cpaDead.isDefined, 0L)
    val ytdDead = Catalog.firstMatch(lookupCatalog,
      Catalog.nameContains("YTD") && Catalog.hasExtension(".xlsx", ".xls"))
    ytdDead.foreach { f => // loaded-but-never-consumed, like the reference
      val df = TableIo.readXlsx(spark, storage, f.file_path)
      summaries += LoadSummary(f.file_name + " (unused)", found = true, df.count())
    }
    loadCsvByName("Feeder_List.csv")

    val tsOrg = loadCsvByName("TS_Org.csv")
    val tsDept = loadCsvByName("TS_Dept.csv")
    val overtime = loadCsvByName("Overtime_E_Class.csv")
    val teM = loadCsvByName("TE_M.csv")
    val certBw = loadCsvContaining("BW")
    val certMn = loadCsvContaining("MN")

    val written = scala.collection.mutable.ArrayBuffer.empty[String]
    // one execution of the pipeline's plan feeds both stamped files
    def writeSinks(out: DataFrame, prefix: String): Seq[String] =
      TableIo.writeCsvXlsx(out, storage, outFolder,
        DateOps.stampedName(prefix, ".csv", clock),
        DateOps.stampedName(prefix, ".xlsx", clock))

    // each pipeline's build→materialize→write unit runs under a tracking
    // CacheScope: any operator-internal persist made while the pipeline
    // builds is freed when its writes complete — the bounded-lifetime
    // contract on the PRODUCTION path, not just in tests. Pinned executor
    // memory across pipeline units is the long-lived-session failure mode
    // this closes (the sinks inside the scope are the materialization).
    for (p <- pua; o <- tsOrg; d <- tsDept; ot <- overtime; te <- teM)
      graft.ops.CacheScope.using { implicit scope =>
        val out = PuaPipeline.run(PuaPipeline.Inputs(p, o, d, ot, te))
        written ++= writeSinks(out, "PUA")
      }
    for (bw <- certBw; mn <- certMn; o <- tsOrg; d <- tsDept;
         ot <- overtime; te <- teM)
      graft.ops.CacheScope.using { implicit scope =>
        val out = CpaPipeline.run(
          CpaPipeline.Inputs(bw, mn, o, d, ot, te), clock)
        written ++= writeSinks(out, "CPA")
      }

    summaries.foreach(s =>
      println(s"[graft] load ${s.name}: found=${s.found} rows=${s.rows}"))
    written.foreach(p => println(s"[graft] wrote $p"))
    written.toSeq
  }
}
