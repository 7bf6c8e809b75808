package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.app.Main
import graft.io.{TableIo, Xlsx}
import graft.pipeline.PayrollFixtures
import graft.storage.LocalFsStorage

/** One measured unit of work: its timed wall, the rows it processed, the
  * correctness failures found after it (outside the timed region), and —
  * when traced — its per-layer metrics. */
final case class UnitResult(runS: Double, rows: Long, errors: Seq[String],
                            layers: Map[String, Double])

trait Workload {
  def name: String
  /** Generates the inputs; not timed by any metric. */
  def prepare(): Unit
  /** Warm-up units in set-up: unchecked, on the same input. */
  def warmUnits: Int
  /** Measured units a run makes at least, however short `--seconds` is. */
  def minUnits: Int
  /** One set-up warm-up unit. */
  def warmUp(spark: SparkSession): Unit
  def unit(spark: SparkSession, trace: Option[Trace]): UnitResult
}

object Workload {
  def apply(name: String, benchDir: Path, work: Path, seed: Long): Workload = name match {
    case "payroll_month" => new PayrollMonth(work.resolve("payroll"), benchDir.getParent, seed)
    case "ops_repertoire" => new QueryWorkload(name, QueryPass.Repertoire, benchDir, seed)
    case "ops_heavy" => new QueryWorkload(name, QueryPass.Heavy, benchDir, seed)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private[perfbench] def secs(ns: Long): Double = ns / 1e9

  /** Layers every workload reports: execution counters summed over the
    * unit's SQL executions and the planning phases of each. */
  def commonLayers(execs: Seq[ExecSpan], cacheBytes: Long): Map[String, Double] = {
    val t = execs.foldLeft(new TaskSums)((acc, x) => { acc.add(x.tasks); acc })
    val wall = execs.map(_.wallS).sum
    Map(
      "plan.analysis_s" -> secs(execs.map(_.analysisNs).sum),
      "plan.optimizer_s" -> secs(execs.map(_.optimizerNs).sum),
      "plan.planning_s" -> secs(execs.map(_.planningNs).sum),
      "exec.jobs" -> execs.map(_.jobs).sum.toDouble,
      "exec.stages" -> execs.map(_.stages).sum.toDouble,
      "exec.tasks" -> t.tasks.toDouble,
      "exec.task_s" -> t.runMs / 1e3,
      "exec.cpu_s" -> secs(t.cpuNs),
      "exec.gc_s" -> t.gcMs / 1e3,
      "exec.busy_cores" -> (if (wall > 0) t.runMs / 1e3 / wall else 0.0),
      "scan.input_bytes" -> t.inputBytes.toDouble,
      "shuffle.write_bytes" -> t.shuffleWrite.toDouble,
      "shuffle.read_bytes" -> t.shuffleRead.toDouble,
      "shuffle.fetch_wait_s" -> t.fetchWaitMs / 1e3,
      "spill.bytes" -> t.spillBytes.toDouble,
      "cache.bytes" -> cacheBytes.toDouble)
  }
}

/** `payroll_month`: one `graft.app.Main.run` over a seeded synthetic drop —
  * discovery, loads, both pipelines and the four CSV/XLSX sinks. */
final class PayrollMonth(root: Path, repoRoot: Path, seed: Long) extends Workload {
  import Workload.secs

  val name = "payroll_month"
  /** Copies of the fixture rows in the drop (8 PUA and 8 certification
    * rows each): 4 000 PUA rows. A drop's wall time is mostly fixed
    * per-drop cost (79 Spark jobs, planning, JIT), so this is sized for
    * several units inside one run rather than for volume. */
  val copies = 500
  val warmUnits = 2
  val minUnits = 3

  private var bench: PayrollDrop.Inputs = _
  private var units = 0
  private lazy val goldenPua = PayrollDrop.goldenLines(repoRoot, "pua_output.csv")
  private lazy val goldenCpa = PayrollDrop.goldenLines(repoRoot, "cpa_output.csv")

  def prepare(): Unit = {
    bench = PayrollDrop.generate(root.resolve("drop"), copies, seed)
  }

  private def drop(spark: SparkSession, in: PayrollDrop.Inputs, storage: graft.storage.StorageClient): (Path, Seq[String]) = {
    units += 1
    val out = root.resolve(s"out-$units")
    (out, Main.run(spark, storage, in.inputDir.toString, in.lookupDir.toString,
      out.toString, PayrollFixtures.FixedClock))
  }

  def warmUp(spark: SparkSession): Unit = {
    val (out, _) = Console.withOut(System.err)(drop(spark, bench, new LocalFsStorage))
    deleteTree(out)
  }

  def unit(spark: SparkSession, trace: Option[Trace]): UnitResult = {
    val storage = new TimedStorage(new LocalFsStorage)
    trace.foreach(_.reset())
    val sc = spark.sparkContext
    sc.clearJobTags(); sc.addJobTag(Trace.TagPrefix + "drop")
    val t0 = System.nanoTime()
    val (out, written) = Console.withOut(System.err)(drop(spark, bench, storage))
    val runS = secs(System.nanoTime() - t0)
    sc.clearJobTags()
    val errors = check(written)
    val layers = trace.map(tr => layersOf(spark, tr, storage, runS, written)).getOrElse(Map.empty)
    deleteTree(out)
    UnitResult(runS, bench.inputRows, errors, layers)
  }

  private def check(written: Seq[String]): Seq[String] = {
    def file(p: String, ext: String) = written.find(w => w.contains(p) && w.endsWith(ext))
    if (written.size != 4) Seq(s"expected 4 outputs, got ${written.mkString(", ")}")
    else Seq("PUA" -> goldenPua, "CPA" -> goldenCpa).flatMap { case (p, golden) =>
      (file(p, ".csv"), file(p, ".xlsx")) match {
        case (Some(c), Some(x)) =>
          PayrollDrop.checkPair(p, golden, copies,
            Files.readAllBytes(Path.of(c)), Files.readAllBytes(Path.of(x)))
        case _ => Seq(s"$p: csv or xlsx output missing")
      }
    }
  }

  private def layersOf(spark: SparkSession, tr: Trace, st: TimedStorage, runS: Double,
                       written: Seq[String]): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val execs = tr.executions
    def group(p: ExecSpan => Boolean) = execs.filter(p)
    val matchX = group(_.file == "Catalog.scala")
    val csvX = group(x => x.file == "TableIo.scala" && x.op == "csv")
    val sinkX = group(x => x.file == "TableIo.scala" && x.op != "csv")
    val countX = group(x => x.file == "Main.scala" && x.op == "count")
    val sinkWall = sinkX.map(_.wallS).sum
    // codec cost alone, on the drop's own bytes (outside the timed unit)
    val t0 = System.nanoTime()
    TableIo.readXlsx(spark, st, bench.inputDir.resolve(PayrollDrop.PuaFile).toString)
    val xlsxRead = secs(System.nanoTime() - t0)
    val xlsxWrite = written.filter(_.endsWith(".xlsx")).map { p =>
      val (h, rows) = Xlsx.readTable(Files.readAllBytes(Path.of(p)))
      val t1 = System.nanoTime()
      Xlsx.write(h, rows)
      secs(System.nanoTime() - t1)
    }.sum
    Workload.commonLayers(execs, tr.cacheBytes) ++ Map(
      "storage.list_s" -> secs(st.listNs),
      "storage.read_s" -> secs(st.readNs),
      "storage.read_bytes" -> st.readBytes.toDouble,
      "storage.write_s" -> secs(st.writeNs),
      "storage.write_bytes" -> st.writeBytes.toDouble,
      "storage.match_jobs" -> matchX.map(_.jobs).sum.toDouble,
      "storage.match_s" -> matchX.map(_.wallS).sum,
      "io.xlsx_read_s" -> xlsxRead,
      "io.xlsx_write_s" -> xlsxWrite,
      "io.csv_scan_jobs" -> csvX.map(_.jobs).sum.toDouble,
      "io.csv_scan_s" -> csvX.map(_.wallS).sum,
      "io.sink_jobs" -> sinkX.map(_.jobs).sum.toDouble,
      "io.sink_spark_s" -> sinkWall,
      "io.result_bytes" -> execs.map(_.tasks.resultBytes).sum.toDouble,
      "app.jobs" -> execs.map(_.jobs).sum.toDouble,
      "app.stages" -> execs.map(_.stages).sum.toDouble,
      "app.tasks" -> execs.map(_.tasks.tasks).sum.toDouble,
      "app.load_count_jobs" -> countX.map(_.jobs).sum.toDouble,
      "app.load_count_s" -> countX.map(_.wallS).sum,
      "app.driver_s" -> (runS - execs.map(_.wallS).sum),
      "pipeline.exec_count" -> sinkX.size.toDouble,
      "pipeline.busy_cores" -> (if (sinkWall > 0) sinkX.map(_.tasks.runMs).sum / 1e3 / sinkWall else 0.0),
      "pipeline.analysis_s" -> secs(sinkX.map(_.analysisNs).sum),
      "pipeline.optimizer_s" -> secs(sinkX.map(_.optimizerNs).sum),
      "pipeline.planning_s" -> secs(sinkX.map(_.planningNs).sum))
  }

  /** Call-site table of the last traced drop, for the notes. */
  def detailOf(tr: Trace): String =
    tr.executions.groupBy(x => s"${x.op} at ${x.file}").toSeq.sortBy(-_._2.map(_.jobs).sum)
      .map { case (k, xs) =>
        f"  $k%-28s execs=${xs.size}%3d jobs=${xs.map(_.jobs).sum}%3d " +
          f"stages=${xs.map(_.stages).sum}%3d wall=${xs.map(_.wallS).sum}%.3fs " +
          f"task=${xs.map(_.tasks.runMs).sum / 1e3}%.3fs"
      }.mkString("\n")

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** `ops_repertoire` / `ops_heavy`: one pass over a fixed query list on the
  * bundled tables, in an order drawn from the seed. One warm-up pass fills
  * codegen and caches for every query, and at least two passes are
  * measured: a fresh JVM's first pass costs about four warm ones, which
  * leaves a run little room for more. The first measured pass of a run is checked, each query
  * after its timed write; a checksum job costs about as much as the
  * write, so checking every pass would not fit either. */
final class QueryWorkload(val name: String, queries: Seq[String], benchDir: Path,
                          seed: Long) extends Workload {
  import Workload.secs

  val tablesDir: Path = benchDir.resolve("data").resolve("tables")
  val expectedFile: Path = benchDir.resolve("expected").resolve("query_checksums.tsv")
  val order: Seq[String] = new scala.util.Random(seed).shuffle(queries)
  val warmUnits = 1
  val minUnits = 2
  private var expected: Map[String, QueryPass.Checksum] = Map.empty
  private var measured = 0
  /** The checked pass, whose checksums `--record` writes. */
  var lastRuns: Seq[QueryPass.QueryRun] = Seq.empty
  var lastPerQuery: Seq[(String, Map[String, Double])] = Seq.empty

  def prepare(): Unit =
    if (Files.exists(expectedFile)) expected = QueryPass.readExpected(expectedFile)

  private def pass(spark: SparkSession, check: Boolean): Seq[QueryPass.QueryRun] =
    order.map(q => QueryPass.runOne(spark, q, tablesDir.toString, check))

  def warmUp(spark: SparkSession): Unit = {
    val runs = pass(spark, check = false)
    System.err.println("[perfbench] warm-up pass: " +
      runs.sortBy(-_.wallS).map(r => f"${r.name} ${r.wallS}%.2f").mkString(", "))
  }

  def unit(spark: SparkSession, trace: Option[Trace]): UnitResult = {
    trace.foreach(_.reset())
    val check = measured == 0
    measured += 1
    val runs = pass(spark, check)
    if (check) lastRuns = runs
    val runS = runs.map(_.wallS).sum
    val errors = if (check) QueryPass.check(runs, expected) else Seq.empty
    val layers = trace.map(tr => layersOf(spark, tr, runs)).getOrElse(Map.empty)
    UnitResult(runS, order.flatMap(expected.get).map(_.rows).sum, errors, layers)
  }

  private def layersOf(spark: SparkSession, tr: Trace,
                       runs: Seq[QueryPass.QueryRun]): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val execs = tr.executions.filterNot(_.tag.endsWith(QueryPass.CheckTag))
    val byQuery = execs.groupBy(_.tag.takeWhile(_ != '/'))
    val perQuery = runs.map { r =>
      val xs = byQuery.getOrElse(r.name, Seq.empty)
      val build = xs.filter(_.tag.endsWith("/build"))
      val exec = xs.filter(_.tag.endsWith("/exec"))
      // task metrics over both phases (a query's eager build work is its
      // cost too); job / stage / task counts of the write alone
      r.name -> (Workload.commonLayers(xs, 0L) ++ Map(
        "run_s" -> r.wallS,
        "exec.jobs" -> exec.map(_.jobs).sum.toDouble,
        "exec.stages" -> exec.map(_.stages).sum.toDouble,
        "exec.tasks" -> exec.map(_.tasks.tasks).sum.toDouble,
        "plan.build_s" -> r.buildS,
        "plan.build_jobs" -> build.map(_.jobs).sum.toDouble,
        "plan.analysis_s" -> (secs(r.analysisNs) + secs(xs.map(_.analysisNs).sum)),
        "plan.optimizer_s" -> secs(xs.map(_.optimizerNs).sum),
        "plan.planning_s" -> secs(xs.map(_.planningNs).sum)))
    }
    lastPerQuery = perQuery
    val pq = perQuery.toMap
    val familyQuery = QueryPass.Families.toMap
    def fam(family: String, metric: String) =
      pq.get(familyQuery(family)).flatMap(_.get(metric)).getOrElse(0.0)
    def total(metric: String) = perQuery.map(_._2.getOrElse(metric, 0.0)).sum
    Workload.commonLayers(execs, tr.cacheBytes) ++ Map(
      "plan.build_s" -> total("plan.build_s"),
      "plan.build_jobs" -> total("plan.build_jobs"),
      "plan.analysis_s" -> total("plan.analysis_s"),
      "exec.jobs" -> total("exec.jobs"),
      "exec.stages" -> total("exec.stages"),
      "exec.tasks" -> total("exec.tasks"),
      "operators.setsim.run_s" -> fam("setsim", "run_s"),
      "operators.setsim.shuffle_bytes" -> fam("setsim", "shuffle.write_bytes"),
      "operators.minhash.run_s" -> fam("minhash", "run_s"),
      "operators.minhash.shuffle_bytes" -> fam("minhash", "shuffle.write_bytes"),
      "ops.cluster.run_s" -> fam("cluster", "run_s"),
      "ops.cluster.jobs" -> (fam("cluster", "exec.jobs") + fam("cluster", "plan.build_jobs")),
      "ops.graph.jobs" -> (fam("graph", "exec.jobs") + fam("graph", "plan.build_jobs")),
      "ops.spans.run_s" -> fam("spans", "run_s"),
      "ops.rfm.jobs" -> (fam("rfm", "exec.jobs") + fam("rfm", "plan.build_jobs")))
  }
}
