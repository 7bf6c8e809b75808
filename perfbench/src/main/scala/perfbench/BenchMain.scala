package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import graft.Sessions

/** Runs one workload in one JVM and prints the result object as the last
  * line of standard output.
  *
  * {{{
  * BenchMain --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *           --bench-dir <perfbench dir> --work <scratch dir> [--record <file>]
  * }}}
  *
  * Set-up is one fresh SparkSession plus the workload's unchecked warm-up
  * units — JIT, codegen and the session's lazy state fill here — and
  * `setup_s` is its wall time. Units then run back to back until
  * `--seconds` have passed (at least the workload's `minUnits`), and
  * `run_s` is their median. Outputs are checked after the timed region:
  * every drop, and the first measured pass of a query workload. With
  * `--trace 1` the window is doubled and the units come in untraced/traced
  * pairs, ordered ABBA; per-layer metrics are medians over the traced units
  * and `trace.overhead_s` is the median over pairs of traced minus
  * untraced wall. */
object BenchMain {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        benchDir: Path, work: Path, record: Option[Path])

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Path.of(need("bench-dir")), Path.of(need("work")),
      m.get("record").map(Path.of(_)))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Untraced/traced unit pairs a traced run makes at least. */
  val TracedPairs = 4

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val s = Sessions.tuned(SparkSession.builder().master(s"local[$cpus]"), cpus)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def jitMs: Long =
    Option(ManagementFactory.getCompilationMXBean).filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val wl = Workload(a.workload, a.benchDir, a.work, a.seed)
    wl.prepare()

    val jit0 = jitMs
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    val spark = session(a.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    (1 to wl.warmUnits).foreach(_ => wl.warmUp(spark))
    val setupS = (System.nanoTime() - t0) / 1e9
    val setupLayers = Map(
      "setup.session_s" -> sessionS,
      "setup.jit_s" -> (jitMs - jit0) / 1e3,
      "setup.codegen_compiles" -> (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble)

    // with --trace 1 the units run untraced, traced, traced, untraced, ...
    // (ABBA): each adjacent pair holds one unit of each kind, and neither
    // kind is always the later, more warmed-up one
    val tracer = if (a.trace) Some(new Trace) else None
    val results = Seq.newBuilder[(UnitResult, Boolean)]
    val window = if (a.trace) 2 * a.seconds else a.seconds
    val minUnits = if (a.trace) 2 * TracedPairs else wl.minUnits
    val m0 = System.nanoTime()
    var n = 0
    while (n < minUnits || (System.nanoTime() - m0) / 1e9 < window || (a.trace && n % 2 == 1)) {
      val trace = tracer.filter(_ => n % 4 == 1 || n % 4 == 2)
      trace.foreach { t => spark.sparkContext.addSparkListener(t); spark.listenerManager.register(t) }
      val r = try wl.unit(spark, trace)
              catch { case e: Exception =>
                UnitResult(0.0, 0L, Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}"), Map.empty) }
      trace.foreach { t => spark.sparkContext.removeSparkListener(t); spark.listenerManager.unregister(t) }
      r.errors.foreach(e => System.err.println(s"[perfbench] ${wl.name} unit failed: $e"))
      results += ((r, trace.isDefined))
      n += 1
    }
    val all = results.result()

    a.record.foreach { path =>
      wl match {
        case q: QueryWorkload =>
          Files.writeString(path, QueryPass.formatExpected(q.lastRuns))
          System.err.println(s"[perfbench] recorded ${q.lastRuns.size} checksums to $path")
        case _ =>
      }
    }

    val untraced = all.collect { case (r, false) if r.errors.isEmpty => r }
    val traced = all.collect { case (r, true) if r.errors.isEmpty => r }
    val values: Map[String, Double] =
      if (!a.trace) {
        val runS = median(untraced.map(_.runS))
        Map("setup_s" -> setupS, "run_s" -> runS,
            "rows_per_s" -> (if (runS > 0) median(untraced.map(_.rows.toDouble)) / runS else 0.0))
      } else {
        val runT = median(traced.map(_.runS))
        // traced minus untraced wall of each adjacent pair with no failure
        val pairDiffs = all.grouped(2).collect {
          case Seq((x, xt), (y, _)) if x.errors.isEmpty && y.errors.isEmpty =>
            if (xt) x.runS - y.runS else y.runS - x.runS
        }.toSeq
        Metrics.PerLayer.map { case (n, _) => n -> median(traced.map(_.layers.getOrElse(n, 0.0))) }.toMap ++
          setupLayers ++ Map(
            "trace.run_s" -> runT,
            "trace.overhead_s" -> median(pairDiffs))
      }
    val metrics = select(if (a.trace) Metrics.PerLayer else Metrics.EndToEnd, values)

    if (a.trace) writeSpans(a, wl, tracer.get)
    System.err.println(f"[perfbench] ${wl.name}: setup $setupS%.2f s; " +
      s"units ${all.size} (${all.count(_._1.errors.nonEmpty)} failed): " +
      all.map(u => f"${u._1.runS}%.2f").mkString(" ") + f" s, median ${median(all.map(_._1.runS))}%.3f s; " +
      f"fail_ratio ${all.count(_._1.errors.nonEmpty).toDouble / all.size.max(1)}%.3f")
    metrics.foreach { case (n, u, v) => System.err.println(f"[perfbench]   $n%-32s $v%14.4f $u") }
    stop(spark)

    println(resultLine(all.size, all.count(_._1.errors.nonEmpty), metrics))
  }

  /** The declared metrics, in declaration order, with their values. */
  def select(declared: Seq[(String, String)], values: Map[String, Double]): Seq[(String, String, Double)] =
    declared.map { case (n, u) =>
      (n, u, values.getOrElse(n, throw new IllegalStateException(s"metric $n was not measured")))
    }

  def resultLine(attempted: Int, failed: Int, metrics: Seq[(String, String, Double)]): String = {
    val json = metrics.map { case (n, u, v) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}"""
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.stripTrailingZeros.toPlainString

  /** The traced run's spans: per-query layers (query workloads) or the
    * drop's executions by call site, kept in memory until here. */
  private def writeSpans(a: Args, wl: Workload, tr: Trace): Unit = {
    val dir = a.work.resolve("trace")
    Files.createDirectories(dir)
    val text = wl match {
      case q: QueryWorkload =>
        val cols = Seq("run_s", "plan.build_s", "plan.build_jobs", "plan.analysis_s",
          "plan.optimizer_s", "plan.planning_s", "exec.jobs", "exec.stages", "exec.tasks",
          "exec.task_s", "shuffle.write_bytes", "scan.input_bytes")
        (("query" +: cols).mkString("\t") +: q.lastPerQuery.sortBy(_._1).map { case (n, m) =>
          (n +: cols.map(c => f"${m.getOrElse(c, 0.0)}%.4f")).mkString("\t")
        }).mkString("", "\n", "\n")
      case p: PayrollMonth => p.detailOf(tr) + "\n"
      case _ => ""
    }
    val out = dir.resolve(s"${wl.name}-seed${a.seed}.tsv")
    Files.write(out, text.getBytes(UTF_8))
    System.err.print(text)
    System.err.println(s"[perfbench] spans written to $out")
  }
}
