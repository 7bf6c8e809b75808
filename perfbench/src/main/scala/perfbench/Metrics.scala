package perfbench

/** The metric names and units the benchmark prints — the same set, in the
  * same order, that BENCHMARK.json declares (a test holds the two equal). */
object Metrics {

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "run_s" -> "s",
    "rows_per_s" -> "rows/s")

  private def s(n: String*) = n.map(_ -> "s")
  private def count(n: String*) = n.map(_ -> "count")
  private def bytes(n: String*) = n.map(_ -> "bytes")

  val PerLayer: Seq[(String, String)] =
    // payroll drop: storage decorator, call-site attributed executions, codecs
    s("storage.list_s", "storage.read_s") ++ bytes("storage.read_bytes") ++
    s("storage.write_s") ++ bytes("storage.write_bytes") ++
    count("storage.match_jobs") ++ s("storage.match_s") ++
    s("io.xlsx_read_s", "io.xlsx_write_s") ++
    count("io.csv_scan_jobs") ++ s("io.csv_scan_s") ++
    count("io.sink_jobs") ++ s("io.sink_spark_s") ++ bytes("io.result_bytes") ++
    count("app.jobs", "app.stages", "app.tasks", "app.load_count_jobs") ++
    s("app.load_count_s", "app.driver_s") ++
    count("pipeline.exec_count") ++ Seq("pipeline.busy_cores" -> "cores") ++
    s("pipeline.analysis_s", "pipeline.optimizer_s", "pipeline.planning_s") ++
    // every workload: planning phases and execution counters
    s("plan.build_s") ++ count("plan.build_jobs") ++
    s("plan.analysis_s", "plan.optimizer_s", "plan.planning_s") ++
    count("exec.jobs", "exec.stages", "exec.tasks") ++
    s("exec.task_s", "exec.cpu_s", "exec.gc_s") ++ Seq("exec.busy_cores" -> "cores") ++
    bytes("scan.input_bytes", "shuffle.write_bytes", "shuffle.read_bytes") ++
    s("shuffle.fetch_wait_s") ++ bytes("spill.bytes", "cache.bytes") ++
    // heavy families: the family probes of ops_repertoire, all of ops_heavy
    s("operators.setsim.run_s") ++ bytes("operators.setsim.shuffle_bytes") ++
    s("operators.minhash.run_s") ++ bytes("operators.minhash.shuffle_bytes") ++
    s("ops.cluster.run_s") ++ count("ops.cluster.jobs", "ops.graph.jobs") ++
    s("ops.spans.run_s") ++ count("ops.rfm.jobs") ++
    // set-up and the tracer itself
    s("setup.session_s", "setup.jit_s") ++ count("setup.codegen_compiles") ++
    s("trace.run_s", "trace.overhead_s")
}
