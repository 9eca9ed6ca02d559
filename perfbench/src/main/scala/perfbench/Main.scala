package perfbench

import org.apache.spark.sql.SparkSession

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --cores <n> --work <dir>`. Prints `# ` notes, then one JSON result line.
  */
object Main {
  val workloads: Map[String, Ctx => Outcome] = Map(
    "rewrite_policy_scale" -> RewritePolicyScale.run,
    "analyst_session" -> AnalystSession.run,
    "secured_stream" -> SecuredStream.run)

  /** End-to-end metrics, printed on every untraced run. */
  val e2e: Seq[(String, String)] = Seq("setup_s" -> "s", "ops_per_s" -> "1/s",
    "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms", "heap_retained_mb" -> "MiB")

  private val masks = Seq("MASK", "MASK_SHOW_FIRST_4", "MASK_SHOW_LAST_4", "MASK_HASH",
    "MASK_DATE_SHOW_YEAR")

  /** Per-layer metrics, printed on every traced run; a metric a workload
    * does not exercise reads 0.
    */
  val perLayer: Seq[(String, String)] = Seq(
    "rows_per_s" -> "rows/s", "dml_latency_p50_ms" -> "ms", "failed_ratio" -> "fraction",
    "policy.lookup_ms" -> "ms", "policy.lookups_per_op" -> "count",
    "policy.hit_ratio" -> "ratio", "policy.store_size" -> "count",
    "plans.row_filter_ms" -> "ms", "plans.data_mask_ms" -> "ms",
    "plans.column_deny_ms" -> "ms", "plans.render_ms" -> "ms",
    "plans.dml_rewrite_ms" -> "ms", "plans.filters_injected_per_op" -> "count",
    "plans.masks_injected_per_op" -> "count", "plans.pushed_filter_ratio" -> "ratio",
    "plans.extension_rule_ms" -> "ms",
    "security_context.parse_ms" -> "ms", "security_context.analyze_ms" -> "ms",
    "security_context.reanalyze_ms" -> "ms", "security_context.audit_rows_per_op" -> "count",
    "security_context.audit_rows_total" -> "count", "security_context.audit_read_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "execution.ms" -> "ms", "execution.jobs_per_op" -> "count",
    "execution.stages_per_op" -> "count", "execution.tasks_per_op" -> "count",
    "execution.task_time_ms_per_op" -> "ms", "execution.input_rows_per_op" -> "rows",
    "execution.shuffle_bytes_per_op" -> "bytes", "execution.exchanges_per_op" -> "count",
    "execution.gc_ms_per_op" -> "ms") ++
    masks.map(m => s"functions.mask_ns_per_row.$m" -> "ns") ++ Seq(
    "sources.dml_exec_ms" -> "ms", "sources.rows_written_per_op" -> "rows",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.ledgered_append_ms" -> "ms",
    "streaming.rows_per_batch" -> "rows", "streaming.restart_s" -> "s",
    "jvm.gc_ms" -> "ms", "jvm.heap_peak_mb" -> "MiB",
    "trace.traced_p50_ms" -> "ms", "trace.untraced_p50_ms" -> "ms",
    "trace.overhead_ratio" -> "ratio", "trace.facade_glue_ms" -> "ms") ++
    (Layer.all :+ "op").map(l => s"trace.self_ms_per_op.$l" -> "ms")

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.exit(2)
    throw new IllegalStateException(msg)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = opt("workload")
    val run = workloads.getOrElse(workload, usage(s"unknown workload $workload"))
    val trace = opt("trace") match {
      case "0" => false
      case "1" => true
      case t => usage(s"--trace must be 0 or 1, got $t")
    }
    val seconds = opt("seconds").toInt
    val cores = opt("cores").toInt
    val work = new java.io.File(opt("work")).getAbsolutePath
    Files.deleteTree(new java.io.File(work))
    val spark = session(cores, work, workload == "analyst_session")
    Harness.phase("session started")
    val outcome =
      try run(Ctx(workload, opt("seed").toLong, seconds, trace, cores, work,
        new java.io.File(work).getParent + "/cache", spark))
      finally { spark.stop(); Files.deleteTree(new java.io.File(work)); Harness.phase("stopped") }
    outcome.notes.foreach(Harness.note)
    val wanted = if (trace) perLayer else e2e
    val given = if (trace) outcome.layers else outcome.e2e
    val unknown = given.keySet -- wanted.map(_._1)
    require(unknown.isEmpty, s"metrics not declared: ${unknown.mkString(", ")}")
    val metrics = wanted.map { case (k, unit) =>
      k -> given.getOrElse(k, Stats.Metric(0.0, unit)).copy(unit = unit) }
    if (!trace) {
      val missing = e2e.map(_._1).filterNot(outcome.e2e.contains)
      require(missing.isEmpty, s"end-to-end metrics missing: ${missing.mkString(", ")}")
    }
    System.out.println(Stats.resultLine(outcome.failed == 0, outcome.attempted,
      outcome.failed, metrics))
    System.out.flush()
  }

  def session(cores: Int, work: String, extensions: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .config("spark.sql.catalog.mem", classOf[graft.sources.GraftMemoryCatalog].getName)
      // concurrent clients share task slots instead of queueing job by job
      .config("spark.scheduler.mode", "FAIR")
    val s = (if (extensions) b.withExtensions(new graft.plans.GraftSecurityExtensions) else b)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
