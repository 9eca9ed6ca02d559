package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Catalyst and execution counters of the traced run's executed frames. */
final class ExecCounts {
  private var analysisMs, optimizationMs, planningMs = 0.0
  private var exchanges = 0L
  private var injected, pushed = 0L

  /** Plan (a `catalyst` span) and execute (an `execution` span, its jobs
    * tagged with the operation) `df`, then read its `QueryExecution`.
    * `injected` lists, per policied scan, the table path and the columns of
    * each row-filter condition the rewrite put above it. Returns the rows.
    */
  def run(spark: SparkSession, tracer: Tracer, op: Long, df: DataFrame,
      injected: Seq[(String, Seq[String])]): Array[org.apache.spark.sql.Row] = {
    val qe = Plans.qe(df)
    tracer.span("optimize_plan", Layer.Catalyst)(qe.executedPlan)
    val rows = tracer.span("execute", Layer.Execution)(
      JobListener.tagged(spark, op)(df.collect()))
    synchronized {
      analysisMs += Plans.phaseMs(df, "analysis")
      optimizationMs += Plans.phaseMs(df, "optimization")
      planningMs += Plans.phaseMs(df, "planning")
      exchanges += Plans.exchanges(df)
      val scans = Plans.pushedFilters(df)
      injected.foreach { case (path, cols) =>
        this.injected += 1
        val hit = scans.exists { case (roots, text) =>
          roots.exists(_.endsWith(path)) && Plans.filterEntries(text).exists(e =>
            !e.startsWith("IsNotNull(") && cols.exists(e.contains))
        }
        if (hit) pushed += 1
      }
    }
    rows
  }

  def metrics(listener: JobListener, ops: Seq[OpRec], tracer: Tracer): Map[String, Stats.Metric] = {
    val n = ops.size.max(1).toDouble
    val accs = ops.flatMap(r => listener.of(r.id))
    def sum(f: listener.Acc => Double): Double = accs.map(f).sum / n
    Map(
      "catalyst.analysis_ms" -> Stats.Metric(analysisMs / n, "ms"),
      "catalyst.optimization_ms" -> Stats.Metric(optimizationMs / n, "ms"),
      "catalyst.planning_ms" -> Stats.Metric(planningMs / n, "ms"),
      "execution.ms" -> Stats.Metric(tracer.perOpMs("execute", n), "ms"),
      "execution.jobs_per_op" -> Stats.Metric(sum(_.jobs), "count"),
      "execution.stages_per_op" -> Stats.Metric(sum(_.stages), "count"),
      "execution.tasks_per_op" -> Stats.Metric(sum(_.tasks.toDouble), "count"),
      "execution.task_time_ms_per_op" -> Stats.Metric(sum(_.taskTimeMs.toDouble), "ms"),
      "execution.input_rows_per_op" -> Stats.Metric(sum(_.inputRows.toDouble), "rows"),
      "execution.shuffle_bytes_per_op" -> Stats.Metric(sum(_.shuffleBytes.toDouble), "bytes"),
      "execution.gc_ms_per_op" -> Stats.Metric(sum(_.gcMs.toDouble), "ms"),
      "execution.exchanges_per_op" -> Stats.Metric(exchanges / n, "count"),
      "plans.pushed_filter_ratio" -> Stats.Metric(
        if (injected == 0) 0.0 else pushed.toDouble / injected, "ratio"))
  }
}

/** Per-row cost of each registered mask function: noop-sink time of the
  * function over a cached column minus that of the bare column, per row.
  */
object MaskKernels {
  val types: Seq[String] = Seq("MASK", "MASK_SHOW_FIRST_4", "MASK_SHOW_LAST_4",
    "MASK_HASH", "MASK_DATE_SHOW_YEAR")

  /** `base` has a string column `s` and a date column `d`. */
  def nsPerRow(base: DataFrame): Map[String, Stats.Metric] = {
    val data = (1 until 4).foldLeft(base)((acc, _) => acc.union(base)).cache()
    val rows = data.count().toDouble
    def time(e: String): Long = {
      val t0 = System.nanoTime()
      data.selectExpr(e).write.format("noop").mode("overwrite").save()
      System.nanoTime() - t0
    }
    def column(t: String) = if (t == "MASK_DATE_SHOW_YEAR") "d" else "s"
    val exprs = types.map(t => t -> graft.policy.DataMaskType.builtin.find(_.name == t).get
      .transformerFor(column(t)).get)
    (0 until 2).foreach(_ => exprs.foreach { case (_, e) => time(e) }) // warm-up
    val samples = (0 until 5).map(_ => exprs.map { case (t, e) =>
      t -> (time(e) - time(column(t))) }).flatten
    data.unpersist(true)
    types.map(t => s"functions.mask_ns_per_row.$t" ->
      Stats.Metric(Stats.median(samples.filter(_._1 == t).map(_._2.toDouble)) / rows, "ns")).toMap
  }
}
