package perfbench

import graft.ColumnAccessDeniedException
import graft.plans._
import graft.policy.PolicyManager
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical._

/** Per-operation counts the traced run collects at the stage boundaries. */
final class StageCounts {
  var lookups = 0L; var hits = 0L
  var filters = 0L; var masks = 0L

  def metrics(ops: Double, tracer: Tracer): Map[String, Stats.Metric] = Map(
    "policy.lookup_ms" -> Stats.Metric(tracer.perOpMs("policy_lookups", ops), "ms"),
    "policy.lookups_per_op" -> Stats.Metric(lookups / ops, "count"),
    "policy.hit_ratio" -> Stats.Metric(hits.toDouble / lookups.max(1), "ratio"),
    "plans.filters_injected_per_op" -> Stats.Metric(filters / ops, "count"),
    "plans.masks_injected_per_op" -> Stats.Metric(masks / ops, "count"))
}

/** The stage calls `graft.SecurityContext` makes for one statement, made one
  * by one through the public functions of `graft.plans` and the session, each
  * recorded as a span: parse, analyze, column-deny check, row-filter rule,
  * data-mask rule, re-analyze. The facade's private audit bookkeeping is not
  * repeated; its cost is the gap between a facade call and these stages.
  */
final class Staged(spark: SparkSession, pm: PolicyManager, tracer: Tracer) {
  def session: SparkSession = spark
  val scope: TableScope = TableScope("spark_catalog", "default")

  def parse(sql: String): LogicalPlan =
    tracer.span("parse", Layer.SecurityContext)(spark.sessionState.sqlParser.parsePlan(sql))

  def analyze(name: String, plan: LogicalPlan): LogicalPlan =
    tracer.span(name, Layer.SecurityContext)(spark.sessionState.executePlan(plan).analyzed)

  /** Replay the lookups the rewrite makes for every scanned table. */
  def replayLookups(user: String, plan: LogicalPlan, counts: StageCounts): Unit =
    tracer.span("policy_lookups", Layer.Policy) {
      val scans = plan.collectWithSubqueries {
        case SubqueryAlias(id, child) if PlanShapes.isBaseTable(child) =>
          (PlanShapes.tableParts(id, scope), child.output.map(_.name))
      }
      scans.foreach { case ((c, d, t), cols) =>
        def hit(b: Boolean): Unit = { counts.lookups += 1; if (b) counts.hits += 1 }
        hit(pm.deniedColumns(user, c, d, t).nonEmpty)
        hit(pm.isDenied(user, c, d, t))
        hit(pm.rowFilterConditions(user, c, d, t).nonEmpty)
        hit(pm.hasDataMask(user, c, d, t))
        cols.foreach(col => hit(pm.dataMaskType(user, c, d, t, col).isDefined))
      }
    }

  def columnDeny(user: String, plan: LogicalPlan): Unit = {
    val vs = tracer.span("column_deny", Layer.Plans)(ColumnDenyCheck.violations(plan, user, pm, scope))
    if (vs.nonEmpty) throw new ColumnAccessDeniedException(
      s"user '$user' is denied column(s) ${vs.map(_._1).mkString(", ")}")
  }

  /** The read rewrite of one API ("row_filter", "data_mask", "mixed",
    * "mixed_raw_filter"), ending with the re-analysis; `replay` also replays
    * the policy lookups.
    */
  def rewrite(user: String, api: String, sql: String, counts: StageCounts,
      replay: Boolean = true): LogicalPlan = {
    val base = analyze("analyze", parse(sql))
    if (replay) replayLookups(user, base, counts)
    columnDeny(user, base)
    val filtered = tracer.span("row_filter", Layer.Plans)(
      RowFilterRule(spark, user, pm, scope, denyOnly = api == "data_mask")(base))
    val masked =
      if (api == "row_filter") filtered
      else tracer.span("data_mask", Layer.Plans)(DataMaskRule(spark, user, pm, scope,
        filterOnRaw = api == "mixed_raw_filter", auditIdentity = true)(filtered))
    val out = analyze("reanalyze", masked)
    counts.filters += out.collectWithSubqueries {
      case f: Filter if f.getTagValue(SecurityTags.RowFilterApplied).contains(true) => 1
    }.size
    counts.masks += out.collectWithSubqueries {
      case p: Project if p.getTagValue(SecurityTags.MaskApplied).contains(true) => 1
    }.size
    out
  }

  def render(plan: LogicalPlan): String =
    tracer.span("render", Layer.Plans)(SqlRenderer.toSql(plan))
}
