package graft

import graft.functions.MaskFunctions
import graft.plans.{ColumnDenyCheck, DataMaskRule, DmlSecurityRewrite, RowFilterRule, SecurityTags, TableScope}
import graft.policy.PolicyManager
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.graft.GraftSqlShims
import org.apache.spark.sql.types.StructType

/** One audit record. Actions, each with its `obj` and `detail`:
  *  - QUERY: a submission; obj = the entry point (`row_filter`,
  *    `data_mask`, `mixed`, `mixed_raw_filter`, `dml`), detail = the
  *    statement. It precedes the decision rows it caused.
  *  - ROW_FILTER: an injected row filter; obj = cat.db.table, detail = the
  *    condition (AND-ed when several match). On the DML target the detail
  *    ends in ` (DML target constraint)`.
  *  - ROW_DENY: a [[graft.policy.DenyRowPolicy]] decision; detail = `DENY`.
  *  - DATA_MASK: a mask decision; detail = the `col=MASK_TYPE` list,
  *    identity-only matches (`col=MASK_NONE`) included.
  *  - COLUMN_DENY: a query failed closed on denied columns; detail = the
  *    denied columns it referenced.
  * `seq` is the call order — deterministic for a fresh context. Only the
  * [[SecurityContext]] API writes audit rows; queries enforced by
  * [[graft.plans.GraftSecurityExtensions]] write none yet (ROADMAP item 3).
  */
case class AuditEntry(seq: Long, principal: String, action: String,
    obj: String, detail: String)

/** Thrown when a query references a column an active
  * [[graft.policy.ColumnDenyPolicy]] denies to the principal — analysis-time
  * and FAIL-CLOSED: a denied column never degrades to a silent null or a
  * mask (a masked read is still a read). The denial is recorded in the
  * audit trail (action COLUMN_DENY) before the throw.
  */
class ColumnAccessDeniedException(message: String) extends RuntimeException(message)

object ColumnAccessDeniedException {
  /** The column-deny failure for `user`'s `statement` ("query", "DML
    * statement"): one `cat.db.table.(cols)` entry per violating table.
    */
  def columns(user: String, violations: Seq[(String, Seq[String])],
      statement: String = "query"): ColumnAccessDeniedException =
    new ColumnAccessDeniedException(s"user '$user' is denied column(s) " +
      violations.map { case (o, cs) => s"$o.(${cs.mkString(",")})" }.mkString("; ") +
      s" — the $statement references them and fails closed")
}

/** User-facing facade — the Spark-native equivalent of the reference's
  * SecurityContext (SecurityContext.java:126-242).
  *
  * Lifecycle per query: parse -> analyze -> inject (RowFilterRule then
  * DataMaskRule) -> re-analyze -> execute. The re-analysis replaces the
  * reference's SQL-string round trip (toString + Flink re-parse,
  * SecurityContext.java:134) and gives name resolution, star expansion and
  * type coercion of injected policy expressions for free.
  */
final class SecurityContext(
    val spark: SparkSession,
    val policyManager: PolicyManager = new PolicyManager,
    defaultCatalog: String = "spark_catalog",
    defaultDatabase: String = "default"
) {
  MaskFunctions.register(spark)
  graft.functions.VectorFunctions.register(spark)

  private var scope = TableScope(defaultCatalog, defaultDatabase)

  /** Make `catalog`.`database` current — the reference's `useCatalog`
    * (SecurityContext.java:116-121 registers a catalog and issues USE
    * CATALOG): bare table names in queries resolve there, and policy
    * lookups qualify bare names with the same scope, so policies keyed on
    * the catalog keep matching. The catalog must be registered
    * (`spark.sql.catalog.<name>` — e.g. [[graft.sources.GraftMemoryCatalog]])
    * or be `spark_catalog`.
    */
  def useCatalog(catalog: String, database: String = "default"): Unit = {
    spark.sql(s"USE `$catalog`.`$database`")
    scope = TableScope(catalog, database)
  }

  /** Parse a single SQL statement (the parser rejects multi-statement input,
    * mirroring ParserImplExtension.java:74).
    */
  def parseSql(sql: String): LogicalPlan =
    spark.sessionState.sqlParser.parsePlan(sql)

  /** Parse a scalar/boolean expression fragment (reference parseExpression,
    * ParserImplExtension.java:54-58).
    */
  def parseExpression(sql: String): org.apache.spark.sql.catalyst.expressions.Expression =
    spark.sessionState.sqlParser.parseExpression(sql)

  private def analyzed(plan: LogicalPlan): LogicalPlan =
    spark.sessionState.executePlan(plan).analyzed

  // --- audit trail (the Ranger model the reference's PolicyManager names
  // as intent: every rewrite is an access decision worth recording) ---

  private val auditBuf = scala.collection.mutable.ArrayBuffer.empty[AuditEntry]

  /** Append a submission's QUERY row, then its decisions — (action,
    * "obj|detail") pairs. Driver-side, bounded by the number of policied
    * scans in the plan — never data-sized. Appends take one monitor so
    * concurrent rewrites through a shared context cannot corrupt the buffer
    * or duplicate seq values (seq derives from size at append).
    */
  private def audit(user: String, api: String, sql: String,
      decisions: Seq[(String, String)]): Unit = auditBuf.synchronized {
    auditBuf += AuditEntry(auditBuf.size.toLong, user, "QUERY", api, sql)
    decisions.foreach { case (action, crumb) =>
      val Array(obj, detail) = crumb.split("\\|", 2)
      auditBuf += AuditEntry(auditBuf.size.toLong, user, action, obj, detail)
    }
  }

  /** The policy applications the rules tagged in `plan`: each injection
    * site carries a `SecurityTags.*Audit` breadcrumb, and
    * collectWithSubqueries also reaches plans inside EXISTS/IN/scalar
    * subquery expressions.
    */
  private def taggedDecisions(plan: LogicalPlan): Seq[(String, String)] =
    plan.collectWithSubqueries {
      case f: Filter => f.getTagValue(SecurityTags.RowFilterAudit).map("ROW_FILTER" -> _)
        .orElse(f.getTagValue(SecurityTags.RowDenyAudit).map("ROW_DENY" -> _))
      case p: Project => p.getTagValue(SecurityTags.MaskAudit).map("DATA_MASK" -> _)
    }.flatten

  /** The audit trail as a DataFrame (seq, principal, action, obj, detail),
    * in call order. Identity-only mask matches record as ordinary DATA_MASK
    * decisions (detail `col=MASK_NONE`) after their submission's
    * plan-collected rows.
    */
  def auditLog: DataFrame = {
    import spark.implicits._
    auditBuf.synchronized(auditBuf.toSeq).toDF()
  }

  def clearAudit(): Unit = auditBuf.synchronized(auditBuf.clear())

  /** Catalog schema lookup (reference getTable, SecurityContext.java:253-292). */
  def getTable(table: String): StructType = spark.table(table).schema

  // --- column-deny enforcement (Ranger column-level deny) ---

  /** Fail CLOSED when the analyzed plan references a column an active
    * [[graft.policy.ColumnDenyPolicy]] denies to `user`: record the denial
    * (audit action COLUMN_DENY, after the submission's QUERY row) and throw
    * [[ColumnAccessDeniedException]] — an analysis-time error, never a
    * silent null or a mask (deny beats mask at any specificity). References
    * are collected from the plan ABOVE each base-table scan only (a temp
    * view's INTERNAL projections don't count as the user reading a column),
    * including subquery expressions; `SELECT *` expands to every column
    * during analysis, so a star over a denied column fails too. A query
    * touching only the table's other columns passes untouched. Runs on the
    * user's plan BEFORE any rewrite, in every rewrite entry point.
    */
  private def enforceColumnDeny(user: String, api: String, sql: String,
      plan: LogicalPlan): Unit = {
    val violations = ColumnDenyCheck.violations(plan, user, policyManager, scope)
    if (violations.nonEmpty) {
      audit(user, api, sql, violations.map { case (obj, cols) =>
        "COLUMN_DENY" -> s"$obj|${cols.mkString(",")}" })
      throw ColumnAccessDeniedException.columns(user, violations)
    }
  }

  /** The read rewrite behind every entry point: parse + analyze, the
    * column-deny gate (deny beats both rewrites, so it runs first), row
    * filters (`denyOnly`: deny decisions only), masks when `masked`, then
    * re-analysis and the audit. Identity-only mask decisions (MASK_NONE-only
    * scans build no Project to tag — [[graft.plans.DataMaskRule.identityAudit]])
    * follow the plan-collected rows.
    */
  private def secureRead(user: String, api: String, sql: String,
      denyOnly: Boolean = false, masked: Boolean = true,
      filterOnRaw: Boolean = false): LogicalPlan = {
    val base = analyzed(parseSql(sql))
    enforceColumnDeny(user, api, sql, base)
    val filtered = RowFilterRule(spark, user, policyManager, scope, denyOnly = denyOnly)(base)
    val mask = Option.when(masked)(DataMaskRule(spark, user, policyManager, scope,
      filterOnRaw = filterOnRaw, auditIdentity = true))
    val plan = analyzed(mask.fold(filtered)(_(filtered)))
    audit(user, api, sql, taggedDecisions(plan) ++
      mask.toSeq.flatMap(_.identityAudit).map("DATA_MASK" -> _))
    plan
  }

  // --- rewrite-only API (reference SecurityContext.java:126-167) ---

  def rewriteRowFilter(user: String, sql: String): LogicalPlan =
    secureRead(user, "row_filter", sql, masked = false)

  /** Masks only — behind a deny gate (denyOnly row-filter pass): the
    * mask-only entry point must never return rows of a DENIED table —
    * without it, dfDataMask alone would be fail-open relative to Ranger
    * semantics.
    */
  def rewriteDataMask(user: String, sql: String): LogicalPlan =
    secureRead(user, "data_mask", sql, denyOnly = true)

  /** Row filter BEFORE mask — fixed order, filters see masked values
    * (SecurityContext.java:154-167).
    */
  def mixedRewrite(user: String, sql: String): LogicalPlan =
    secureRead(user, "mixed", sql)

  /** Ranger-style composition (the divergence switch of SURVEY §7.3): row
    * filters evaluate over RAW column values; masking applies to the output
    * only. Use when a policy filters on a column that is also masked and the
    * reference's filter-sees-masked-values quirk is not wanted.
    */
  def mixedRewriteRawFilter(user: String, sql: String): LogicalPlan =
    secureRead(user, "mixed_raw_filter", sql, filterOnRaw = true)

  // --- rewrite-to-SQL API (best-effort text, for diffing/goldens; the
  // reference returns SQL strings, SecurityContext.java:126-167) ---

  def rewriteRowFilterSql(user: String, sql: String): String =
    graft.plans.SqlRenderer.toSql(rewriteRowFilter(user, sql))

  def rewriteDataMaskSql(user: String, sql: String): String =
    graft.plans.SqlRenderer.toSql(rewriteDataMask(user, sql))

  def mixedRewriteSql(user: String, sql: String): String =
    graft.plans.SqlRenderer.toSql(mixedRewrite(user, sql))

  // --- DataFrame API ---

  def dfRowFilter(user: String, sql: String): DataFrame =
    GraftSqlShims.ofRows(spark, rewriteRowFilter(user, sql))

  def dfDataMask(user: String, sql: String): DataFrame =
    GraftSqlShims.ofRows(spark, rewriteDataMask(user, sql))

  def dfMixed(user: String, sql: String): DataFrame =
    GraftSqlShims.ofRows(spark, mixedRewrite(user, sql))

  def dfMixedRawFilter(user: String, sql: String): DataFrame =
    GraftSqlShims.ofRows(spark, mixedRewriteRawFilter(user, sql))

  // --- row-level DML API (MERGE INTO / UPDATE / DELETE on tables with
  // SupportsRowLevelOperations — beyond-reference surface; the reference's
  // only DML is INSERT INTO ... SELECT, handled by the read rewrites'
  // embedded-query path). Policy contract in [[graft.plans.DmlSecurityRewrite]]:
  // target row filters constrain which existing rows the user can touch,
  // source reads get the full filter+mask rewrite, deny/column-deny fail
  // closed. ---

  /** Parse + security-rewrite + analyze one DML statement; audits the
    * submission, the target constraint, and every source-side policy
    * application. Throws [[ColumnAccessDeniedException]] fail-closed on
    * denied tables/columns (after auditing the denial).
    */
  def rewriteDml(user: String, sql: String): LogicalPlan = {
    // the target-side decisions (condition rewrites, no plan node to tag)
    // arrive through the rule's crumb buffer
    val rule = DmlSecurityRewrite(spark, user, policyManager, scope)
    val rewritten =
      try rule(parseSql(sql))
      catch { case e: ColumnAccessDeniedException =>
        audit(user, "dml", sql, rule.dmlAudit.toSeq)
        throw e
      }
    val plan = analyzed(rewritten)
    // .distinct: the merge rewrite replays the source subtree into several
    // plan positions (join leg, cardinality check) — one policy decision,
    // one audit row
    audit(user, "dml", sql, rule.dmlAudit.toSeq ++ taggedDecisions(plan).distinct)
    plan
  }

  /** Rewrite + run one DML statement (the write executes eagerly). */
  def executeDml(user: String, sql: String): Unit = {
    GraftSqlShims.ofRows(spark, rewriteDml(user, sql)).collect()
    ()
  }

  // --- execute API (reference SecurityContext.java:190-242) ---

  val DefaultFetchSize = 10

  /** Direct execution, no rewrite (DDL, baseline queries). */
  def execute(sql: String): Seq[Row] = execute(sql, DefaultFetchSize)
  def execute(sql: String, size: Int): Seq[Row] =
    fetch(GraftSqlShims.ofRows(spark, parseSql(sql)), size)

  def executeRowFilter(user: String, sql: String, size: Int = DefaultFetchSize): Seq[Row] =
    fetch(dfRowFilter(user, sql), size)

  def executeDataMask(user: String, sql: String, size: Int = DefaultFetchSize): Seq[Row] =
    fetch(dfDataMask(user, sql), size)

  def mixedExecute(user: String, sql: String, size: Int = DefaultFetchSize): Seq[Row] =
    fetch(dfMixed(user, sql), size)

  def mixedExecuteRawFilter(user: String, sql: String, size: Int = DefaultFetchSize): Seq[Row] =
    fetch(dfMixedRawFilter(user, sql), size)

  /** fetch-N without collecting the full result (SecurityContext.java:235-242
    * iterates; here `limit` is planned, so only N rows cross the driver
    * boundary — at scale this is a LocalLimit pushed to executors).
    */
  private def fetch(df: DataFrame, size: Int): Seq[Row] =
    if (df.schema.isEmpty) { df.collect(); Seq.empty } // commands (INSERT/DDL)
    else df.limit(size).collect().toSeq
}
