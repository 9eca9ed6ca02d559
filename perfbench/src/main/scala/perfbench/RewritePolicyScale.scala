package perfbench

import graft.{ColumnAccessDeniedException, SecurityContext}
import graft.policy.PolicyManager
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** `rewrite_policy_scale`: one closed-loop client previews statements
  * through the SQL-in, SQL-out rewrite API — each operation rewrites one
  * statement with `rewriteRowFilterSql`, `rewriteDataMaskSql` and
  * `mixedRewriteSql` in turn — against a ~5k-policy store. Nothing
  * executes, so the work is policy lookup, rule application, analysis and
  * rendering.
  */
object RewritePolicyScale {
  val SynTables = 500
  val PerTable = 10
  val Users = 50
  val Groups = 10
  val PoolSize = 96

  /** A statement template: SQL text over table slots, and for each slot the
    * columns the statement reads.
    */
  final case class Template(sql: Seq[String] => String, reads: Seq[Set[String]])

  private val syn: Seq[Template] = Seq(
    Template(t => s"SELECT a.id, a.name, b.email, c.amount FROM ${t(0)} a " +
      s"LEFT JOIN ${t(1)} b ON a.id = b.id LEFT JOIN ${t(2)} c ON b.id = c.id",
      Seq(Set("id", "name"), Set("id", "email"), Set("id", "amount"))),
    Template(t => s"SELECT region, count(*) AS n, sum(amount) AS total FROM ${t(0)} GROUP BY region",
      Seq(Set("region", "amount"))),
    Template(t => s"SELECT * FROM ${t(0)}", Seq(synAll)),
    Template(t => s"SELECT x.id, x.name FROM (SELECT id, name, region FROM ${t(0)} " +
      "WHERE amount > 10) x WHERE x.region <> 'R1'",
      Seq(Set("id", "name", "region", "amount"))),
    Template(t => s"SELECT a.id, a.region FROM ${t(0)} a WHERE EXISTS " +
      s"(SELECT 1 FROM ${t(1)} b WHERE b.id = a.id)",
      Seq(Set("id", "region"), Set("id"))),
    Template(t => s"SELECT id, email FROM ${t(0)} WHERE id IN " +
      s"(SELECT id FROM ${t(1)} WHERE amount > 5)",
      Seq(Set("id", "email"), Set("id", "amount"))),
    Template(t => s"SELECT id, name FROM ${t(0)} UNION ALL SELECT id, name FROM ${t(1)}",
      Seq(Set("id", "name"), Set("id", "name"))),
    Template(t => s"INSERT INTO mem.default.rw_sink SELECT id, name, email FROM ${t(0)}",
      Seq(Set("id", "name", "email"))))

  private lazy val synAll: Set[String] = Gen.synSchema.map(_._1).toSet

  private val tpch = Template(_ => "SELECT c.c_name, o.o_orderkey, o.o_clerk FROM customer c " +
    "LEFT JOIN orders o ON c.c_custkey = o.o_custkey",
    Seq(Set("c_name", "c_custkey"), Set("o_custkey", "o_orderkey", "o_clerk")))

  /** Template cycle: a third each of one-, two- (the TPC-H join among them)
    * and three-table statements, so that the median and the 90th percentile
    * each fall inside one cost class rather than on the edge between two.
    */
  private val cycle: Seq[Option[Int]] = Seq(Some(0), Some(1), Some(4), Some(0), Some(2),
    Some(5), Some(0), Some(3), Some(6), Some(0), Some(7), None)

  val apis: Seq[String] = Seq("row_filter", "data_mask", "mixed")

  /** One generated operation: a statement rewritten through each API. */
  final case class Item(user: String, sql: String, tables: Seq[String], expectDeny: Boolean,
      expectAudit: Map[String, Set[(String, String, String)]]) {
    /** `SqlRenderer` overflows the stack on a Union, so UNION statements use
      * the plan-out rewrite; every other shape is SQL in, SQL out.
      */
    def render: Boolean = !sql.contains(" UNION ")
  }

  private def schemaOf(t: String): Seq[(String, String)] =
    Data.schemas.getOrElse(t, Gen.synSchema)

  /** Audit rows the API should record for a statement that is not denied. */
  def expectedAudit(store: Store, user: String, api: String, tables: Seq[String],
      now: java.time.Instant): Set[(String, String, String)] =
    tables.toSet.flatMap { (t: String) =>
      val d = store.decide(user, Gen.Cat, Gen.Db, t, schemaOf(t).map(_._1), now)
      val obj = s"${Gen.Cat}.${Gen.Db}.$t"
      val rows = Set.newBuilder[(String, String, String)]
      if (d.denied) rows += (("ROW_DENY", obj, "DENY"))
      else if (api != "data_mask" && d.filters.nonEmpty)
        rows += (("ROW_FILTER", obj, d.filters.sorted.mkString(" AND ")))
      if (api != "row_filter" && d.masks.nonEmpty)
        rows += (("DATA_MASK", obj, d.masks.map { case (c, m) => s"$c=$m" }.mkString(",")))
      rows.result()
    }

  private def denied(store: Store, user: String, tables: Seq[String], reads: Seq[Set[String]],
      now: java.time.Instant): Boolean =
    tables.zip(reads).exists { case (t, cols) =>
      val d = store.decide(user, Gen.Cat, Gen.Db, t, schemaOf(t).map(_._1), now)
      cols.exists(d.deniedColumns.contains)
    }

  def generate(ctx: Ctx): (Store, Seq[String], Seq[Item]) = {
    val rng = ctx.rng
    val users = Gen.users(Users)
    val groups = Gen.memberships(users, Groups)
    val store = Gen.synStore(rng, SynTables, users, Groups, PerTable)
      .copy(groups = groups) ++ Gen.tpchStore(rng, users, groups)
    val now = java.time.Instant.now()
    val colDenied = store.columnDenies.filter(p => p.validFrom.isEmpty)
    // the template mix is the same for every seed; users and tables vary
    val items = (0 until PoolSize).map { i =>
      if (i % 20 == 7 && colDenied.nonEmpty) {
        val p = colDenied(rng.nextInt(colDenied.size))
        val tables = Seq(p.tableName)
        // SELECT * reads every column of the table
        Item(p.username, syn(2).sql(tables), tables, denied(store, p.username, tables,
          Seq(schemaOf(p.tableName).map(_._1).toSet), now), Map.empty)
      } else {
        val user = users(i % users.size)
        val (tpl, tables) = cycle(i % cycle.size) match {
          case None => (tpch, Seq("customer", "orders"))
          case Some(k) => (syn(k), syn(k).reads.indices.map(_ => Gen.synTable(rng.nextInt(SynTables))))
        }
        val deny = denied(store, user, tables, tpl.reads, now)
        Item(user, tpl.sql(tables), tables, deny,
          if (deny) Map.empty else apis.map(a => a -> expectedAudit(store, user, a, tables, now)).toMap)
      }
    }
    (store, items.flatMap(_.tables).distinct.filter(_.startsWith("syn_")), items)
  }

  private def synStruct: StructType = StructType(Gen.synSchema.map { case (n, t) =>
    StructField(n, DataType.fromDDL(t))
  })

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val paths = Data.tpchTables(spark, ctx.cache, 0.001, 1)
    val (store, synTables, items) = generate(ctx)
    Harness.phase("inputs generated")
    Harness.note(s"policy store: ${store.size} policies, ${items.size} pooled statements, " +
      s"${items.count(_.expectDeny)} expected denials")

    val tracer = new Tracer
    def setup(): (SecurityContext, Staged) = {
      val s = spark.newSession()
      paths.foreach { case (t, p) => s.read.parquet(p).createOrReplaceTempView(t) }
      synTables.foreach(t =>
        s.createDataFrame(java.util.List.of[Row](), synStruct).createOrReplaceTempView(t))
      s.sql("CREATE TABLE IF NOT EXISTS mem.default.rw_sink (id BIGINT, name STRING, email STRING)")
      val pm = new PolicyManager
      store.load(pm)
      val sc = new SecurityContext(s, pm)
      call(sc, items.head)
      sc.clearAudit()
      (sc, new Staged(s, pm, tracer))
    }
    val ((sc, staged), setupS) = Harness.timedSetups(3)(setup)
    // until the JIT settles, latency falls op by op; warm up on every template
    items.take(2 * cycle.size).foreach(it => call(sc, it))
    sc.clearAudit()
    Harness.phase("set up")

    if (!ctx.trace) {
      val jvm = new JvmWindow
      val (recs, window) = Harness.closedLoop(1, ctx.seconds) { (c, id) =>
        val i = (id % items.size).toInt
        val it = items(i)
        Harness.timed(id, c, "rewrite", i)(call(sc, it))
      }
      val heap = Jvm.retainedHeapMb()
      Harness.phase("window done")
      val failed = check(sc, items, recs)
      Harness.phase("checked")
      Outcome(recs.size, failed,
        Harness.latency(recs, window) ++ Map(
          "setup_s" -> Stats.Metric(setupS, "s"),
          "heap_retained_mb" -> Stats.Metric(heap, "MiB")),
        Map.empty, Seq(s"gc_ms=${jvm.gcDeltaMs}"))
    } else {
      val listener = new JobListener
      spark.sparkContext.addSparkListener(listener)
      val jvm = new JvmWindow
      val counts = new StageCounts
      val (recs, _) = Harness.closedLoop(1, ctx.seconds) { (c, id) =>
        val i = (id / 2 % items.size).toInt
        val it = items(i)
        if (id % 2 == 0) Harness.timed(id, c, "traced", i)(tracer.op(id, "rewrite") {
          apis.map { api =>
            try {
              val plan = staged.rewrite(it.user, api, it.sql, counts, replay = api == apis.head)
              if (it.render) staged.render(plan) else "plan"
            } catch { case _: ColumnAccessDeniedException if it.expectDeny => "denied" }
          }
        })
        else Harness.timed(id, c, "facade", i)(call(sc, it))
      }
      val (traced, facade) = recs.partition(_.kind == "traced")
      val gcMs = jvm.gcDeltaMs
      val heapPeak = jvm.heapPeakMb
      listener.settle()
      val jobs = listener.jobsStarted
      val auditT0 = System.nanoTime()
      val audit = sc.auditLog.collect()
      val auditReadMs = (System.nanoTime() - auditT0) / 1e6
      val failed = check(sc, items, facade, Some(audit)) +
        traced.count(_.error.isDefined)
      tracer.write(new java.io.File(s"${ctx.work}/../spans-${ctx.workload}-${ctx.seed}.jsonl"))
      val n = traced.size.toDouble
      val layers = Traced.common(tracer, traced, facade, Seq("parse", "analyze",
        "column_deny", "row_filter", "data_mask", "reanalyze", "render")) ++
        counts.metrics(n, tracer) ++ Map(
        "policy.store_size" -> Stats.Metric(store.size, "count"),
        "execution.jobs_per_op" -> Stats.Metric(jobs.toDouble / recs.size, "count"),
        "security_context.audit_rows_per_op" -> Stats.Metric(audit.length.toDouble / facade.size.max(1), "count"),
        "security_context.audit_rows_total" -> Stats.Metric(audit.length, "count"),
        "security_context.audit_read_ms" -> Stats.Metric(auditReadMs, "ms"),
        "jvm.gc_ms" -> Stats.Metric(gcMs, "ms"),
        "jvm.heap_peak_mb" -> Stats.Metric(heapPeak, "MiB"),
        "failed_ratio" -> Stats.Metric(failed.toDouble / (traced.size + facade.size), "fraction"))
      Outcome(traced.size + facade.size, failed, Map.empty, layers, Nil)
    }
  }

  /** The statement through each rewrite API in turn: the rewritten SQL,
    * "plan", "denied" for a call that failed closed as expected, or the
    * unexpected exception. One call failing does not skip the others.
    */
  private def call(sc: SecurityContext, it: Item): Seq[Any] = apis.map { api =>
    try (api, it.render) match {
      case ("row_filter", true) => sc.rewriteRowFilterSql(it.user, it.sql)
      case ("data_mask", true) => sc.rewriteDataMaskSql(it.user, it.sql)
      case (_, true) => sc.mixedRewriteSql(it.user, it.sql)
      case ("row_filter", false) => sc.rewriteRowFilter(it.user, it.sql); "plan"
      case ("data_mask", false) => sc.rewriteDataMask(it.user, it.sql); "plan"
      case (_, false) => sc.mixedRewrite(it.user, it.sql); "plan"
    } catch {
      case _: ColumnAccessDeniedException if it.expectDeny => "denied"
      case e: Exception => e
    }
  }

  /** Compare each call's audit rows with the generator's expected set; an
    * expected denial must have thrown and recorded COLUMN_DENY. Returns the
    * number of failed operations.
    */
  private def check(sc: SecurityContext, items: Seq[Item], recs: Seq[OpRec],
      audit0: Option[Array[Row]] = None): Long = {
    val audit = audit0.getOrElse(sc.auditLog.collect())
    // one segment per submission, in call order (a single client): the
    // QUERY row (principal, api, statement), then the decisions
    val segments = scala.collection.mutable.ArrayBuffer.empty[((String, String, String),
      Seq[(String, String, String)])]
    audit.foreach { r =>
      val row = (r.getString(2), r.getString(3), r.getString(4))
      if (row._1 == "QUERY") segments += (((r.getString(1), row._2, row._3), Seq.empty))
      else if (segments.nonEmpty) segments(segments.size - 1) =
        segments.last.copy(_2 = segments.last._2 :+ row)
    }
    var next = 0
    recs.count { r =>
      val it = items(r.item)
      val results = Option(r.evidence).map(_.asInstanceOf[Seq[Any]]).getOrElse(Nil)
      val bad = r.error.isDefined || apis.zip(results).map { case (api, result) =>
        // a call that threw before auditing left no segment
        val seg = segments.lift(next).filter(_._1 == ((it.user, api, it.sql)))
        if (seg.isDefined) next += 1
        val rows = seg.map(_._2).getOrElse(Nil)
        val ok =
          if (it.expectDeny) result == "denied" && rows.exists(_._1 == "COLUMN_DENY")
          else result.isInstanceOf[String] && result != "denied" && seg.isDefined && rows.map {
            case ("ROW_FILTER", o, d) => ("ROW_FILTER", o, d.split(" AND ").sorted.mkString(" AND "))
            case other => other
          }.toSet == it.expectAudit(api)
        if (!ok) Harness.note(s"FAILED op ${r.id} $api: ${it.user} ${it.sql}: " + (result match {
          case e: Throwable => e.toString
          case _ => s"audit=${rows.mkString(";")} expected=${it.expectAudit.get(api)}"
        }))
        ok
      }.contains(false)
      bad
    }.toLong
  }
}
