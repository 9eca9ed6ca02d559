package perfbench

import graft.SecurityContext
import graft.plans.{DmlSecurityRewrite, GraftSecurityExtensions}
import graft.policy._
import graft.sources.GraftMemoryCatalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.GraftSqlShims

/** `analyst_session`: a closed-loop client with its own sessions on a
  * ~2k-policy store shared by both enforcement paths (one client: two, on a
  * seed-shuffled pool, swung percentiles by 40% between runs). About 80% of
  * statements are fetch-10 reads,
  * half through the `SecurityContext` execute APIs and half as raw
  * `spark.sql` under `GraftSecurityExtensions`; about 20% are writes
  * (INSERT … SELECT, UPDATE, DELETE, MERGE on `GraftMemoryCatalog` tables).
  * About 1 statement in 20 must be denied.
  */
object AnalystSession {
  val Sf = 0.005
  val Clients = 1
  val Users = 20
  val Groups = 4
  val SynTables = 200
  val PoolSize = 180
  val AcctRows = 300
  val FetchSize = 10
  val WarmSeconds = 3.0

  /** Table names a statement is written over: the client's own write
    * targets or their twins, the policied tables or their secure views, and
    * the target row-filter guard the twin statements spell out.
    */
  final case class Names(acct: String, ins: String, src: String => String,
      guard: String = "", matched: String = "")

  sealed trait Kind
  /** A fetch-10 read through a `SecurityContext` execute API, or "ext": raw
    * SQL under the extension.
    */
  final case class Read(api: String) extends Kind
  case object Insert extends Kind
  case object Dml extends Kind

  final case class Item(user: String, kind: Kind, stmt: Names => String, expectDeny: Boolean) {
    def isWrite: Boolean = kind == Insert || kind == Dml
  }

  private val readApis = Seq("mixed", "row_filter", "data_mask", "mixed_raw_filter")

  def mode(api: String): Oracle.Mode = api match {
    case "row_filter" => Oracle.RowFilterOnly
    case "data_mask" => Oracle.MaskOnly
    case "mixed_raw_filter" => Oracle.MixedRaw
    case _ => Oracle.Mixed
  }

  private def reads(rng: scala.util.Random): Seq[Names => String] = {
    val n = rng.nextInt(25)
    val c = 1 + rng.nextInt(Data.customers(Sf).toInt)
    Seq(
      t => s"SELECT c_custkey, c_name, c_address, c_mktsegment FROM ${t.src("customer")} " +
        s"WHERE c_nationkey = $n ORDER BY c_custkey",
      t => "SELECT o_orderkey, o_orderdate, o_clerk, o_totalprice FROM " +
        s"${t.src("orders")} WHERE o_custkey BETWEEN $c AND ${c + 60} ORDER BY o_orderkey",
      t => s"SELECT o.o_orderkey, c.c_name, o.o_orderstatus FROM ${t.src("orders")} o " +
        s"JOIN ${t.src("customer")} c ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = $n " +
        "ORDER BY o.o_orderkey",
      t => s"SELECT c_mktsegment, count(*) AS n FROM ${t.src("customer")} " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment",
      t => s"SELECT l_orderkey, l_linenumber, l_comment, l_shipmode FROM ${t.src("lineitem")} " +
        s"WHERE l_orderkey IN (SELECT o_orderkey FROM ${t.src("orders")} WHERE o_custkey = $c) " +
        "ORDER BY l_orderkey, l_linenumber")
  }

  private def write(rng: scala.util.Random, kind: Int): (Kind, Names => String) = kind match {
    case 0 =>
      val lo = 1 + rng.nextInt(Data.orders(Sf).toInt - 30)
      Insert -> (t => s"INSERT INTO ${t.ins} SELECT o_orderkey, o_custkey, o_clerk " +
        s"FROM ${t.src("orders")} WHERE o_orderkey BETWEEN $lo AND ${lo + 19}")
    case 1 =>
      val (x, r) = (1 + rng.nextInt(99), rng.nextInt(7))
      Dml -> (t => s"UPDATE ${t.acct} SET bal = bal + $x WHERE k % 7 = $r${t.guard}")
    case 2 =>
      val r = rng.nextInt(13)
      Dml -> (t => s"DELETE FROM ${t.acct} WHERE k % 13 = $r${t.guard}")
    case _ =>
      val r = rng.nextInt(40)
      Dml -> (t => s"MERGE INTO ${t.acct} t USING (SELECT c_custkey AS k, " +
        "c_mktsegment AS seg, CAST(c_acctbal * 100 AS BIGINT) AS bal " +
        s"FROM ${t.src("customer")} WHERE c_custkey % 40 = $r) s ON t.k = s.k " +
        s"WHEN MATCHED${t.matched} THEN UPDATE SET bal = s.bal " +
        "WHEN NOT MATCHED THEN INSERT (k, seg, bal) VALUES (s.k, s.seg, s.bal)")
  }

  /** Row filters on each client's DML target, for every user or a group. */
  private def acctStore(): Store = Store(
    rowFilters = (0 until Clients).flatMap(c => Seq(
      RowFilterPolicy("*", "mem", "default", s"acct_c$c", "seg <> 'C'"),
      RowFilterPolicy("g1", "mem", "default", s"acct_c$c", "bal < 2500"))).toVector,
    Vector.empty, Vector.empty, Vector.empty, Map.empty)

  def generate(ctx: Ctx): (Store, Seq[Item]) = {
    val rng = ctx.rng
    val users = Gen.users(Users)
    val groups = Gen.memberships(users, Groups)
    val store = Gen.synStore(rng, SynTables, users, Groups, 10).copy(groups = groups) ++
      Gen.tpchStore(rng, users, groups) ++ acctStore()
    val denied = Gen.phoneDenied(users)
    val allowed = users.filterNot(denied.contains)
    val items = (0 until PoolSize).map { i =>
      if (i % 20 == 7) Item(denied(i / 20 % denied.size),
        Read(if (i % 40 == 7) "ext" else "mixed"),
        t => s"SELECT c_custkey, c_phone FROM ${t.src("customer")} ORDER BY c_custkey",
        expectDeny = true)
      else if (i % 5 == 4) {
        val (k, s) = write(rng, i / 5 % 4)
        Item(allowed(i % allowed.size), k, s, expectDeny = false)
      } else {
        // the statement mix is the same for every seed; users and constants vary
        val api = if (i % 2 == 0) "ext" else readApis(i / 2 % readApis.size)
        val rd = reads(rng)
        Item(allowed(i % allowed.size), Read(api), rd(i / 3 % rd.size), expectDeny = false)
      }
    }
    // generation order keeps any stretch of the pool a balanced mix
    (store, items)
  }

  private def own(client: Int): Names =
    Names(s"mem.default.acct_c$client", s"mem.default.ins_c$client", identity)

  private final class Client(val id: Int, val sc: SecurityContext, val ext: SparkSession,
      val staged: Staged)

  /** Run one statement through the facade (untraced). */
  private def execute(cl: Client, it: Item): Any = {
    val sql = it.stmt(own(cl.id))
    it.kind match {
      case Read("ext") =>
        cl.ext.conf.set(GraftSecurityExtensions.UserKey, it.user)
        Harness.rowsDigest(cl.ext.sql(sql).limit(FetchSize).collect().toSeq)
      case Read(api) => Harness.rowsDigest(api match {
        case "row_filter" => cl.sc.executeRowFilter(it.user, sql, FetchSize)
        case "data_mask" => cl.sc.executeDataMask(it.user, sql, FetchSize)
        case "mixed_raw_filter" => cl.sc.mixedExecuteRawFilter(it.user, sql, FetchSize)
        case _ => cl.sc.mixedExecute(it.user, sql, FetchSize)
      })
      case Insert => cl.sc.mixedExecute(it.user, sql); "written"
      case Dml => cl.sc.executeDml(it.user, sql); "written"
    }
  }

  /** Per-kind counters of the traced statements. */
  private final class WriteCounts {
    var extOps = 0; var extRuleMs = 0.0
    var writeOps = 0; var dmlOps = 0; var rowsWritten = 0L
  }

  /** For each policied table a read scans: its parquet path and the columns
    * of each row-filter condition the rewrite puts above it.
    */
  private def injected(user: String, api: String, sql: String)(
      implicit store: Store, paths: Map[String, String]): Seq[(String, Seq[String])] =
    if (api == "data_mask") Nil
    else Data.tpch.filter(t => sql.contains(s" $t")).flatMap { t =>
      val cols = Data.schemas(t).map(_._1)
      store.decide(user, Gen.Cat, Gen.Db, t, cols, java.time.Instant.now())
        .filters.map(f => paths(t) -> cols.filter(f.contains))
    }

  /** Run one statement through the stage calls, each a span (traced). */
  private def staged(cl: Client, it: Item, op: Long, tracer: Tracer, counts: StageCounts,
      exec: ExecCounts, k: WriteCounts, pm: PolicyManager)(
      implicit store: Store, paths: Map[String, String]): Any = {
    val sql = it.stmt(own(cl.id))
    val s = cl.staged.session
    def memRows(t: String) = GraftMemoryCatalog.rowsOf("mem", t.stripPrefix("mem."))
    def written[T](table: String)(body: => T): T = {
      val before = memRows(table)
      val out = tracer.span("dml_exec", Layer.Sources)(JobListener.tagged(s, op)(body))
      val after = memRows(table)
      k.synchronized {
        k.writeOps += 1
        k.rowsWritten += (after.diff(before).size + before.diff(after).size)
      }
      out
    }
    it.kind match {
      case Read("ext") =>
        cl.ext.conf.set(GraftSecurityExtensions.UserKey, it.user)
        val df = tracer.span("extension_analyze", Layer.Catalyst)(cl.ext.sql(sql))
        k.synchronized { k.extOps += 1; k.extRuleMs += Plans.ruleMs(df, "GraftSecurityExtensions") }
        Harness.rowsDigest(exec.run(cl.ext, tracer, op, df.limit(FetchSize), Nil).toSeq)
      case Read(api) =>
        val plan = cl.staged.rewrite(it.user, api, sql, counts)
        Harness.rowsDigest(exec.run(s, tracer, op,
          GraftSqlShims.ofRows(s, plan).limit(FetchSize), injected(it.user, api, sql)).toSeq)
      case Insert =>
        val plan = cl.staged.rewrite(it.user, "mixed", sql, counts)
        written(own(cl.id).ins)(GraftSqlShims.ofRows(s, plan).collect())
        "written"
      case Dml =>
        val parsed = cl.staged.parse(sql)
        val rewritten = tracer.span("dml_rewrite", Layer.Plans)(
          DmlSecurityRewrite(s, it.user, pm, cl.staged.scope)(parsed))
        val plan = cl.staged.analyze("analyze", rewritten)
        k.synchronized(k.dmlOps += 1)
        written(own(cl.id).acct)(GraftSqlShims.ofRows(s, plan).collect())
        "written"
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    implicit val paths: Map[String, String] = Data.tpchTables(spark, ctx.cache, Sf, ctx.cores)
    val (st, items) = generate(ctx)
    implicit val store: Store = st
    Harness.phase("inputs generated")
    val pm = GraftSecurityExtensions.policies
    val tracer = new Tracer
    Harness.note(s"policy store: ${store.size} policies, ${items.size} pooled statements, " +
      s"${items.count(_.expectDeny)} expected denials, ${items.count(_.isWrite)} writes")

    lazy val oracle = new OracleViews(spark.newSession(), store, Data.tpch)

    /** A client's twin targets, secure views and spelled-out guard for `user`. */
    def twin(client: Int, user: String): Names = {
      val conds = if (user.isEmpty) Nil else store.decide(user, "mem", "default",
        s"acct_c$client", Seq("k", "seg", "bal"), java.time.Instant.now()).filters
      def and(q: String) = conds.map(c =>
        s" AND (${c.replaceAll("\\b(seg|bal|k)\\b", s"$q$$1")})").mkString
      Names(s"mem.default.acct_twin_c$client", s"mem.default.ins_twin_c$client",
        t => oracle.view(user, t, Oracle.Mixed), guard = and(""), matched = and("t."))
    }

    def resetTables(s: SparkSession): Unit =
      (0 until Clients).flatMap(c => Seq(own(c), twin(c, ""))).foreach { n =>
        s.sql(s"DROP TABLE IF EXISTS ${n.acct}")
        s.sql(s"CREATE TABLE ${n.acct} (k BIGINT, seg STRING, bal BIGINT)")
        s.sql(s"INSERT INTO ${n.acct} SELECT id, element_at(array('A', 'B', 'C'), " +
          s"CAST(id % 3 AS INT) + 1), id * 10 FROM range(1, ${AcctRows + 1})")
        s.sql(s"DROP TABLE IF EXISTS ${n.ins}")
        s.sql(s"CREATE TABLE ${n.ins} (o_orderkey BIGINT, o_custkey BIGINT, o_clerk STRING)")
      }

    def setup(): Seq[Client] = {
      val admin = spark.newSession()
      paths.foreach { case (t, p) => Harness.registerParquet(admin, t, p) }
      resetTables(admin)
      store.unload(pm)
      store.load(pm)
      val clients = (0 until Clients).map { c =>
        val s = spark.newSession()
        new Client(c, new SecurityContext(s, pm), spark.newSession(), new Staged(s, pm, tracer))
      }
      clients.foreach(cl => execute(cl, items.find(it => !it.isWrite && !it.expectDeny).get))
      clients
    }
    val (clients, setupS) = Harness.timedSetups(3)(setup)
    def itemOf(client: Int, i: Long): Int = ((client * 53 + i) % items.size).toInt
    val seqs = Array.fill(Clients)(0L)
    def facadeOp(c: Int, id: Long): OpRec = {
      val i = itemOf(c, seqs(c)); seqs(c) += 1
      Harness.timed(id, c, "facade", i)(execute(clients(c), items(i)))
    }
    // until the JIT settles, latency falls op by op: warm up on the same mix;
    // the warm-up's writes are checked with the window's
    val (warm, _) = Harness.closedLoop(Clients, WarmSeconds)(facadeOp)
    clients.foreach(_.sc.clearAudit())
    Harness.phase("set up")
    /** Replay every client's committed writes on its twins over the secure
      * views, then compare reads with the oracle and each target with its
      * twin. Returns the number of failed operations.
      */
    def check(recs: Seq[OpRec]): Long = {
      val writes = recs.filter(r => items(r.item).isWrite && r.error.isEmpty).sortBy(_.startNs)
      Harness.parallel(0 until Clients, Clients)(c => writes.filter(_.client == c).foreach { r =>
        val it = items(r.item)
        oracle.session.sql(it.stmt(twin(r.client, it.user)))
      })
      val badClients = (0 until Clients).filter { c =>
        val (a, b) = (own(c), twin(c, ""))
        Harness.digestOf(spark.table(a.acct)) != Harness.digestOf(spark.table(b.acct)) ||
          Harness.digestOf(spark.table(a.ins)) != Harness.digestOf(spark.table(b.ins))
      }.toSet
      val reads = recs.map(_.item).distinct.filter(i => !items(i).isWrite && !items(i).expectDeny)
      val expected = reads.zip(Harness.parallel(reads, ctx.cores) { i =>
        val it = items(i)
        val api = it.kind match { case Read("ext") => "mixed"; case Read(a) => a; case _ => "" }
        Harness.rowsDigest(oracle.sql(it.user, t => it.stmt(Names("", "", t)), mode(api))
          .limit(FetchSize).collect().toSeq)
      }).toMap
      recs.count { r =>
        val it = items(r.item)
        val bad = Verdict.failed(it.expectDeny, r.error, it.kind match {
          case Read(_) => r.evidence == expected(r.item)
          case _ => !badClients.contains(r.client)
        })
        if (bad) Harness.note(s"FAILED op ${r.id}: ${it.user} ${it.kind} ${it.stmt(own(r.client))}: " +
          r.error.map(_.toString).getOrElse(s"got ${r.evidence}"))
        bad
      }.toLong
    }

    def writeP50(recs: Seq[OpRec]): Double = Stats.median(recs.filter(r => items(r.item).isWrite).map(_.ms))

    if (!ctx.trace) {
      val (recs, window) = Harness.closedLoop(Clients, ctx.seconds)(facadeOp)
      val heap = Jvm.retainedHeapMb()
      Harness.phase("window done")
      val failed = check(warm ++ recs)
      Harness.phase("checked")
      Outcome(warm.size + recs.size, failed, Harness.latency(recs, window) ++ Map(
        "setup_s" -> Stats.Metric(setupS, "s"),
        "heap_retained_mb" -> Stats.Metric(heap, "MiB")),
        Map.empty, Seq(s"dml_latency_p50_ms=${writeP50(recs)}",
          s"failed_ratio=${failed.toDouble / (warm.size + recs.size)}"))
    } else {
      val listener = new JobListener
      spark.sparkContext.addSparkListener(listener)
      val counts = new StageCounts
      val exec = new ExecCounts
      val k = new WriteCounts
      val jvm = new JvmWindow
      // each item runs traced, then untraced through the facade
      val tracedNext = Array.fill(Clients)(true)
      val (recs, _) = Harness.closedLoop(Clients, ctx.seconds) { (c, id) =>
        tracedNext(c) = !tracedNext(c)
        if (tracedNext(c)) facadeOp(c, id)
        else {
          val i = itemOf(c, seqs(c))
          Harness.timed(id, c, "traced", i)(tracer.op(id, "statement")(
            staged(clients(c), items(i), id, tracer, counts, exec, k, pm)))
        }
      }
      val (traced, facade) = recs.partition(_.kind == "traced")
      val gcMs = jvm.gcDeltaMs
      val heapPeak = jvm.heapPeakMb
      listener.settle()
      val auditT0 = System.nanoTime()
      val auditRows = clients.map(_.sc.auditLog.collect().length).sum
      val auditReadMs = (System.nanoTime() - auditT0) / 1e6
      val failed = check(warm ++ recs)
      val maskNs = MaskKernels.nsPerRow(clients.head.sc.spark.read.parquet(paths("lineitem"))
        .selectExpr("l_comment AS s", "l_shipdate AS d"))
      tracer.write(new java.io.File(s"${ctx.work}/../spans-${ctx.workload}-${ctx.seed}.jsonl"))
      val n = traced.size.toDouble
      val layers = Traced.common(tracer, traced, facade, Seq("parse", "analyze",
        "column_deny", "row_filter", "data_mask", "reanalyze", "extension_analyze",
        "optimize_plan", "execute", "dml_rewrite", "dml_exec")) ++
        counts.metrics(n, tracer) ++ exec.metrics(listener, traced, tracer) ++ maskNs ++ Map(
        "policy.store_size" -> Stats.Metric(store.size, "count"),
        "plans.dml_rewrite_ms" -> Stats.Metric(tracer.perOpMs("dml_rewrite", k.dmlOps.max(1)), "ms"),
        "plans.extension_rule_ms" -> Stats.Metric(k.extRuleMs / k.extOps.max(1), "ms"),
        "sources.dml_exec_ms" -> Stats.Metric(tracer.perOpMs("dml_exec", k.writeOps.max(1)), "ms"),
        "sources.rows_written_per_op" -> Stats.Metric(k.rowsWritten.toDouble / k.writeOps.max(1), "rows"),
        "security_context.audit_rows_per_op" -> Stats.Metric(auditRows.toDouble / facade.size.max(1), "count"),
        "security_context.audit_rows_total" -> Stats.Metric(auditRows, "count"),
        "security_context.audit_read_ms" -> Stats.Metric(auditReadMs, "ms"),
        "dml_latency_p50_ms" -> Stats.Metric(writeP50(facade), "ms"),
        "jvm.gc_ms" -> Stats.Metric(gcMs, "ms"),
        "jvm.heap_peak_mb" -> Stats.Metric(heapPeak, "MiB"),
        "failed_ratio" -> Stats.Metric(failed.toDouble / (warm.size + recs.size), "fraction"))
      Outcome(warm.size + recs.size, failed, Map.empty, layers, Nil)
    }
  }
}
