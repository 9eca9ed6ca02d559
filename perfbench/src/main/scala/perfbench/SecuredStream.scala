package perfbench

import graft.SecurityContext
import graft.policy._
import graft.streaming.StreamOps.{BatchLedger, idempotentBatchAppend}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** `secured_stream`: a seeded sequence of event files feeds `dfMixed` over a
  * streaming view (a row filter and a MASK_HASH policy); each micro-batch is
  * appended through the ledgered idempotent sink. The run stops and restarts
  * the query from its checkpoint once, half-way.
  */
object SecuredStream {
  val Files = 240
  val RowsPerFile = 250
  val WarmFiles = 4
  val User = "stream_user"
  val Columns = Seq("event_id", "ts", "user_id", "event_type", "value", "props")

  def store(rng: scala.util.Random): Store = Store(
    rowFilters = Vector(RowFilterPolicy(User, Gen.Cat, Gen.Db, "events_stream",
      s"event_type <> '${Seq("view", "click", "search")(rng.nextInt(3))}'")),
    masks = Vector(DataMaskPolicy(User, Gen.Cat, Gen.Db, "events_stream", "props", "MASK_HASH")),
    Vector.empty, Vector.empty, Map.empty)

  /** Progress of every micro-batch that read input, in arrival order. */
  private final class Progress extends StreamingQueryListener {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.streaming.StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) events.add(e.progress)
    def all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
      import scala.jdk.CollectionConverters._
      events.asScala.toSeq
    }
  }

  /** A secured stream over `dir` and where it writes. */
  private final case class Pipe(secured: DataFrame, sink: String, ledger: String, checkpoint: String)

  private def pipe(sc: SecurityContext, dir: String, name: String, work: String): Pipe = {
    val s = sc.spark
    s.readStream.schema(schema(s)).option("maxFilesPerTrigger", 1).parquet(dir)
      .createOrReplaceTempView("events_stream")
    Pipe(sc.dfMixed(User, s"SELECT ${Columns.mkString(", ")} FROM events_stream"),
      s"${name}_sink", s"${name}_ledger", s"$work/checkpoints/$name")
  }

  private def schema(s: SparkSession) = org.apache.spark.sql.types.StructType.fromDDL(
    Data.schemas("events").map { case (c, t) => s"$c $t" }.mkString(", "))

  /** Start `p` with a foreach-batch body that records the ledgered append's
    * duration.
    */
  private def start(p: Pipe, body: (DataFrame, Long) => Unit,
      appendNs: java.util.concurrent.ConcurrentLinkedQueue[Long]) =
    p.secured.writeStream
      .option("checkpointLocation", p.checkpoint)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val t0 = System.nanoTime()
        body(batch, bid)
        appendNs.add(System.nanoTime() - t0)
        ()
      }
      .start()

  private def ledgered(p: Pipe)(batch: DataFrame, bid: Long): Unit =
    BatchLedger.once(batch.sparkSession, Some(p.ledger), bid) {
      idempotentBatchAppend(batch, p.sink, bid)
    }

  /** The same calls `ledgered` makes, one span each. */
  private def tracedLedgered(p: Pipe, tracer: Tracer)(batch: DataFrame, bid: Long): Unit =
    tracer.op(bid, "foreach_batch") {
      val s = batch.sparkSession
      val done = tracer.span("ledger_check", Layer.Streaming)(BatchLedger.applied(s, p.ledger, bid))
      if (!done) {
        tracer.span("sink_append", Layer.Execution)(idempotentBatchAppend(batch, p.sink, bid))
        tracer.span("ledger_record", Layer.Streaming)(BatchLedger.record(s, p.ledger, bid))
      }
    }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = Data.eventFiles(spark, ctx.cache, Files, RowsPerFile)
    val warmDir = Data.eventFiles(spark, ctx.cache, WarmFiles, RowsPerFile,
      first = Files.toLong * RowsPerFile)
    val st = store(ctx.rng)
    Harness.phase("inputs generated")
    val progress = new Progress
    val appendNs = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    var setups = 0

    def setup(): SecurityContext = {
      setups += 1
      val s = spark.newSession()
      val pm = new PolicyManager
      st.load(pm)
      val sc = new SecurityContext(s, pm)
      // warm-up: the whole pipeline over a few files of its own
      val w = pipe(sc, warmDir, s"warm$setups", ctx.work)
      val q = start(w, ledgered(w), appendNs)
      try q.processAllAvailable() finally q.stop()
      sc
    }
    val (sc, setupS) = Harness.timedSetups(3)(setup)
    Harness.phase("set up")
    appendNs.clear()
    sc.spark.streams.addListener(progress)

    val p = pipe(sc, dir, "secured", ctx.work)
    val tracer = new Tracer
    val jvm = new JvmWindow
    val t0 = System.nanoTime()
    val q1 = start(p, ledgered(p), appendNs)
    Thread.sleep(ctx.seconds * 500L)
    q1.stop()
    val stopped = System.nanoTime()
    val before = progress.all.size
    val q2 = start(p, if (ctx.trace) tracedLedgered(p, tracer) else ledgered(p), appendNs)
    while (progress.all.size == before && System.nanoTime() - stopped < 30e9) Thread.sleep(5)
    val restartS = (System.nanoTime() - stopped) / 1e9
    val end = t0 + ctx.seconds * 1000000000L
    while (System.nanoTime() < end) Thread.sleep(5)
    q2.stop()
    val window = (System.nanoTime() - t0) / 1e9
    Harness.phase("window done")
    val gcMs = jvm.gcDeltaMs
    val heapPeak = jvm.heapPeakMb
    val heap = if (ctx.trace) 0.0 else Jvm.retainedHeapMb()
    Thread.sleep(200) // the listener bus delivers the last progress events
    val batches = progress.all
    val lat = batches.map(_.durationMs.get("triggerExecution").toDouble)
    val rows = batches.map(_.numInputRows).sum.toDouble
    val (failed, notes) = check(spark, p, dir, st)
    Harness.phase("checked")
    val attempted = batches.size.toLong.max(1)
    if (batches.size >= Files) Harness.note("input files exhausted before the window ended")

    if (!ctx.trace) {
      Outcome(attempted, failed.min(attempted), Map(
        "setup_s" -> Stats.Metric(setupS, "s"),
        "ops_per_s" -> Stats.Metric(batches.size / window, "1/s"),
        "latency_p50_ms" -> Stats.Metric(Stats.median(lat), "ms"),
        "latency_p90_ms" -> Stats.Metric(Stats.quantile(lat, 0.9), "ms"),
        "heap_retained_mb" -> Stats.Metric(heap, "MiB")),
        Map.empty, notes ++ Seq(s"rows_per_s=${rows / window}", s"restart_s=$restartS"))
    } else {
      // the untraced first half against the traced second half
      val (untraced, traced) = batches.splitAt(before)
      def d(k: String) = Stats.mean(batches.map(_.durationMs.get(k).toDouble))
      batches.drop(before).foreach { b =>
        val trig = b.durationMs.get("triggerExecution").toLong
        val other = trig - b.durationMs.get("addBatch").toLong
        val id = b.batchId
        tracer.add(Span(id, 0, -1, "trigger_machinery", Layer.Streaming, 0, other * 1000000L))
      }
      tracer.write(new java.io.File(s"${ctx.work}/../spans-${ctx.workload}-${ctx.seed}.jsonl"))
      val self = tracer.selfMsPerOp()
      def p50(bs: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
        Stats.median(bs.map(_.durationMs.get("triggerExecution").toDouble))
      val maskNs = MaskKernels.nsPerRow(sc.spark.read.parquet(dir)
        .selectExpr("props AS s", "CAST(ts AS DATE) AS d"))
      Outcome(attempted, failed.min(attempted), Map.empty, maskNs ++ Map(
        "rows_per_s" -> Stats.Metric(rows / window, "rows/s"),
        "failed_ratio" -> Stats.Metric(failed.min(attempted).toDouble / attempted, "fraction"),
        "policy.store_size" -> Stats.Metric(st.size, "count"),
        "execution.ms" -> Stats.Metric(tracer.perOpMs("sink_append", traced.size.max(1)), "ms"),
        "streaming.trigger_ms" -> Stats.Metric(d("triggerExecution"), "ms"),
        "streaming.add_batch_ms" -> Stats.Metric(d("addBatch"), "ms"),
        "streaming.query_planning_ms" -> Stats.Metric(d("queryPlanning"), "ms"),
        "streaming.wal_commit_ms" -> Stats.Metric(d("walCommit"), "ms"),
        "streaming.commit_offsets_ms" -> Stats.Metric(d("commitOffsets"), "ms"),
        "streaming.ledgered_append_ms" -> Stats.Metric(
          { import scala.jdk.CollectionConverters._; Stats.mean(appendNs.asScala.toSeq.map(_ / 1e6)) }, "ms"),
        "streaming.rows_per_batch" -> Stats.Metric(rows / batches.size.max(1), "rows"),
        "streaming.restart_s" -> Stats.Metric(restartS, "s"),
        "jvm.gc_ms" -> Stats.Metric(gcMs, "ms"),
        "jvm.heap_peak_mb" -> Stats.Metric(heapPeak, "MiB"),
        "trace.traced_p50_ms" -> Stats.Metric(p50(traced), "ms"),
        "trace.untraced_p50_ms" -> Stats.Metric(p50(untraced), "ms"),
        "trace.overhead_ratio" -> Stats.Metric(p50(traced) / p50(untraced) - 1, "ratio")) ++
        (Layer.all :+ "op").map(l =>
          s"trace.self_ms_per_op.$l" -> Stats.Metric(self.getOrElse(l, 0.0), "ms")), notes)
    }
  }

  /** Row count and the sums of the two halves of each row's 64-bit hash:
    * order-independent, and the digest of a union of row sets is the sum of
    * their digests.
    */
  type Digest = (Long, Long, Long)

  private def plus(a: Digest, b: Digest): Digest = (a._1 + b._1, a._2 + b._2, a._3 + b._3)

  private def check(spark: SparkSession, p: Pipe, dir: String, st: Store): (Long, Seq[String]) = {
    val s = spark.newSession()
    if (!s.catalog.tableExists(p.sink)) return (1L, Seq("sink table missing"))
    val d = oracle(s, dir, st)
    def digest(df: DataFrame, key: String) = {
      val h = xxhash64(Columns.map(col): _*)
      df.groupBy(col(key)).agg(count(lit(1)).as("n"),
        sum(h.bitwiseAND(lit(0xffffffffL))).as("lo"), sum(shiftrightunsigned(h, 32)).as("hi"),
        min(col("event_id") / RowsPerFile).cast("long").as("f0"),
        max(col("event_id") / RowsPerFile).cast("long").as("f1"))
        .collect().map(r => r.get(0).toString.toLong ->
          ((r.getLong(1), r.getLong(2), r.getLong(3)), (r.getLong(4), r.getLong(5)))).toMap
    }
    val ledger = s.table(p.ledger).collect().map(_.getLong(0)).toSet
    val files = digest(d.withColumn("file", (col("event_id") / RowsPerFile).cast("long")), "file")
    verdict(digest(s.table(p.sink), "_batch_id"), files.map { case (f, (dg, _)) => f -> dg }, ledger)
  }

  /** Judge the sink after the restart. `sink` maps each batch id in the
    * sink to the digest of its rows and the first and last input file they
    * come from; `files` maps each input file to the digest of its secured
    * rows; `ledger` is the set of ledgered batch ids.
    *
    * Every ledgered batch must hold exactly the secured rows of a run of
    * whole input files, no file of the processed prefix may be missing,
    * none may be appended twice, and the ledger and the sink must agree. A
    * batch normally holds one file; when a stop lands between the source's
    * file log and its offset log, the restarted query puts that file and
    * the next into one batch. A batch the final stop interrupted is not in
    * the ledger yet (the next start would replay it over its own partition),
    * so batches past the last ledgered id are left out. Returns the number
    * of failures and notes.
    */
  def verdict(sink: Map[Long, (Digest, (Long, Long))], files: Map[Long, Digest],
      ledger: Set[Long]): (Long, Seq[String]) = {
    val judged = sink.filter(_._1 <= ledger.maxOption.getOrElse(-1L))
    val notes = Seq.newBuilder[String]
    var failed = 0L
    val seen = scala.collection.mutable.Map.empty[Long, Long]
    judged.toSeq.sortBy(_._1).foreach { case (bid, (dg, (f0, f1))) =>
      val run = f0 to f1
      val want = run.flatMap(files.get).foldLeft((0L, 0L, 0L))(plus)
      val ok = run.forall(files.contains) && want == dg && !run.exists(seen.contains)
      run.foreach(seen(_) = bid)
      if (!ok) { failed += 1; notes += s"FAILED batch $bid: files $f0..$f1" }
    }
    val merged = judged.count { case (_, (_, (f0, f1))) => f1 > f0 }
    if (merged > 0) notes += s"batches holding more than one file: $merged"
    val gaps = (0L to seen.keys.maxOption.getOrElse(-1L)).filterNot(seen.contains)
    if (gaps.nonEmpty) { failed += gaps.size; notes += s"FAILED missing files ${gaps.mkString(",")}" }
    val unledgered = (judged.keySet -- ledger) ++ (ledger -- judged.keySet)
    if (unledgered.nonEmpty) {
      failed += unledgered.size; notes += s"FAILED ledger/sink mismatch ${unledgered.mkString(",")}"
    }
    (failed, notes.result())
  }

  /** The oracle: the secure view of the raw event files, written with
    * built-in functions only.
    */
  private def oracle(s: SparkSession, dir: String, st: Store): DataFrame = {
    s.read.schema(schema(s)).parquet(dir).createOrReplaceTempView("events_raw")
    val d = st.decide(User, Gen.Cat, Gen.Db, "events_stream", Columns, java.time.Instant.now())
    s.sql(Oracle.viewSql("events_raw", Data.schemas("events"), d, Oracle.Mixed))
  }
}
