package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Arguments of one benchmark run. `work` is the run's scratch directory;
  * generated data is kept across runs in `cache`.
  */
final case class Ctx(workload: String, seed: Long, seconds: Int, trace: Boolean,
    cores: Int, work: String, cache: String, spark: SparkSession) {
  val rng = new scala.util.Random(seed)
}

/** One operation of the timed window. `evidence` is what the post-window
  * check compares against the oracle; `error` is the exception it threw.
  */
final case class OpRec(id: Long, client: Int, kind: String, item: Int, startNs: Long,
    endNs: Long, evidence: Any, error: Option[Throwable]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What a workload reports: counts, end-to-end and per-layer metrics. */
final case class Outcome(attempted: Long, failed: Long,
    e2e: Map[String, Stats.Metric], layers: Map[String, Stats.Metric],
    notes: Seq[String])

/** How the post-window check judges one operation. */
object Verdict {
  /** `t` or one of its causes is the program's fail-closed denial. */
  def isDenial(t: Throwable): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[graft.ColumnAccessDeniedException])

  /** An operation failed when a denial it should meet did not fire as a
    * `ColumnAccessDeniedException`, or when any other operation threw or
    * does not match its oracle.
    */
  def failed(expectDeny: Boolean, error: Option[Throwable], matchesOracle: => Boolean): Boolean =
    if (expectDeny) !error.exists(isDenial) else error.isDefined || !matchesOracle
}

object Harness {
  /** Run `setup` k times and return the last result with the median
    * duration in seconds.
    */
  def timedSetups[S](k: Int)(setup: () => S): (S, Double) = {
    val runs = (0 until k).map { _ =>
      val t0 = System.nanoTime()
      val s = setup()
      (s, (System.nanoTime() - t0) / 1e9)
    }
    (runs.last._1, Stats.median(runs.map(_._2)))
  }

  /** Closed loop: each client issues its next operation only after the
    * previous one completed, until `seconds` have passed. Returns the records
    * and the window's length in seconds (to the end of the last operation).
    */
  def closedLoop(clients: Int, seconds: Double)(
      op: (Int, Long) => OpRec): (Seq[OpRec], Double) = {
    val ids = new java.util.concurrent.atomic.AtomicLong()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val out = Array.fill(clients)(scala.collection.mutable.ArrayBuffer.empty[OpRec])
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        while (System.nanoTime() < deadline) out(c) += op(c, ids.getAndIncrement())
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val recs = out.toSeq.flatten
    val end = if (recs.isEmpty) System.nanoTime() else recs.map(_.endNs).max
    (recs.sortBy(_.id), (end - t0) / 1e9)
  }

  /** `f` over `xs` on `threads` threads (the oracle's queries), in order. */
  def parallel[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = xs.map(x => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(x) }))
      futures.map(_.get())
    } finally pool.shutdown()
  }

  /** Time `body`, operation `id` on pooled item `item`; an exception
    * becomes the record's error.
    */
  def timed(id: Long, client: Int, kind: String, item: Int)(body: => Any): OpRec = {
    val t0 = System.nanoTime()
    try { val ev = body; OpRec(id, client, kind, item, t0, System.nanoTime(), ev, None) }
    catch { case e: Exception => OpRec(id, client, kind, item, t0, System.nanoTime(), null, Some(e)) }
  }

  /** Order-independent digest of a result: row count and two sums of the
    * halves of each row's 64-bit hash. Evaluates every output column.
    */
  def digestFrame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(named.columns.map(col).toIndexedSeq: _*)
    named.select(h.as("h")).agg(count(lit(1)),
      sum(col("h").bitwiseAND(lit(0xffffffffL))), sum(shiftrightunsigned(col("h"), 32)))
  }

  def digestOf(df: DataFrame): String = digestFrame(df).collect().head.mkString(":")

  /** Digest of collected rows (fetch-N results): the sorted row texts. */
  def rowsDigest(rows: Seq[Row]): String = rows.map(_.toString).sorted.mkString("\n")

  /** Latency metrics of a set of operations. */
  def latency(recs: Seq[OpRec], window: Double): Map[String, Stats.Metric] = {
    val ms = recs.map(_.ms)
    Map(
      "ops_per_s" -> Stats.Metric(recs.size / window, "1/s"),
      "latency_p50_ms" -> Stats.Metric(Stats.median(ms), "ms"),
      "latency_p90_ms" -> Stats.Metric(Stats.quantile(ms, 0.9), "ms"))
  }

  def note(s: String): Unit = System.out.println(s"# $s")

  /** Progress line on stderr: seconds since the JVM started. */
  def phase(name: String): Unit = System.err.println(f"perfbench: ${(System.currentTimeMillis() -
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0}%.1f s $name")

  /** Register `path` (parquet) as table `name` in the session catalog. */
  def registerParquet(spark: SparkSession, name: String, path: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    spark.sql(s"CREATE TABLE $name USING parquet LOCATION '$path'")
  }
}
