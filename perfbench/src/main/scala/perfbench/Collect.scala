package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Spark execution counters per operation, from a [[SparkListener]]. Jobs
  * are attributed to an operation by the job tag its thread set
  * (`perfbench-op-<id>`). Read only after the timed region, once the
  * listener bus has caught up ([[settle]]).
  */
final class JobListener extends SparkListener {
  final class Acc {
    var jobs = 0; var stages = 0; var tasks = 0L
    var taskTimeMs = 0L; var gcMs = 0L; var inputRows = 0L; var shuffleBytes = 0L
  }
  private val byOp = new java.util.concurrent.ConcurrentHashMap[Long, Acc]()
  private val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val started = new java.util.concurrent.atomic.AtomicLong()
  private val ended = new java.util.concurrent.atomic.AtomicLong()

  private def acc(op: Long): Acc = byOp.computeIfAbsent(op, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .getOrElse("")
    tags.split(",").collectFirst {
      case t if t.startsWith(JobListener.Prefix) => t.stripPrefix(JobListener.Prefix).toLong
    }.foreach { op =>
      val a = acc(op)
      a.synchronized { a.jobs += 1 }
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.incrementAndGet(); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      val a = acc(op)
      val m = e.stageInfo.taskMetrics
      a.synchronized {
        a.stages += 1
        a.tasks += e.stageInfo.numTasks
        if (m != null) {
          a.taskTimeMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.inputRows += m.inputMetrics.recordsRead
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

  /** Wait (bounded) until every started job has been seen to end. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (ended.get() < started.get() && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(100) // stage-completed events trail the job-end event
  }

  def of(op: Long): Option[Acc] = Option(byOp.get(op))

  /** Jobs started since the listener was added, tagged or not. */
  def jobsStarted: Long = started.get()
}

object JobListener {
  val Prefix = "perfbench-op-"

  /** Run `body` with this thread's Spark jobs tagged as operation `op`. */
  def tagged[T](spark: SparkSession, op: Long)(body: => T): T = {
    val tag = Prefix + op
    spark.sparkContext.addJobTag(tag)
    try body finally spark.sparkContext.removeJobTag(tag)
  }
}

/** JVM counters over a window, from the GC and memory MXBeans. */
final class JvmWindow {
  import scala.jdk.CollectionConverters._
  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
  heapPools.foreach(_.resetPeakUsage())
  private val gc0 = gcMs()

  def gcDeltaMs: Double = (gcMs() - gc0).toDouble
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

object Jvm {
  /** Heap in use after forced full collections, MiB. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Reads of a DataFrame's own `QueryExecution` after it ran. */
object Plans {
  def qe(df: DataFrame): org.apache.spark.sql.execution.QueryExecution =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution

  /** Catalyst phase time in ms ("analysis", "optimization", "planning"). */
  def phaseMs(df: DataFrame, phase: String): Double =
    qe(df).tracker.phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)

  /** Total time of analyzer rules whose name contains `fragment`, ms. */
  def ruleMs(df: DataFrame, fragment: String): Double =
    qe(df).tracker.rules.collect {
      case (name, s) if name.contains(fragment) => s.totalTimeNs / 1e6
    }.sum

  /** Exchange nodes in the executed plan (AQE's final plan when adaptive). */
  def exchanges(df: DataFrame): Int = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case e: Exchange => 1 + e.children.map(walk).sum
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      case other => other.children.map(walk).sum + other.subqueries.map(walk).sum
    }
    walk(qe(df).executedPlan)
  }

  /** (root paths, "PushedFilters" text) of every file scan in the executed
    * plan.
    */
  def pushedFilters(df: DataFrame): Seq[(Seq[String], String)] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def walk(p: SparkPlan): Seq[(Seq[String], String)] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
      case s: FileSourceScanExec => Seq((s.relation.location.rootPaths.map(_.toString),
        s.metadata.getOrElse("PushedFilters", "")))
      case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    walk(qe(df).executedPlan)
  }

  /** Top-level entries of a "[f1, f2(a, b), ...]" filter list. */
  def filterEntries(text: String): Seq[String] = {
    val body = text.stripPrefix("[").stripSuffix("]")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var start = 0
    body.indices.foreach { i =>
      body(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 => out += body.substring(start, i).trim; start = i + 1
        case _ =>
      }
    }
    if (body.trim.nonEmpty) out += body.substring(start).trim
    out.toSeq
  }
}
