package perfbench

/** One timed call into a layer of the program. `parent` is the enclosing
  * span of the same operation (-1 for the operation's root span).
  */
final case class Span(op: Long, id: Long, parent: Long, name: String,
    layer: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder for the traced run. Spans nest per thread; they
  * are kept in memory and written out once, when the run ends.
  */
final class Tracer {
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil) // (op, span id)

  /** Record `body` as span `name` of `layer`, under the current span. */
  def span[T](name: String, layer: String)(body: => T): T = {
    val (op, parent) = stack.get() match {
      case (o, s) :: _ => (o, s)
      case Nil => throw new IllegalStateException(s"span $name outside an operation")
    }
    record(op, parent, name, layer)(body)
  }

  /** Root span of operation `op`. */
  def op[T](op: Long, name: String)(body: => T): T = record(op, -1L, name, "op")(body)

  private def record[T](op: Long, parent: Long, name: String, layer: String)(body: => T): T = {
    val id = ids.incrementAndGet()
    stack.set((op, id) :: stack.get())
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get().tail)
      spans.add(Span(op, id, parent, name, layer, t0, t1))
    }
  }

  /** Add a span measured elsewhere (streaming progress durations). */
  def add(s: Span): Unit = spans.add(s.copy(id = ids.incrementAndGet()))

  def all: Seq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toSeq }

  /** Per-layer self time in ms per operation: each span's duration minus
    * the part its children cover, summed by layer, over the operations.
    */
  def selfMsPerOp(): Map[String, Double] = {
    val ss = all
    val childNs = ss.filter(_.parent >= 0).groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.durNs).sum }
    val ops = ss.map(_.op).distinct.size.max(1)
    ss.groupBy(_.layer).map { case (layer, xs) =>
      layer -> xs.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum / 1e6 / ops
    }
  }

  /** Total duration in ms of the spans called `name`, per operation. */
  def perOpMs(name: String, ops: Double): Double =
    all.filter(_.name == name).map(_.durNs / 1e6).sum / ops

  /** Write every span as one JSON line to `file`. */
  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(s => (s.op, s.startNs)).foreach { s =>
      w.println(s"""{"op": ${s.op}, "id": ${s.id}, "parent": ${s.parent}, "name": ${Stats.jsonString(s.name)}, "layer": ${Stats.jsonString(s.layer)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""")
    } finally w.close()
  }
}

/** The layers a span can belong to — named after the program's modules. */
object Layer {
  val Policy = "policy"
  val Plans = "plans"
  val SecurityContext = "security_context"
  val Catalyst = "catalyst"
  val Execution = "execution"
  val Sources = "sources"
  val Streaming = "streaming"
  val all: Seq[String] = Seq(Policy, Plans, SecurityContext, Catalyst, Execution,
    Sources, Streaming)
}

/** Per-layer metrics every traced run reports the same way. */
object Traced {
  /** Stage times per operation, self time per layer, and the comparison of
    * the traced operations with untraced facade calls of the same run:
    * tracing overhead, and the facade's own glue (facade latency minus the
    * stages it is made of).
    */
  def common(tracer: Tracer, traced: Seq[OpRec], facade: Seq[OpRec],
      stages: Seq[String]): Map[String, Stats.Metric] = {
    val n = traced.size.max(1).toDouble
    val names = Map(
      "parse" -> "security_context.parse_ms", "analyze" -> "security_context.analyze_ms",
      "reanalyze" -> "security_context.reanalyze_ms", "column_deny" -> "plans.column_deny_ms",
      "row_filter" -> "plans.row_filter_ms", "data_mask" -> "plans.data_mask_ms",
      "render" -> "plans.render_ms", "dml_rewrite" -> "plans.dml_rewrite_ms")
    val stageMs = stages.map(s => s -> tracer.perOpMs(s, n)).toMap
    val self = tracer.selfMsPerOp()
    val tracedP50 = Stats.median(traced.map(_.ms))
    val facadeP50 = Stats.median(facade.map(_.ms))
    val facadeMean = Stats.mean(facade.map(_.ms))
    stageMs.collect { case (s, v) if names.contains(s) => names(s) -> Stats.Metric(v, "ms") } ++
      (Layer.all :+ "op").map(l =>
        s"trace.self_ms_per_op.$l" -> Stats.Metric(self.getOrElse(l, 0.0), "ms")) ++
      Map(
        "trace.traced_p50_ms" -> Stats.Metric(tracedP50, "ms"),
        "trace.untraced_p50_ms" -> Stats.Metric(facadeP50, "ms"),
        "trace.overhead_ratio" -> Stats.Metric(
          if (facadeP50 > 0) tracedP50 / facadeP50 - 1 else 0.0, "ratio"),
        "trace.facade_glue_ms" -> Stats.Metric(
          if (facade.isEmpty) 0.0 else facadeMean - stageMs.values.sum, "ms"))
  }
}
