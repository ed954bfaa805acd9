package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into the program. */
final case class Span(id: Int, name: String, parent: Int, run: String,
                      startNs: Long, var endNs: Long = 0L) {
  def durNs: Long = endNs - startNs
}

/** What Spark itself reports for the jobs run inside one span. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillDiskBytes = 0L
  /** Operator row counts read from executed plans (see [[PlanCounts]]). */
  val rows: mutable.Map[String, Long] = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** Spans kept in memory and written when the run ends. Task metrics come
  * from a SparkListener, operator row counts from a QueryExecutionListener;
  * both are attributed to the innermost open span. The listener bus is
  * drained at every span boundary, so each event lands in the span whose
  * jobs produced it. */
final class Tracer(runId: String) {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  val counters: mutable.Map[Int, Counters] = mutable.Map.empty
  @volatile private var current = -1
  private var stack: List[Int] = Nil
  private var spark: SparkSession = _
  private val planCounts = new PlanCounts

  private def ctr(id: Int): Counters = counters.synchronized(counters.getOrElseUpdate(id, new Counters))

  private val taskListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = ctr(current).jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = ctr(current).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = ctr(current)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillDiskBytes += m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = ctr(current)
      planCounts.of(qe.executedPlan).foreach { case (k, v) => c.rows(k) += v }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Registers the listeners on a fresh session. */
  def attach(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(taskListener)
    s.listenerManager.register(queryListener)
  }

  private def drain(): Unit = if (spark != null) ListenerBusAccess.drain(spark.sparkContext)

  def span[T](name: String)(body: => T): T = {
    drain()
    val sp = Span(spans.size, name, stack.headOption.getOrElse(-1), runId, System.nanoTime())
    spans += sp
    stack = sp.id :: stack
    current = sp.id
    try body
    finally {
      val end = System.nanoTime()
      drain()
      sp.endNs = end
      stack = stack.tail
      current = stack.headOption.getOrElse(-1)
    }
  }

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq
  def selfNs(s: Span): Long = s.durNs - children(s.id).map(_.durNs).sum
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def counts(s: Span): Counters = ctr(s.id)

  def toJsonLines: Seq[String] = spans.map { s =>
    val c = counts(s)
    Json.obj(Seq("run" -> s.run, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "jobs" -> c.jobs, "stages" -> c.stages,
      "tasks" -> c.tasks, "task_ms" -> c.taskMs, "shuffle_write_bytes" -> c.shuffleWriteBytes,
      "shuffle_read_bytes" -> c.shuffleReadBytes, "spill_disk_bytes" -> c.spillDiskBytes,
      "rows" -> c.rows.toMap))
  }.toSeq
}

/** Operator row counts read from an executed plan's SQL metrics:
  *  - `prefilter.in` / `prefilter.out`: rows entering / leaving the
  *    phrase-id semi-join prefilter (exact set or Bloom tier);
  *  - `knn.rounds` / `knn.probe_rows` / `knn.residual_rows`: per kNN ring
  *    round, the exploded probe cells and the points entering the round.
  * A cached relation's building plan is read once, the first time a scan
  * of it is seen. */
final class PlanCounts {
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())

  private def walk(p: SparkPlan, f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, f)
      case s: QueryStageExec => walk(s.plan, f)
      case _: ReusedExchangeExec => ()
      case m: InMemoryTableScanExec =>
        val built = m.relation.cacheBuilder.cachedPlan
        if (seen.synchronized(seen.add(built))) walk(built, f)
      case _ => p.children.foreach(walk(_, f))
    }
    p.subqueries.foreach(walk(_, f))
  }

  private def rowsOf(p: SparkPlan): Option[Long] =
    p.metrics.get("numOutputRows").map(_.value)

  /** Output rows of the nearest operator below `p` that counts them. */
  private def inputRows(p: SparkPlan): Long = {
    def down(q: SparkPlan): Option[Long] = q match {
      case a: AdaptiveSparkPlanExec => down(a.executedPlan)
      case s: QueryStageExec => down(s.plan)
      case _ => rowsOf(q).orElse(q.children.headOption.flatMap(down))
    }
    p.children.headOption.flatMap(down).getOrElse(0L)
  }

  private def uses(e: org.apache.spark.sql.catalyst.expressions.Expression, names: Set[String]) =
    e.exists(x => names.contains(x.prettyName))

  def of(plan: SparkPlan): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    walk(plan, {
      case f: FilterExec if uses(f.condition, Set("long_set_contains", "bloom_might_contain")) =>
        out("prefilter.out") += rowsOf(f).getOrElse(0L)
        out("prefilter.in") += inputRows(f)
      case g: GenerateExec if uses(g.generator, Set("annulus_cells")) =>
        out("knn.rounds") += 1
        out("knn.probe_rows") += rowsOf(g).getOrElse(0L)
        out("knn.residual_rows") += inputRows(g)
      case _ => ()
    })
    out.toMap
  }
}

/** Wraps the ray-cast point-in-polygon test to count its evaluations and
  * its true results, without changing its value. */
final case class CountingPip(child: org.apache.spark.sql.catalyst.expressions.Expression,
                             evals: org.apache.spark.util.LongAccumulator,
                             hits: org.apache.spark.util.LongAccumulator)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: org.apache.spark.sql.types.DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "counting_pip"
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    evals.add(1L)
    if (v == true) hits.add(1L)
    v
  }
  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression): CountingPip = copy(child = c)
}
