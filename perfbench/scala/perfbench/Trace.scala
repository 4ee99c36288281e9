package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.pipeline.{IdempotentSink, Source, WatermarkState}

/** One timed call into a layer. `op` is the benchmark operation (a copy
  * cycle, a query, a tick) the call belongs to. */
final case class Span(name: String, op: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Bench-side tracing. Everything lives in memory and is summarised when
  * the run ends; nothing under `src/` knows it exists.
  *
  *  - Spans come from timing decorators around the public `Source`,
  *    `IdempotentSink` and `WatermarkState` traits, and from the
  *    workloads' own calls into the engine.
  *  - A `SparkListener` attributes jobs, stages and task metrics to the
  *    operation named by the `perfbench.op` local property (inherited by
  *    the orchestrator's pool threads) and to the engine's own job group.
  *  - A `StreamingQueryListener` keeps each progress event's durations.
  *  - A `QueryExecutionListener` walks every executed plan for codegen
  *    fallbacks and whole-stage-codegen subtrees.
  *
  * `on` switches all recording; the workloads flip it per operation so a
  * traced run interleaves traced and untraced operations and can report
  * its own overhead. `currentOp` names the operation under way; a thread
  * doing one part of it (and the threads it starts) names its part in
  * `threadOp`. */
final class Trace {
  val on = new AtomicBoolean(false)
  private val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var currentOp: String = ""
  val threadOp = new InheritableThreadLocal[String]

  private def opNow: String = Option(threadOp.get).getOrElse(currentOp)

  def span[T](name: String)(body: => T): T =
    if (!on.get()) body
    else {
      val op = opNow
      val t0 = System.nanoTime()
      try body
      finally spans.add(Span(name, op, t0, System.nanoTime()))
    }

  def record(name: String, op: String, startNs: Long, endNs: Long): Unit =
    if (on.get()) spans.add(Span(name, op, startNs, endNs))

  def spansOf(op: String): Seq[Span] = spans.asScala.filter(_.op == op).toSeq

  /** Seconds of `name` spans in `op`. */
  def total(op: String, name: String): Double =
    spansOf(op).filter(_.name == name).map(_.seconds).sum

  // ---- Spark scheduler -------------------------------------------------

  final class Counters {
    var jobs, stages, tasks = 0L
    var taskCpuNs, gcMs, shuffleBytes, spillBytes, outBytes = 0L
    val jobGroups = mutable.Map.empty[String, Long]
  }
  private val counters = mutable.Map.empty[String, Counters]
  private val stageOp = mutable.Map.empty[Int, String]

  def countersOf(op: String): Counters = counters.synchronized {
    counters.getOrElseUpdate(op, new Counters)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on.get()) {
      val props = Option(e.properties)
      val op = props.flatMap(p => Option(p.getProperty("perfbench.op"))).getOrElse(currentOp)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      counters.synchronized {
        val c = counters.getOrElseUpdate(op, new Counters)
        c.jobs += 1
        c.jobGroups(group) = c.jobGroups.getOrElse(group, 0L) + 1
        e.stageIds.foreach(s => stageOp(s) = op)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = counters.synchronized {
      stageOp.get(e.stageInfo.stageId).foreach { op =>
        val c = counters.getOrElseUpdate(op, new Counters)
        c.stages += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = counters.synchronized {
      for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
        val c = counters.getOrElseUpdate(op, new Counters)
        c.tasks += 1
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  // ---- Streaming -------------------------------------------------------

  /** (op, durationMs map) per progress event that moved rows. */
  val progress = new ConcurrentLinkedQueue[(String, Map[String, Long])]()

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (on.get())
        progress.add(currentOp ->
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  // ---- Plans -----------------------------------------------------------

  final class PlanStats { var fallbackExprs, wscgSubtrees = 0L }
  private val planStats = mutable.Map.empty[String, PlanStats]

  def planStatsOf(op: String): PlanStats = planStats.synchronized {
    planStats.getOrElseUpdate(op, new PlanStats)
  }

  val planListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (on.get()) {
        val (fallbacks, wscg) = PlanWalk(qe.executedPlan)
        planStats.synchronized {
          val s = planStats.getOrElseUpdate(currentOp, new PlanStats)
          s.fallbackExprs += fallbacks
          s.wscgSubtrees += wscg
        }
      }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamingListener)
    spark.listenerManager.register(planListener)
  }

  // ---- Decorators ------------------------------------------------------

  final class TracedSource(inner: Source) extends Source {
    def read(spark: SparkSession, table: String): DataFrame =
      span(s"source.read:$table")(inner.read(spark, table))
  }

  /** Must itself be an `IdempotentSink`: `CopyJob` matches on that trait,
    * and a plain `Sink` wrapper would switch the copy to the append path. */
  final class TracedSink(inner: IdempotentSink) extends IdempotentSink {
    def write(df: DataFrame, table: String, mode: SaveMode): Unit =
      span(s"sink.write:$table")(inner.write(df, table, mode))
    def writeBatch(df: DataFrame, table: String, batchToken: String): Unit =
      span(s"sink.writeBatch:$table")(inner.writeBatch(df, table, batchToken))
  }

  final class TracedState(inner: WatermarkState) extends WatermarkState {
    def get(table: String): Option[String] = span(s"state.get:$table")(inner.get(table))
    def put(table: String, value: String): Unit = span(s"state.put:$table")(inner.put(table, value))
  }
}

/** Counts `CodegenFallback` expressions and whole-stage-codegen subtrees in
  * an executed plan, through AQE query stages and subqueries. */
object PlanWalk extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): (Long, Long) = {
    var fallbacks, wscg = 0L
    collectWithSubqueries(plan) { case n => n }.foreach { node =>
      if (node.isInstanceOf[WholeStageCodegenExec]) wscg += 1
      node.expressions.foreach(_.foreach {
        case _: CodegenFallback => fallbacks += 1
        case _ =>
      })
    }
    (fallbacks, wscg)
  }
}
