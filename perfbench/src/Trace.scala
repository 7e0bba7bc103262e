package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced action: a query or a prefix of the text pipeline. */
case class Span(run: String, id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Task metrics summed over every task of one span's jobs. */
case class TaskStats(var tasks: Long = 0, var runMs: Long = 0, var gcMs: Long = 0,
                     var fetchWaitMs: Long = 0, var shuffleWriteBytes: Long = 0,
                     var spillBytes: Long = 0, var peakExecMem: Long = 0)

/** What the executed plan of one span shows, read from its SQL metrics. */
case class PlanStats(fileScans: Int, scanBytes: Long, fallbackExprs: Int, generateRows: Long,
                     partialAggRows: Long, pairExchangeWritten: Long,
                     pairExchangeRead: Long, broadcastBytes: Long)

/** Spark-side tracing from outside the engine: a SparkListener sums task
  * metrics per job group (one group per span) and a QueryExecutionListener
  * summarises the executed plan of each action, in action order. Both run on
  * Spark's listener bus; `awaitPlans` waits for the bus to deliver an
  * action's events before the next action starts. Plans of query executions
  * older than `minQueryId` are late events of untraced actions and skipped.
  */
class Tracer extends SparkListener with QueryExecutionListener {
  @volatile var minQueryId = Long.MaxValue
  private val stageGroup = mutable.Map[Int, String]()
  val tasks: mutable.Map[String, TaskStats] = mutable.Map()
  private val plans = mutable.ArrayBuffer[PlanStats]()

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => stageGroup(e.stageInfo.stageId) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = tasks.getOrElseUpdate(g, TaskStats())
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (qe.id >= minQueryId) add(Tracer.summarize(qe.executedPlan))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    if (qe.id >= minQueryId) add(PlanStats(0, 0, 0, 0, 0, 0, 0, 0))

  private def add(p: PlanStats): Unit = synchronized { plans += p; notifyAll() }

  /** Waits until `n` actions have reported their plans; returns the last. */
  def awaitPlans(n: Int, timeoutMs: Long = 30000): Option[PlanStats] = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (plans.size < n && System.currentTimeMillis() < deadline)
      wait(math.max(1, deadline - System.currentTimeMillis()))
    if (plans.size >= n) Some(plans(n - 1)) else None
  }
}

object Tracer {
  /** Every node of an executed plan, looking through AQE wrappers and query
    * stages. A reused exchange is listed but not entered: its metrics belong
    * to the exchange it reuses, which is walked where it first appears. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: other.children.flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  def summarize(plan: SparkPlan): PlanStats = {
    val ns = nodes(plan)
    // The (doc_id, term) exchange feeding the tf aggregate: a hash exchange
    // on two keys. Its "records read" counts every read of its output,
    // including reads through ReusedExchange.
    val pairExchanges = ns.collect {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.size == 2
        case _ => false
      }) => e
    }
    PlanStats(
      fileScans = ns.count(_.isInstanceOf[FileSourceScanExec]),
      scanBytes = ns.collect { case f: FileSourceScanExec => metric(f, "filesSize") }.sum,
      fallbackExprs = ns.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum,
      generateRows = ns.collect { case g: GenerateExec => metric(g, "numOutputRows") }.sum,
      partialAggRows = ns.collect {
        case h: HashAggregateExec if h.aggregateExpressions.nonEmpty &&
          h.aggregateExpressions.forall(_.mode == Partial) => metric(h, "numOutputRows")
      }.sum,
      pairExchangeWritten = pairExchanges.map(metric(_, "shuffleRecordsWritten")).sum,
      pairExchangeRead = pairExchanges.map(metric(_, "recordsRead")).sum,
      broadcastBytes = ns.collect { case b: BroadcastExchangeExec => metric(b, "dataSize") }.sum)
  }
}
