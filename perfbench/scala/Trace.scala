package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval on the benchmark clock (epoch milliseconds). */
final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double)

/** Per-layer counters and spans collected by three Spark listeners while a
  * traced pass runs: scheduler and task metrics (`SparkListener`), Catalyst
  * phases and final-plan join output (`QueryExecutionListener`), and
  * micro-batch phases and state-store figures (`StreamingQueryListener`).
  *
  * Listener callbacks run on Spark's listener-bus threads, so they only
  * append to lock-free queues and add to counters; `drain` waits for the bus
  * to deliver everything before a traced pass is closed.
  */
final class Trace {
  val counts = new java.util.concurrent.ConcurrentHashMap[String, Double]()
  /** Spark jobs and streaming batches as (name, start ms, end ms). */
  val leafSpans = new ConcurrentLinkedQueue[(String, Double, Double)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  /** Whether the running lane's join output goes into the candidate funnel
    * (`operators.join_rows_out`); the harness drains the bus after each lane,
    * so every event is delivered while its lane's flag is set.
    */
  @volatile var countJoins = false

  def add(key: String, v: Double): Unit = counts.merge(key, v, (a: Double, b: Double) => a + b)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("spark.jobs", 1)
      jobStart.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { t =>
        leafSpans.add((s"job ${e.jobId}", t.toDouble, e.time.toDouble))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("spark.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("spark.task_run_s", m.executorRunTime / 1e3)
        add("spark.task_cpu_s", m.executorCpuTime / 1e9)
        add("spark.gc_s", m.jvmGCTime / 1e3)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
        add("Tables.input_rows", m.inputMetrics.recordsRead.toDouble)
        add("Tables.input_bytes", m.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(p: String): Double = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      add("catalyst.analysis_s", phase("analysis"))
      add("catalyst.optimization_s", phase("optimization"))
      add("catalyst.planning_s", phase("planning"))
      add("catalyst.plan_nodes", qe.optimizedPlan.collect { case p => p }.size.toDouble)
      if (countJoins) add("operators.join_rows_out", Trace.planNodes(qe.executedPlan).collect {
        case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum.toDouble)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala
      def ms(k: String): Double = d.get(k).map(_.toDouble / 1e3).getOrElse(0.0)
      add("streaming.batches", 1)
      add("streaming.input_rows", p.numInputRows.toDouble)
      add("streaming.trigger_s", ms("triggerExecution"))
      add("streaming.addBatch_s", ms("addBatch"))
      add("streaming.queryPlanning_s", ms("queryPlanning"))
      add("streaming.walCommit_s", ms("walCommit"))
      add("streaming.commitOffsets_s", ms("commitOffsets"))
      p.stateOperators.foreach { s =>
        add("streaming.state_commit_s", s.commitTimeMs / 1e3)
        add("streaming.state_rows", s.numRowsTotal.toDouble)
        add("streaming.state_mem_bytes", s.memoryUsedBytes.toDouble)
      }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      leafSpans.add((s"batch ${p.batchId}", start, start + ms("triggerExecution") * 1e3))
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  /** Deliver every queued listener event, then detach the listeners. */
  def unregister(spark: SparkSession): Unit = {
    Trace.drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

object Trace {
  /** Every node of a physical plan, looking through adaptive wrappers and
    * query stages into the final plan; a reused exchange is counted once,
    * at its original.
    */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case _: ReusedExchangeExec => Nil
    case _ => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.Bus.waitUntilEmpty(spark.sparkContext)
}
