package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

/** Counters the benchmark registers on the session. Jobs, stages, tasks,
  * executor time, shuffle and spill are read in traced runs only. The first
  * finished result task of a job started under [[SparkCounters.Deliver]] is
  * always recorded: it is when a parquet or noop write delivered its first
  * output, which `first_record_s` reports for those sinks.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  val jobs, engineJobs, stages, tasks, taskMs, shuffleRead, shuffleWrite, spill = new AtomicLong
  val analysisNs, optimizationNs, planningNs = new AtomicLong
  private val firstDeliverMs = new AtomicLong(Long.MaxValue)
  private val deliverStages = TrieMap.empty[Int, Unit]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val props = Option(e.properties)
    if (props.exists(_.getProperty(SparkCounters.Engine) != null)) engineJobs.incrementAndGet()
    if (props.exists(_.getProperty(SparkCounters.Deliver) != null))
      e.stageIds.foreach(deliverStages.put(_, ()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    if (e.taskType == "ResultTask" && e.taskInfo.successful && deliverStages.contains(e.stageId))
      firstDeliverMs.accumulateAndGet(e.taskInfo.finishTime, math.min)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    def ns(phase: String): Long = p.get(phase).map(s => (s.endTimeMs - s.startTimeMs) * 1000000L).getOrElse(0L)
    analysisNs.addAndGet(ns("analysis"))
    optimizationNs.addAndGet(ns("optimization"))
    planningNs.addAndGet(ns("planning"))
  }

  /** Epoch milliseconds of the first delivered result task since the last
    * reset, if any.
    */
  def firstDeliver: Option[Long] = Some(firstDeliverMs.get).filter(_ != Long.MaxValue)
  def resetFirstDeliver(): Unit = firstDeliverMs.set(Long.MaxValue)

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "engine_jobs" -> engineJobs.get, "stages" -> stages.get, "tasks" -> tasks.get, "task_ms" -> taskMs.get,
    "shuffle_read" -> shuffleRead.get, "shuffle_write" -> shuffleWrite.get, "spill" -> spill.get,
    "analysis_ns" -> analysisNs.get, "optimization_ns" -> optimizationNs.get,
    "planning_ns" -> planningNs.get)
}

object SparkCounters {
  /** Local property that marks the jobs of a delivering write. */
  val Deliver = "perfbench.deliver"

  def register(spark: SparkSession): SparkCounters = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  /** Local property that marks the jobs started inside `SyncEngine.sync`. */
  val Engine = "perfbench.engine"

  def delivering[T](spark: SparkSession)(body: => T): T = marked(spark, Deliver)(body)
  def inEngine[T](spark: SparkSession)(body: => T): T = marked(spark, Engine)(body)

  private def marked[T](spark: SparkSession, key: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(key, "1")
    try body
    finally sc.setLocalProperty(key, null)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
}
