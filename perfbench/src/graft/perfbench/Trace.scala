package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler-level counts at one instant. Differences of two snapshots,
  * taken around a call with the bus drained, attribute work to that call:
  * the benchmark runs one call at a time.
  */
final case class Counts(jobs: Long, stages: Long, tasks: Long, exchanges: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, input: Long, maxTaskMs: Long) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages, tasks + o.tasks,
    exchanges + o.exchanges, shuffleRead + o.shuffleRead, shuffleWrite + o.shuffleWrite,
    spill + o.spill, input + o.input, math.max(maxTaskMs, o.maxTaskMs))
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    exchanges - o.exchanges, shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, input - o.input, maxTaskMs)
}

/** The traced run's observer: a SparkListener for jobs, stages, tasks and
  * bytes, a QueryExecutionListener for the exchanges in each executed
  * plan, and a StreamingQueryListener keeping every micro-batch's progress.
  * None of it is installed in an untraced run.
  */
final class Trace(spark: SparkSession) {
  private val jobs, stages, tasks, exchanges = new AtomicLong
  private val shufR, shufW, spill, input, maxTask = new AtomicLong
  val progress = mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  private val sparkListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      maxTask.accumulateAndGet(t.taskInfo.duration, math.max)
      val m = t.taskMetrics
      if (m != null) {
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        input.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      exchanges.addAndGet(Trace.exchangesIn(qe.executedPlan))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Drained snapshot; also restarts the max-task-duration window. */
  def snap(): Counts = {
    drain()
    Counts(jobs.get, stages.get, tasks.get, exchanges.get, shufR.get, shufW.get,
      spill.get, input.get, maxTask.getAndSet(0L))
  }

  def streamProgress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    drain()
    progress.synchronized(progress.toList)
  }
}

object Trace {
  /** Exchanges that ran in a plan: shuffle and broadcast exchanges in the
    * final adaptive plan, reused ones excluded, subqueries included.
    */
  def exchangesIn(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchangesIn(a.executedPlan)
    case s: QueryStageExec => exchangesIn(s.plan)
    case _: ReusedExchangeExec => 0L
    case e: Exchange => 1L + e.children.map(exchangesIn).sum
    case other => (other.children ++ other.subqueries).map(exchangesIn).sum
  }
}
