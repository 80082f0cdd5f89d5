package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative counters of one session's work, fed by a SparkListener
  * (jobs, tasks, executor time, shuffle, spill, input) and a
  * QueryExecutionListener (Catalyst analysis, optimization and planning
  * time of every action). Attached only while tracing; `snapshot()`
  * drains the listener bus first, so a snapshot covers everything that
  * finished before it. */
final class Tracer(spark: SparkSession) {
  private val jobs, tasks, runMs, cpuNs, shuffleWrite, spill, input, planMs =
    new AtomicLong
  private val groupJobs = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => groupJobs.computeIfAbsent(g, _ => new AtomicLong).incrementAndGet())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        input.addAndGet(m.inputMetrics.bytesRead)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Jobs started so far under job group `group` (drains the bus). */
  def jobsOf(group: String): Long = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    Option(groupJobs.get(group)).map(_.get).getOrElse(0L)
  }

  def snapshot(): Tracer.Snap = {
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    Tracer.Snap(jobs.get, tasks.get, runMs.get, cpuNs.get, shuffleWrite.get,
      spill.get, input.get, planMs.get)
  }
}

object Tracer {
  final case class Snap(jobs: Long, tasks: Long, runMs: Long, cpuNs: Long,
      shuffleWrite: Long, spill: Long, input: Long, planMs: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, runMs - o.runMs,
      cpuNs - o.cpuNs, shuffleWrite - o.shuffleWrite, spill - o.spill,
      input - o.input, planMs - o.planMs)
  }
}
