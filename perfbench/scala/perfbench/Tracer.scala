package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative engine counters at one instant. Differences of two
  * snapshots taken around a call attribute the work to that call. */
final case class Counts(
    jobs: Long, tasks: Long, rowsRead: Long, runMs: Long, cpuNs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long,
    compiles: Long, compileNs: Long,
    analysisMs: Long, optimizationMs: Long, planningMs: Long, execNs: Long) {
  def -(o: Counts): Counts = Counts(
    jobs - o.jobs, tasks - o.tasks, rowsRead - o.rowsRead, runMs - o.runMs,
    cpuNs - o.cpuNs, shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, compiles - o.compiles, compileNs - o.compileNs,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
    planningMs - o.planningMs, execNs - o.execNs)
  def +(o: Counts): Counts = Counts(
    jobs + o.jobs, tasks + o.tasks, rowsRead + o.rowsRead, runMs + o.runMs,
    cpuNs + o.cpuNs, shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
    spill + o.spill, compiles + o.compiles, compileNs + o.compileNs,
    analysisMs + o.analysisMs, optimizationMs + o.optimizationMs,
    planningMs + o.planningMs, execNs + o.execNs)
}

object Counts {
  val zero: Counts = Counts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** The traced run's only instrument: a `SparkListener` for jobs, tasks and
  * task metrics, a `QueryExecutionListener` for Catalyst phase times from
  * `queryExecution.tracker`, and Spark's process-wide codegen counters.
  * Nothing inside the program is changed. */
final class Tracer(spark: SparkSession) {
  private val jobs, tasks, rowsRead, runMs, cpuNs, shW, shR, spill = new AtomicLong
  private val analysis, optimization, planning, execNs = new AtomicLong

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        rowsRead.addAndGet(m.inputMetrics.recordsRead)
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      analysis.addAndGet(ms("analysis"))
      optimization.addAndGet(ms("optimization"))
      planning.addAndGet(ms("planning"))
      execNs.addAndGet(durationNs)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  def snap(): Counts = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    Counts(jobs.get, tasks.get, rowsRead.get, runMs.get, cpuNs.get, shW.get, shR.get,
      spill.get, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime, analysis.get, optimization.get, planning.get, execNs.get)
  }

  /** Run `f`, returning its value, its wall time in ms and its counts. */
  def measure[T](f: => T): (T, Double, Counts) = {
    val before = snap()
    val t0 = System.nanoTime()
    val v = f
    val ms = (System.nanoTime() - t0) / 1e6
    (v, ms, snap() - before)
  }
}
