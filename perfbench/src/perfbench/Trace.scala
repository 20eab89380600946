package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative Spark-level counters; a span's counts are the difference of
  * two snapshots. */
final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                        cpuNs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
                        analysisMs: Long = 0, optimizationMs: Long = 0,
                        planningMs: Long = 0, gcMs: Long = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    cpuNs - o.cpuNs, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
    analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
    planningMs - o.planningMs, gcMs - o.gcMs)
}

/** One layer call timed from outside: `buildS` from the call into the
  * layer's public function until it returns, `runS` from there through
  * the action that forces the result. `taskSkew` is the slowest task over
  * the median task of the span's costliest stage. */
final case class Span(buildS: Double, runS: Double, buildJobs: Long,
                      counts: Counts, taskSkew: Double)

/** The traced run's instruments: a SparkListener and a
  * QueryExecutionListener that the benchmark registers for traced units
  * only. Untraced units run with neither attached. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private var c = Counts()
  private val stageRunMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = c.copy(tasks = c.tasks + 1)
    if (m != null) {
      c = c.copy(cpuNs = c.cpuNs + m.executorCpuTime,
        shuffleBytes = c.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = c.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled)
      stageRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      c = c.copy(analysisMs = c.analysisMs + ms("analysis"),
        optimizationMs = c.optimizationMs + ms("optimization"),
        planningMs = c.planningMs + ms("planning"))
    }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def snapshot(): Counts = {
    Bus.drain(spark.sparkContext)
    synchronized(c.copy(gcMs = math.round(Stats.gcSeconds() * 1e3)))
  }

  /** Times `build`, then `run` on its result, with the counts of both. */
  def span[A, B](build: => A)(run: A => B): (B, Span) = {
    val c0 = snapshot()
    synchronized(stageRunMs.clear())
    val t0 = System.nanoTime()
    val a = build
    val t1 = System.nanoTime()
    val c1 = snapshot()
    val t2 = System.nanoTime()
    val b = run(a)
    val t3 = System.nanoTime()
    val c2 = snapshot()
    val skew = synchronized {
      if (stageRunMs.isEmpty) 1.0
      else {
        val times = stageRunMs.values.maxBy(_.sum).sorted
        times.last.toDouble / math.max(1L, times(times.size / 2))
      }
    }
    (b, Span((t1 - t0) / 1e9, (t3 - t2) / 1e9, (c1 - c0).jobs, c2 - c0, skew))
  }
}
