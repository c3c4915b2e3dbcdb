package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.PerfbenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for the traced run: Spark's public listeners
  * (jobs, stages, tasks, CPU, shuffle, spill, skew, planning phases,
  * sink commits) plus the codegen compile-time delta. Registered only
  * in the traced run; the untraced run has no listener at all. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  private val stageTaskMs = mutable.Map[(Int, Int), mutable.ArrayBuffer[Long]]()
  var planMs = 0L
  var kernelPlans = 0L
  var sinkCommitMs = 0L
  @volatile private var active = true
  /** Time spent inside this tracer's own callbacks: the tracing cost. */
  var busyNs = 0L
  private def counted(body: => Unit): Unit = if (active) synchronized {
    val t0 = System.nanoTime()
    body
    busyNs += System.nanoTime() - t0
  }
  private var codegenNs = 0L
  private var codegenMark = compileNs

  private def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Stop counting (after draining what the op produced) while the
    * harness checks an op's output; resume() starts counting again. */
  def pause(): Unit = {
    drain()
    active = false
    codegenNs += compileNs - codegenMark
  }
  def resume(): Unit = {
    drain()
    active = true
    codegenMark = compileNs
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = counted { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = counted { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = counted {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime
        runMs += m.executorRunTime
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer()) +=
        e.taskInfo.duration
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      counted {
        planMs += qe.tracker.phases.values.map(_.durationMs).sum
        val plan = qe.executedPlan
        // the per-play kernel is the plan's only MapGroups operator
        if (plan.toString.contains("MapGroups")) kernelPlans += 1
        plan.collect { case w: DataWritingCommandExec => w.cmd.metrics }.foreach { m =>
          def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
          sinkCommitMs += v("taskCommitTime") + v("jobCommitTime")
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)

  def drain(): Unit = PerfbenchAccess.drainListeners(sc)

  def codegenMs: Double = codegenNs / 1e6

  /** Median over stages with at least two tasks of max / median task time. */
  def taskSkew: Double = synchronized {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ds =>
      val s = ds.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }.toSeq.sorted
    if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)
  }

  def remove(): Unit = {
    drain()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }
}

/** Wall-clock spans recorded from the harness around calls into the
  * library, summed by name. */
final class Spans {
  val total = mutable.LinkedHashMap[String, Double]()

  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally total(name) = total.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }
}
