package perfbench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counts recorded around the benchmark's calls into each layer.
  * [[Tracer.Off]] only runs the block, so untraced operations pay nothing
  * beyond a virtual call. */
trait Tracer {
  def span[T](name: String)(body: => T): T
  def count(name: String, v: Double): Unit
}

object Tracer {
  object Off extends Tracer {
    def span[T](name: String)(body: => T): T = body
    def count(name: String, v: Double): Unit = ()
  }

  /** Accumulates per-operation values in memory; `take` hands them over and
    * starts the next operation empty. */
  final class On extends Tracer {
    private val vals = mutable.LinkedHashMap.empty[String, Double]
    def span[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally count(name, (System.nanoTime() - t0) / 1e9)
    }
    def count(name: String, v: Double): Unit =
      vals(name) = vals.getOrElse(name, 0.0) + v
    def take(): Map[String, Double] = { val m = vals.toMap; vals.clear(); m }
  }
}

/** Exact operator counts from executed plans, walking through adaptive
  * query stages and subqueries. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def apply(p: SparkPlan): (Int, Int, Int) = {
    val ex = collectWithSubqueries(p) {
      case e: ShuffleExchangeLike => e
      case e: BroadcastExchangeLike => e
    }.size
    val so = collectWithSubqueries(p) { case s: SortExec => s }.size
    val wi = collectWithSubqueries(p) { case w: WindowExecBase => w }.size
    (ex, so, wi)
  }
}

/** Engine counters for one operation: a SparkListener for jobs, stages and
  * task metrics, and a QueryExecutionListener for executed-plan shapes.
  * Registered only for traced runs. */
final class SparkProbe(spark: SparkSession, cores: Int) {
  private val lock = new Object
  private var jobs, stages, tasks = 0L
  private var runMs, gcMs, cpuNs = 0L
  private var shW, shR, spill = 0L
  private var exchanges, sorts, windows = 0L
  private val spans = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      lock.synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      tasks += 1
      spans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shW += m.shuffleWriteMetrics.bytesWritten
        shR += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = {
      val (e, s, w) = PlanShape(qe.executedPlan)
      lock.synchronized { exchanges += e; sorts += s; windows += w }
    }
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def reset(): Unit = {
    BusDrain(spark.sparkContext)
    lock.synchronized {
      jobs = 0; stages = 0; tasks = 0; runMs = 0; gcMs = 0; cpuNs = 0
      shW = 0; shR = 0; spill = 0; exchanges = 0; sorts = 0; windows = 0
      spans.clear()
    }
  }

  /** Figures of the operation that ran over wall-clock [t0Ms, t1Ms]. */
  def read(t0Ms: Long, t1Ms: Long): Map[String, Double] = {
    BusDrain(spark.sparkContext)
    lock.synchronized {
      val wall = math.max(1L, t1Ms - t0Ms) / 1e3
      // wall time with no task running: planning, codegen, scheduling, commit
      var covered = 0L
      var end = t0Ms
      spans.map { case (a, b) => (math.max(a, t0Ms), math.min(b, t1Ms)) }
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (b > end) { covered += b - math.max(a, end); end = b }
        }
      Map(
        "spark.jobs" -> jobs.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> tasks.toDouble,
        "spark.task_run_s" -> runMs / 1e3,
        "spark.task_cpu_s" -> cpuNs / 1e9,
        "spark.gc_s" -> gcMs / 1e3,
        "spark.busy_ratio" -> (runMs / 1e3) / (wall * cores),
        "spark.driver_s" -> (wall - covered / 1e3),
        "spark.shuffle_write_bytes" -> shW.toDouble,
        "spark.shuffle_read_bytes" -> shR.toDouble,
        "spark.spill_bytes" -> spill.toDouble,
        "plan.exchanges" -> exchanges.toDouble,
        "plan.sorts" -> sorts.toDouble,
        "plan.windows" -> windows.toDouble)
    }
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}
