package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for one phase of one query (or one pipeline flow). */
final class Counters {
  val v: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, x: Double): Unit = v(k) = v.getOrElse(k, 0.0) + x
  def get(k: String): Double = v.getOrElse(k, 0.0)
}

/** Listener pair for the traced run. Jobs carry a tag `pb:<workload>:<query>:<phase>`
  * set by the benchmark before each phase; a job without one (fired from a
  * pool thread whose inherited tags are stale) falls back to the phase that
  * was current when it started. The benchmark drains the listener bus at
  * every phase boundary, so that fallback is exact in a closed loop. */
final class Trace extends SparkListener with QueryExecutionListener {
  @volatile var current: String = "none"
  private val stageKey = mutable.Map.empty[Int, String]
  val byKey: mutable.Map[String, Counters] = mutable.Map.empty

  private def at(key: String): Counters = synchronized(byKey.getOrElseUpdate(key, new Counters))

  def take(key: String): Counters = synchronized(byKey.remove(key).getOrElse(new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq).getOrElse(Nil)
    val key = tags.find(_.startsWith("pb:")).map(_.stripPrefix("pb:")).getOrElse(current)
    e.stageIds.foreach(s => stageKey(s) = key)
    at(key).add("jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    at(stageKey.getOrElse(e.stageInfo.stageId, current)).add("stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = at(stageKey.getOrElse(e.stageId, current))
    c.add("tasks", 1)
    if (e.reason != Success) c.add("failed_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      c.add("task_run_s", m.executorRunTime / 1e3)
      c.add("task_cpu_s", m.executorCpuTime / 1e9)
      c.add("gc_s", m.jvmGCTime / 1e3)
      c.add("scheduler_delay_s", math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)) / 1e3)
      c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      c.add("shuffle_fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      c.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      c.add("input_records", m.inputMetrics.recordsRead)
      c.add("input_bytes", m.inputMetrics.bytesRead)
      c.add("output_records", m.outputMetrics.recordsWritten)
      c.add("output_bytes", m.outputMetrics.bytesWritten)
      c.v("peak_exec_mem_bytes") = math.max(c.get("peak_exec_mem_bytes"), m.peakExecutionMemory.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    plan(qe)

  /** Catalyst phase times from the planning tracker, and exchange counts from
    * the final (post-adaptive) physical plan. Events reach this listener on
    * the bus thread, after the phase that ran the query; they are charged to
    * the phase that is current when the bus is drained. */
  private def plan(qe: QueryExecution): Unit = {
    val c = at(current)
    val phases = qe.tracker.phases
    def secs(p: String): Double = phases.get(p).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
    c.add("analysis_s", secs("analysis"))
    c.add("optimization_s", secs("optimization"))
    c.add("planning_s", secs("planning"))
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike => c.add("exchanges", 1)
        case _: BroadcastExchangeLike => c.add("broadcasts", 1)
        case _: ReusedExchangeExec => c.add("reused_exchanges", 1)
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    try walk(qe.executedPlan)
    catch { case _: Exception => () } // a query that failed to plan has no plan to count
  }
}
