package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-span Spark counters, collected from outside the engine: one
  * `SparkListener` for jobs and tasks, one `QueryExecutionListener` for the
  * final (AQE) plans. Spans are sequential and opened by the one client
  * thread; the listener bus is drained at every span boundary, so each
  * event lands in the span that was open when its work ran. */
final class Tracer(spark: SparkSession, cores: Int)
    extends SparkListener with QueryExecutionListener {

  /** One closed span occurrence. */
  final case class Occurrence(name: String, wallS: Double, selfS: Double,
      counters: Map[String, Double], cpuByModule: Map[String, Double])

  private final class Open(val name: String, val homeModule: String, val startMs: Long) {
    var jobs, tasks, runMs, cpuNs, gcMs, shuffleWrite, spill, output, exchanges = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val cpuByModule = mutable.Map.empty[String, Long].withDefaultValue(0L)
  }

  private var open: Option[Open] = None
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageModule = mutable.Map.empty[Int, String]
  val occurrences = mutable.ArrayBuffer.empty[Occurrence]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def span[T](name: String, homeModule: String = "")(body: => T): T = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    val o = new Open(name, homeModule, System.currentTimeMillis())
    synchronized { open = Some(o) }
    try body
    finally {
      org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      val endMs = System.currentTimeMillis()
      synchronized { open = None }
      occurrences += close(o, endMs)
    }
  }

  private def close(o: Open, endMs: Long): Occurrence = {
    val wallS = math.max(endMs - o.startMs, 1L) / 1e3
    // self time: the part of the span that no Spark job covers
    var covered = 0L
    var reach = o.startMs
    for ((s, e) <- o.jobIntervals.sortBy(_._1)) {
      val a = math.max(s, reach)
      val b = math.min(e, endMs)
      if (b > a) { covered += b - a; reach = b }
    }
    val mb = 1024.0 * 1024.0
    Occurrence(o.name, wallS, (endMs - o.startMs - covered) / 1e3, Map(
      "jobs" -> o.jobs.toDouble,
      "tasks" -> o.tasks.toDouble,
      "busy_share" -> o.runMs / (cores * wallS * 1e3),
      "task_cpu_s" -> o.cpuNs / 1e9,
      "gc_s" -> o.gcMs / 1e3,
      "shuffle_write_mb" -> o.shuffleWrite / mb,
      "spill_mb" -> o.spill / mb,
      "output_mb" -> o.output / mb,
      "exchanges" -> o.exchanges.toDouble),
      o.cpuByModule.map { case (k, v) => k -> v / 1e9 }.toMap)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
    e.stageInfos.foreach(s => stageModule(s.stageId) = Tracer.moduleOf(s.details))
    open.foreach(_.jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => open.foreach(_.jobIntervals += ((s, e.time))))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    open.foreach { o =>
      o.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        o.runMs += m.executorRunTime
        o.cpuNs += m.executorCpuTime
        o.gcMs += m.jvmGCTime
        o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        o.output += m.outputMetrics.bytesWritten
        val module = stageModule.getOrElse(e.stageId, "") match {
          case "" => o.homeModule
          case mod => mod
        }
        o.cpuByModule(module) += m.executorCpuTime
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { open.foreach(_.exchanges += Tracer.exchanges(qe.executedPlan)) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  /** Exchange plus ReusedExchange nodes of a final plan, subqueries
    * included. A cached relation's plan is not entered: its exchanges ran
    * in the action that filled the cache. */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec        => exchanges(s.plan)
    case _: InMemoryTableScanExec => 0L
    case r: ReusedExchangeExec    => 1L
    case other =>
      (if (other.isInstanceOf[Exchange]) 1L else 0L) +
        other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }

  /** The engine module a stage belongs to: the innermost `graft.` frame of
    * the stage's call site — `functions` for the `graft.functions` package,
    * else the top-level object (`TextQueries`, `BucketPairs`, ...). Empty
    * when the action was called by the benchmark itself. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).find(_.startsWith("graft.")) match {
      case Some(frame) if frame.startsWith("graft.functions.") => "functions"
      case Some(frame) => frame.stripPrefix("graft.").takeWhile(c => c != '$' && c != '.' && c != '(')
      case None => ""
    }
}
