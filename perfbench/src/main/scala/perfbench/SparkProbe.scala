package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-layer counters of the traced run, keyed by request id (the job
  * group set before each call): jobs, stages, tasks, stage wall and
  * intervals, task CPU, shuffle and spill bytes, plus the planning phases of every query execution. Spark jobs are
  * also recorded as `spark.job` spans of their request. */
final class SparkProbe(spark: SparkSession) {
  import SparkProbe._

  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobsOf = new ConcurrentHashMap[String, java.lang.Integer]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val phases = new ConcurrentLinkedQueue[Phase]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobGroup.put(e.jobId, g)
      jobStart.put(e.jobId, e.time)
      jobsOf.merge(g, 1, (a, b) => a + b)
      e.stageIds.foreach(stageGroup.put(_, g))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobGroup.get(e.jobId)).foreach { g =>
        Trace.record("spark.job", g, Trace.msToNs(jobStart.get(e.jobId)), Trace.msToNs(e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val g = Option(stageGroup.get(si.stageId)).getOrElse("")
      stages.add(StageRec(g, si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        si.numTasks,
        if (m == null) 0L else m.executorCpuTime,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.values.foreach(p => phases.add(Phase(p.startTimeMs, p.endTimeMs)))
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      qe.tracker.phases.values.foreach(p => phases.add(Phase(p.startTimeMs, p.endTimeMs)))
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Aggregates of one request: the Spark work its job group ran, and
    * the planning time of executions that started inside its interval
    * (requests run one at a time, so the interval identifies them). */
  def agg(req: Trace.Request): Agg = {
    val ss = stages.asScala.filter(_.group == req.req).toSeq
    val plan = phases.asScala.filter(p => p.startMs >= req.startMs && p.startMs <= req.endMs)
      .map(p => (p.endMs - p.startMs) / 1e3).sum
    Agg(
      jobs = Option(jobsOf.get(req.req)).map(_.intValue).getOrElse(0),
      stages = ss.size,
      tasks = ss.map(_.tasks).sum,
      stageS = ss.map(s => (s.endMs - s.startMs) / 1e3).sum,
      stageUnionS = Trace.unionNs(ss.map(s => (s.startMs * 1000000L, s.endMs * 1000000L))) / 1e9,
      cpuS = ss.map(_.cpuNs).sum / 1e9,
      shuffleMb = ss.map(_.shuffleBytes).sum / 1e6,
      spillMb = ss.map(_.spillBytes).sum / 1e6,
      planS = plan)
  }
}

object SparkProbe {
  final case class StageRec(group: String, startMs: Long, endMs: Long, tasks: Int,
      cpuNs: Long, shuffleBytes: Long, spillBytes: Long)
  final case class Phase(startMs: Long, endMs: Long)
  final case class Agg(jobs: Int, stages: Int, tasks: Int, stageS: Double, stageUnionS: Double,
      cpuS: Double, shuffleMb: Double, spillMb: Double, planS: Double)
}
