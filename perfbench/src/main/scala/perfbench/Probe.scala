package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bridge
import scala.collection.mutable

/** Task-metric sums of one Spark job. */
final class TaskSums {
  var cpuNs, gcMs, inBytes, shuffleWriteBytes, spillBytes, outBytes = 0L
  def +=(m: org.apache.spark.executor.TaskMetrics): Unit = {
    cpuNs += m.executorCpuTime; gcMs += m.jvmGCTime
    inBytes += m.inputMetrics.bytesRead
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.diskBytesSpilled
    outBytes += m.outputMetrics.bytesWritten
  }
}

/** A finished Spark job: its group (the op tag), call site and interval. */
final case class JobEvent(id: Int, group: String, callSite: String, startMs: Double,
                          endMs: Double, sums: TaskSums, stages: Seq[StageEvent])

/** A finished stage and the kinds of file scans its RDDs perform. */
final case class StageEvent(id: Int, startMs: Double, endMs: Double, scans: Set[String])

/** A finished SQL execution with its planning phases (from the query's
  * planning tracker). `filesRead` sums the file-scan nodes' "number of
  * files read" metric. */
final case class QeEvent(id: Long, execStartMs: Double, endMs: Double,
                         phases: Map[String, (Double, Double)], filesRead: Long) {
  def startMs: Double = (phases.values.map(_._1) ++ Seq(execStartMs)).min
}

/** Listens to Spark from outside the program: job and task events from
  * the scheduler, SQL executions with the phase timings of each query's
  * planning tracker. Installed only in the traced run. Events are taken
  * per op after the listener bus drains. */
final class Probe extends SparkListener with AdaptiveSparkPlanHelper {

  private case class OpenJob(group: String, callSite: String, startMs: Double,
                             stageIds: Seq[Int], sums: TaskSums)
  private val open = mutable.Map.empty[Int, OpenJob]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageDone = mutable.Map.empty[Int, StageEvent]
  private val jobs = mutable.ArrayBuffer.empty[JobEvent]
  private val qes = mutable.ArrayBuffer.empty[QeEvent]
  private val execStart = mutable.Map.empty[Long, Double]
  private val execSite = mutable.Map.empty[Long, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse("")
    // jobs submitted from Spark's own threads (query stages, broadcasts)
    // carry a call site inside the JDK; charge them to the action that
    // started their SQL execution instead
    val own = prop("callSite.short").filterNot(_.contains(".java:"))
    val site = own.orElse(prop("spark.sql.execution.id").flatMap(id => execSite.get(id.toLong)))
      .orElse(prop("callSite.short")).getOrElse("")
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    open(e.jobId) = OpenJob(group, site, e.time.toDouble, e.stageIds, new TaskSums)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val scans = si.rddInfos.flatMap(r => r.scope.map(_.name).toSeq :+ r.name)
      .map(_.toLowerCase).collect {
        case n if n.contains("scan json") => "json"
        case n if n.contains("scan parquet") => "parquet"
        case n if n.contains("scan text") => "text"
      }.toSet
    for (s <- si.submissionTime; c <- si.completionTime)
      stageDone(si.stageId) = StageEvent(si.stageId, s.toDouble, c.toDouble, scans)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); oj <- open.get(j); m <- Option(e.taskMetrics))
      oj.sums += m
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { oj =>
      jobs += JobEvent(e.jobId, oj.group, oj.callSite, oj.startMs, e.time.toDouble,
        oj.sums, oj.stageIds.flatMap(stageDone.remove))
      oj.stageIds.foreach(stageJob.remove)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execStart(s.executionId) = s.time.toDouble
      execSite(s.executionId) = s.description
    }
    case x: SparkListenerSQLExecutionEnd =>
      val qe = Bridge.queryExecution(x)
      val phases = qe.map(_.tracker.phases.map { case (k, p) =>
        k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble) }).getOrElse(Map.empty)
      val scans = qe.toSeq.flatMap(q =>
        try collectWithSubqueries(q.executedPlan) {
          case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
        } catch { case _: Exception => Nil })
      synchronized {
        val end = x.time.toDouble
        val start = execStart.remove(x.executionId).getOrElse(end)
        execSite.remove(x.executionId)
        qes += QeEvent(x.executionId, start, end, phases, scans.sum)
      }
    case _ =>
  }

  /** Remove and return the jobs tagged `group` and the query executions
    * that ended inside [fromMs, toMs]. */
  def take(group: String, fromMs: Double, toMs: Double): (Seq[JobEvent], Seq[QeEvent]) =
    synchronized {
      // ops are taken one at a time, right after each ends: anything not
      // matched now belongs to untimed work between ops and is dropped
      val js = jobs.filter(_.group == group).toSeq
      val qs = qes.filter(q => q.endMs >= fromMs - 1 && q.endMs <= toMs + 1).toSeq
      jobs.clear(); qes.clear()
      (js, qs)
    }
}
