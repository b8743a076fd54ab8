// Lives under org.apache.spark.sql so it can read the QueryExecution an
// SQL execution-end event carries and drain the listener bus before the
// span dump; both are package-private in Spark.
package org.apache.spark.sql.graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import graftbench.Tracer

/** Records one `job` span per Spark job (with its stages' task metrics
  * and result-stage call site), one `exec` record per SQL execution
  * (call site, planning-phase time, final-plan operator counts). */
final class BenchListener(tracer: Tracer) extends SparkListener {
  private final class Job(val id: Int, val start: Long, val site: String, val execId: String,
                          val stackSite: String) {
    var stages = 0; var tasks = 0; var taskMs = 0L; var gcMs = 0L
    var shufWrite = 0L; var shufRead = 0L; var spill = 0L; var input = 0L
    var outBytes = 0L; var outRows = 0L
    val skew = mutable.ArrayBuffer.empty[(Long, Double)] // (stage task ms, max/median)
  }
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
    val query = Option(e.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
    jobs(e.jobId) = new Job(e.jobId, e.time, site, exec, query.map(BenchListener.streamSite).getOrElse(""))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null)
      taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val times = taskTimes.remove(si.stageId).getOrElse(mutable.ArrayBuffer.empty).sorted
    stageJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
      j.stages += 1
      j.tasks += si.numTasks
      val m = si.taskMetrics
      if (m != null) {
        j.taskMs += m.executorRunTime; j.gcMs += m.jvmGCTime
        j.shufWrite += m.shuffleWriteMetrics.bytesWritten
        j.shufRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        j.spill += m.diskBytesSpilled + m.memoryBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.outBytes += m.outputMetrics.bytesWritten; j.outRows += m.outputMetrics.recordsWritten
      }
      if (times.size >= 2) {
        val med = math.max(1L, times(times.size / 2))
        j.skew += ((times.sum, times.last.toDouble / med))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { j =>
      val ok = e.jobResult == JobSucceeded
      tracer.record("job", "id" -> j.id, "start" -> j.start, "end" -> e.time, "ok" -> ok,
        "site" -> j.site, "stack_site" -> j.stackSite, "exec" -> j.execId, "stages" -> j.stages, "tasks" -> j.tasks,
        "task_ms" -> j.taskMs, "gc_ms" -> j.gcMs, "shuffle_write" -> j.shufWrite,
        "shuffle_read" -> j.shufRead, "spill" -> j.spill, "input" -> j.input,
        "out_bytes" -> j.outBytes, "out_rows" -> j.outRows,
        "skew" -> j.skew.map { case (ms, r) => Seq(ms, r) })
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      tracer.record("exec_start", "exec" -> s.executionId.toString, "t" -> s.time,
        "desc" -> s.description, "details" -> s.details.take(4000))
    case x: SparkListenerSQLExecutionEnd if x.qe != null =>
      val qe = x.qe
      val planningMs = qe.tracker.phases.values.map(_.durationMs).sum
      val (exch, smj, bhj) = BenchListener.counts(qe.executedPlan)
      tracer.record("exec_end", "exec" -> x.executionId.toString, "t" -> x.time,
        "planning_ms" -> planningMs, "exchanges" -> exch, "smj" -> smj, "bhj" -> bhj)
    case _ =>
  }
}

object BenchListener {
  /** (shuffle exchanges, sort-merge joins, broadcast joins) in the final
    * adaptive plan, looking through query stages. */
  def counts(plan: SparkPlan): (Int, Int, Int) = {
    var exch = 0; var smj = 0; var bhj = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike => exch += 1
        case _: SortMergeJoinExec => smj += 1
        case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec => bhj += 1
        case _ =>
      }
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case other => other.children.foreach(walk)
      }
    }
    walk(plan)
    (exch, smj, bhj)
  }

  /** Spark names every job of a streaming micro-batch after the
    * query's `start()` call site. The batch's own call site is read off
    * the stream thread's stack instead — "<Spark method> at <File>:<line>"
    * for the innermost repo frame — while the job is still running. */
  def streamSite(queryId: String): String =
    Thread.getAllStackTraces.asScala.collectFirst {
      case (t, st) if t.getName.contains(queryId) => st
    }.flatMap { st =>
      val i = st.indexWhere(f => f.getClassName.startsWith("graft.") && f.getFileName != null)
      if (i <= 0) None
      else Some(s"${st(i - 1).getMethodName} at ${st(i).getFileName}:${st(i).getLineNumber}")
    }.getOrElse("")

  /** Wait until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
