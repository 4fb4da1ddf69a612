package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Task metric sums for one stage. */
final class TaskSums {
  var tasks, durationMs, runMs, cpuNs, gcMs = 0L
  var shuffleReadB, shuffleWriteB, spillB, inputB = 0L

  def add(o: TaskSums): Unit = {
    tasks += o.tasks; durationMs += o.durationMs; runMs += o.runMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB
    spillB += o.spillB; inputB += o.inputB
  }
}

final case class JobRec(id: Int, group: String, startMs: Long, stageIds: Seq[Int]) {
  var endMs: Long = -1L
}

final class StageRec(val id: Int) {
  var submitMs, completeMs = -1L
  val sums = new TaskSums
}

/** Final-plan shape and Catalyst phase times of one consuming action. */
final case class PlanRec(
    phases: Map[String, (Long, Long)],
    exchanges: Int, sorts: Int, smj: Int, bhj: Int, cacheScans: Int, aqeReads: Int)

/** Collects Spark jobs, stages and task metrics (keyed by the job group
  * the harness sets around each phase of a query) and the plan record of
  * every `noop` write, which only the harness issues. Events arrive on
  * Spark's listener thread; every access is synchronized. */
final class Recorder extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val stageJob = mutable.Map.empty[Int, Int]
  val plans = mutable.ArrayBuffer.empty[PlanRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = JobRec(e.jobId, group, e.time, e.stageIds)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val rec = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId))
    rec.submitMs = e.stageInfo.submissionTime.getOrElse(-1L)
    rec.completeMs = e.stageInfo.completionTime.getOrElse(-1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId)).sums
      s.tasks += 1
      s.durationMs += e.taskInfo.duration
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputB += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = if (isNoopWrite(qe)) {
    val nodes = collectWithSubqueries(qe.executedPlan) { case p: SparkPlan => p }
    def n(f: SparkPlan => Boolean) = nodes.count(f)
    val rec = PlanRec(
      qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) },
      n(_.isInstanceOf[ShuffleExchangeLike]), n(_.isInstanceOf[SortExec]),
      n(_.isInstanceOf[SortMergeJoinExec]), n(_.isInstanceOf[BroadcastHashJoinExec]),
      n(_.isInstanceOf[InMemoryTableScanExec]), n(_.isInstanceOf[AQEShuffleReadExec]))
    synchronized { plans += rec }
  }

  private def isNoopWrite(qe: QueryExecution): Boolean = qe.logical match {
    case w: V2WriteCommand => w.table.name == "noop-table"
    case _                 => false
  }

  /** Jobs and QueryExecution events share Spark's listener queue, so once
    * a marker job's end is seen every earlier event has been delivered. */
  def drain(spark: SparkSession, marker: String): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!synchronized(jobs.values.exists(j => j.group == marker && j.endMs >= 0))) {
      require(System.nanoTime() < deadline, "listener bus did not drain within 60 s")
      Thread.sleep(5)
    }
  }
}

/** One span of the trace tree; `parent` indexes the same list, -1 at a root. */
final case class Span(name: String, parent: Int, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

object Span {

  /** Self time of every span: its duration minus the union of its
    * children's intervals, clipped to the span. */
  def selfTimes(spans: IndexedSeq[Span]): IndexedSeq[Double] = {
    val kids = spans.indices.groupBy(i => spans(i).parent)
    spans.indices.map { i =>
      val s = spans(i)
      val iv = kids.getOrElse(i, Nil).map(k => (math.max(spans(k).startMs, s.startMs), math.min(spans(k).endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curB.isNaN || a > curB) {
          if (!curB.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curB.isNaN) covered += curB - curA
      s.durMs - covered
    }
  }
}
