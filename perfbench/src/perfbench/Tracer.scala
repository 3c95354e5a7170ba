package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, Exchange, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}

/** Scheduler totals for one tag (an op name or a direct layer call). */
final class Counts {
  var jobs, buildJobs, stages, tasks, failedTasks = 0L
  var taskWaitMs, busyMs, gcMs = 0L
  var cpuNs, shuffleRead, shuffleWrite, spill, result, scanBytes, scanRows = 0L

  def +=(o: Counts): Unit = synchronized {
    jobs += o.jobs; buildJobs += o.buildJobs; stages += o.stages
    tasks += o.tasks; failedTasks += o.failedTasks
    taskWaitMs += o.taskWaitMs; busyMs += o.busyMs; gcMs += o.gcMs
    cpuNs += o.cpuNs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; result += o.result; scanBytes += o.scanBytes; scanRows += o.scanRows
  }
}

/** SparkListener registered by the traced run only. Jobs, stages and
  * tasks are attributed to the op that submitted them through the
  * submitting thread's local properties (`Tracer.TagKey`,
  * `Tracer.PhaseKey`), which the scheduler captures at job submission —
  * so an event handled after the driver moved on still lands on the
  * right op. */
final class Tracer extends SparkListener {
  private val byTag = new ConcurrentHashMap[String, Counts]()
  // stageId -> (tag, submission time)
  private val stageTag = new ConcurrentHashMap[Int, (String, Long)]()

  private def counts(tag: String): Counts = byTag.computeIfAbsent(tag, _ => new Counts)

  private def tagOf(p: java.util.Properties): Option[(String, String)] =
    Option(p).flatMap(pp => Option(pp.getProperty(Tracer.TagKey))
      .map(t => (t, pp.getProperty(Tracer.PhaseKey, ""))))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    tagOf(e.properties).foreach { case (tag, phase) =>
      val c = counts(tag)
      c.synchronized {
        c.jobs += 1
        if (phase == "build") c.buildJobs += 1
      }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    tagOf(e.properties).foreach { case (tag, _) =>
      val si = e.stageInfo
      stageTag.put(si.stageId, (tag, si.submissionTime.getOrElse(System.currentTimeMillis())))
      val c = counts(tag)
      c.synchronized { c.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { case (tag, submitted) =>
      val c = counts(tag)
      val ti = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        c.taskWaitMs += math.max(0L, ti.launchTime - submitted)
        Option(e.taskMetrics).foreach { m =>
          c.busyMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.result += m.resultSize
          c.scanBytes += m.inputMetrics.bytesRead
          c.scanRows += m.inputMetrics.recordsRead
        }
      }
    }

  def snapshot(): Map[String, Counts] = byTag.asScala.toMap
}

object Tracer {
  val TagKey = "perfbench.tag"
  val PhaseKey = "perfbench.phase"
}

/** Shape of a final (post-AQE) physical plan. */
final case class PlanStats(exchanges: Int, broadcasts: Int, nonCodegenOps: Int,
    largestJoinRows: Long)

object PlanStats extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): PlanStats = {
    val exchanges = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }.size
    val broadcasts = collectWithSubqueries(plan) { case b: BroadcastExchangeLike => b }.size
    val joinRows = collectWithSubqueries(plan) {
      case j @ (_: BaseJoinExec | _: BroadcastNestedLoopJoinExec | _: CartesianProductExec) =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }
    PlanStats(exchanges, broadcasts, outsideCodegen(plan),
      if (joinRows.isEmpty) 0L else joinRows.max)
  }

  /** Operators that run outside whole-stage codegen. Wrappers that only
    * stitch stages together (AQE nodes, exchanges, stage inputs) are
    * not operators and are not counted. */
  private def outsideCodegen(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => outsideCodegen(a.executedPlan)
    case q: QueryStageExec => outsideCodegen(q.plan)
    case w: WholeStageCodegenExec => insideCodegen(w.child)
    case _: ReusedExchangeExec => 0
    case _: Exchange | _: InputAdapter => p.children.map(outsideCodegen).sum
    case _ if p.nodeName.startsWith("AQEShuffleRead") => p.children.map(outsideCodegen).sum
    case _ => 1 + p.children.map(outsideCodegen).sum
  }

  private def insideCodegen(p: SparkPlan): Int = p match {
    case i: InputAdapter => outsideCodegen(i.child)
    case _ => p.children.map(insideCodegen).sum
  }
}
