package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished Spark job as seen on the listener bus: wall interval, the
  * graft method its call site names, and the task counters of its stages.
  */
final case class JobRec(startMs: Long, endMs: Long, callSite: String,
    stages: Int, tasks: Long, taskMs: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleWrite: Long, input: Long, spill: Long) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Totals of a set of jobs over a wall window. */
final case class Counters(jobs: Int, stages: Int, tasks: Long, runS: Double,
    cpuS: Double, gcS: Double, shuffleWrite: Long, input: Long, spill: Long,
    taskS: Double, busyS: Double, wallS: Double) {
  /** Wall time with no job running: planning, driver loops, listeners. */
  def driverSideS: Double = math.max(0.0, wallS - busyS)
  def tasksPerStage: Double = if (stages == 0) 0.0 else tasks.toDouble / stages
  def slotUtil(slots: Int): Double = if (wallS <= 0) 0.0 else taskS / (wallS * slots)
}

/** Plan-node counts of executed query plans. */
final case class PlanCounts(smj: Int, bhj: Int, bnlj: Int, exchanges: Int) {
  def +(o: PlanCounts): PlanCounts =
    PlanCounts(smj + o.smj, bhj + o.bhj, bnlj + o.bnlj, exchanges + o.exchanges)
}

/** Observes the engine from outside: a SparkListener for jobs/stages/tasks
  * and a QueryExecutionListener for executed plans. Nothing is added to the
  * program; the listeners are attached only for traced runs.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private case class StageAcc(var tasks: Long = 0, var taskMs: Long = 0,
      var runMs: Long = 0, var cpuNs: Long = 0, var gcMs: Long = 0,
      var shuffleWrite: Long = 0, var input: Long = 0, var spill: Long = 0)

  private val jobStages = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val stageAcc = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val plans = new ConcurrentLinkedQueue[(Long, PlanCounts)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the result stage carries the job's call site: short form as its name,
    // the stack of user frames as its details
    val site = e.stageInfos.sortBy(_.stageId).lastOption
      .map(s => s.name + "\n" + s.details).getOrElse("")
    jobStart.put(e.jobId, (e.time, site))
    jobStages.put(e.jobId, e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = stageAcc.computeIfAbsent(e.stageId, _ => StageAcc())
    val m = e.taskMetrics
    acc.synchronized {
      acc.tasks += 1
      acc.taskMs += e.taskInfo.duration
      if (m != null) {
        acc.runMs += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.input += m.inputMetrics.bytesRead
        acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (start, site) = Option(jobStart.remove(e.jobId)).getOrElse((e.time, ""))
    val stages = Option(jobStages.remove(e.jobId)).getOrElse(Seq.empty)
    // skipped stages never report tasks; count only stages that ran
    val ran = stages.flatMap(s => Option(stageAcc.remove(s)))
    jobs.add(JobRec(start, e.time, site, ran.size,
      ran.map(_.tasks).sum, ran.map(_.taskMs).sum, ran.map(_.runMs).sum,
      ran.map(_.cpuNs).sum, ran.map(_.gcMs).sum, ran.map(_.shuffleWrite).sum,
      ran.map(_.input).sum, ran.map(_.spill).sum))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add(System.currentTimeMillis() -> Probe.countPlan(qe.executedPlan))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Jobs whose start lies in [fromMs, toMs]. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[JobRec] =
    jobs.asScala.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toSeq.sortBy(_.startMs)

  def plansIn(fromMs: Long, toMs: Long): PlanCounts =
    plans.asScala.filter { case (t, _) => t >= fromMs && t <= toMs }
      .map(_._2).foldLeft(PlanCounts(0, 0, 0, 0))(_ + _)

  def counters(fromMs: Long, toMs: Long): Counters = {
    val js = jobsIn(fromMs, toMs)
    Counters(js.size, js.map(_.stages).sum, js.map(_.tasks).sum,
      js.map(_.runMs).sum / 1e3, js.map(_.cpuNs).sum / 1e9, js.map(_.gcMs).sum / 1e3,
      js.map(_.shuffleWrite).sum, js.map(_.input).sum, js.map(_.spill).sum,
      js.map(_.taskMs).sum / 1e3, Probe.unionSeconds(js.map(j => (j.startMs, j.endMs))),
      (toMs - fromMs) / 1e3)
  }
}

object Probe {
  /** Total length of the union of [start, end] millisecond intervals. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  /** Node counts over the final physical plan, looking through adaptive
    * wrappers, query stages and subqueries by class name so the count does
    * not depend on which AQE classes a Spark version exposes.
    */
  def countPlan(root: SparkPlan): PlanCounts = {
    var smj, bhj, bnlj, exch = 0
    def visit(p: SparkPlan): Unit = {
      p.getClass.getSimpleName match {
        case "SortMergeJoinExec" => smj += 1
        case "BroadcastHashJoinExec" => bhj += 1
        case "BroadcastNestedLoopJoinExec" => bnlj += 1
        case "ShuffleExchangeExec" | "BroadcastExchangeExec" => exch += 1
        case _ =>
      }
      val inner: Seq[SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _ => Seq.empty
      }
      (p.children ++ inner ++ p.subqueries).foreach(visit)
    }
    visit(root)
    PlanCounts(smj, bhj, bnlj, exch)
  }

  /** Peak heap over all heap pools since the last [[resetHeapPeak]]. */
  def heapPeakMb: Double = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  def resetHeapPeak(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
}
