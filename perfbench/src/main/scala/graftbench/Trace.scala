package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners: jobs, stages and task metrics from the
  * scheduler, planning phases and scan-node metrics from each query
  * execution. Everything is kept in memory; [[perOp]] and [[addSpans]]
  * read it after the workload ends.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  val jobs = mutable.LinkedHashMap[Int, Job]()
  val stages = mutable.LinkedHashMap[Int, Stage]()
  val tasks = mutable.ArrayBuffer[Task]()
  val execs = mutable.ArrayBuffer[Exec]()

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, group, e.time, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = jobs.synchronized {
      val i = e.stageInfo
      stages(i.stageId) = Stage(i.stageId, i.name,
        i.submissionTime.getOrElse(System.currentTimeMillis()), 0L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
      val i = e.stageInfo
      stages.get(i.stageId).foreach(_.endMs = i.completionTime.getOrElse(System.currentTimeMillis()))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val t = Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled)
        tasks.synchronized { tasks += t }
      }
    }
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private val executions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      val scans: Seq[SparkPlan] =
        try Plans.collectWithSubqueries(qe.executedPlan) {
          case p if p.metrics.contains("numFiles") => p
        } catch { case _: Exception => Nil }
      def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
      val x = Exec(start, ms("analysis"), ms("optimization"), ms("planning"),
        scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum)
      execs.synchronized { execs += x }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(scheduler)
  spark.listenerManager.register(executions)

  private def within(t: Long, o: OpRec) = t >= o.startMs && t <= o.endMs

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curLo = Long.MinValue
    var curHi = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curHi) {
          if (curHi > curLo) total += curHi - curLo
          curLo = a; curHi = b
        } else curHi = math.max(curHi, b)
      }
    if (curHi > curLo) total += curHi - curLo
    total
  }

  /** Per-op layer counters for the timed ops, keyed by metric name. */
  def perOp(ops: Seq[OpRec]): Seq[(OpRec, Map[String, Double])] = {
    val byGroup = jobs.values.groupBy(_.group)
    val tasksByStage = tasks.groupBy(_.stage)
    ops.map { o =>
      val js = byGroup.getOrElse(s"op${o.id}", Nil).toSeq
      val ss = js.flatMap(_.stages).distinct.flatMap(stages.get)
      val ts = ss.flatMap(s => tasksByStage.getOrElse(s.id, Nil))
      val es = execs.filter(e => within(e.startMs, o))
      val busy = covered(ts.map(t => (t.launchMs, t.endMs)), o.startMs, o.endMs)
      o -> Map(
        "ops.build_ms" -> (o.buildEndMs - o.startMs).toDouble,
        "ops.build_jobs" -> js.count(_.startMs <= o.buildEndMs).toDouble,
        "sql.analysis_ms" -> es.map(_.analysisMs).sum.toDouble,
        "sql.optimizer_ms" -> es.map(_.optimizerMs).sum.toDouble,
        "sql.planning_ms" -> es.map(_.planningMs).sum.toDouble,
        "sql.executions" -> es.size.toDouble,
        "sched.jobs" -> js.size.toDouble,
        "sched.stages" -> ss.size.toDouble,
        "sched.tasks" -> ts.size.toDouble,
        "sched.no_task_ms" -> (o.wallMs - busy),
        "scan.files_read" -> es.map(_.files).sum.toDouble,
        "scan.bytes_read" -> es.map(_.bytes).sum.toDouble,
        "shuffle.write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "shuffle.read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        "shuffle.spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "compute.task_run_ms" -> ts.map(_.runMs).sum.toDouble,
        "compute.task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
        "compute.gc_ms" -> ts.map(_.gcMs).sum.toDouble)
    }
  }

  /** Task run time (ms) of jobs whose group is a streaming query run. */
  def streamTaskMs(runIds: Set[String]): Double = {
    val stageIds = jobs.values.filter(j => runIds(j.group)).flatMap(_.stages).toSet
    tasks.filter(t => stageIds(t.stage)).map(_.runMs).sum.toDouble
  }

  /** Job and stage spans under each op's build or action span, and under
    * stream-batch spans for jobs a streaming query ran.
    */
  def addSpans(rec: Recorder, opSpans: Map[Int, (Span, Span)],
               batchSpans: Seq[(String, Span)]): Unit = {
    jobs.values.foreach { j =>
      val parent: Option[Span] =
        if (j.group.startsWith("op")) {
          j.group.drop(2).toIntOption.flatMap(opSpans.get).map { case (b, a) =>
            if (j.startMs <= b.endMs) b else a
          }
        } else batchSpans.collectFirst {
          case (run, s) if run == j.group && j.startMs >= s.startMs - 1 &&
              j.startMs <= s.endMs => s
        }
      parent.foreach { p =>
        val js = rec.span("job", s"job ${j.id}", j.startMs, j.endMs, Some(p))
        j.stages.flatMap(stages.get).foreach { s =>
          rec.span("stage", s.name, s.submitMs, math.max(s.endMs, s.submitMs), Some(js))
        }
      }
    }
  }

  def covered(children: Seq[Span], s: Span): Long =
    covered(children.map(c => (c.startMs, c.endMs)), s.startMs, s.endMs)
}

object Trace {
  final case class Job(id: Int, group: String, startMs: Long, var endMs: Long,
                       stages: Seq[Int])
  final case class Stage(id: Int, name: String, submitMs: Long, var endMs: Long)
  final case class Task(stage: Int, launchMs: Long, endMs: Long, runMs: Long,
                        cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                        shuffleRead: Long, spill: Long)
  final case class Exec(startMs: Long, analysisMs: Long, optimizerMs: Long,
                        planningMs: Long, files: Long, bytes: Long)
}
