package graftbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans of one query execution share `trace`; times
  * are epoch milliseconds.
  */
final case class Span(
    trace: String,
    id: String,
    parent: String,
    name: String,
    kind: String,
    startMs: Double,
    endMs: Double,
    attrs: Seq[(String, Any)] = Nil)

/** Collects the scheduler, task and planning events of traced query
  * executions, keyed by the query id the harness sets as a local property
  * before it calls into the program. Registered only in traced passes;
  * everything stays in memory until the run ends.
  */
final class Tracer(cores: Int) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private final class Job(val id: Int, val query: String, val startMs: Long, val stageIds: Seq[Int],
      val callSite: String, val details: String, val persists: Boolean) {
    var endMs: Long = -1L
    def checkpoint: Boolean =
      persists || CheckpointSites.exists(s => callSite.startsWith(s"$s at ")) ||
        CheckpointFrames.exists(details.contains)
  }
  private final class Acc {
    var tasks, failures = 0L
    var runMs, gcMs, deserMs, delayMs, fetchWaitMs = 0L
    var cpuNs = 0L
    var shWrite, shRead, shRecords, spillMem, spillDisk, inBytes, inRecords, outBytes = 0L
    var peakTask = 0L
  }
  private final case class Planning(funcName: String, phases: Seq[(String, Long, Long)], failed: Boolean)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageQuery = mutable.HashMap.empty[Int, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val submitted = mutable.HashSet.empty[Int]
  private val accs = mutable.HashMap.empty[String, Acc]
  private val stageSpans = mutable.ArrayBuffer.empty[Span]
  private val plannings = mutable.ArrayBuffer.empty[Planning]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty[Span]

  private def queryOf(p: Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(QueryProperty))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    // the job's own RDD is the newest of its result stage; a persisted one
    // is loop state being materialized for the next round
    val persists = last.exists(s => s.rddInfos.nonEmpty && s.rddInfos.maxBy(_.id).storageLevel.isValid)
    jobs(e.jobId) = new Job(e.jobId, queryOf(e.properties), e.time, e.stageIds,
      last.map(_.name).getOrElse(""), last.map(_.details).getOrElse(""), persists)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    submitted += e.stageInfo.stageId
    stageQuery(e.stageInfo.stageId) = queryOf(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = e.stageInfo
    val q = stageQuery.getOrElse(s.stageId, "")
    if (q.nonEmpty)
      stageSpans += Span(q, s"$q/stage-${s.stageId}.${s.attemptNumber()}",
        stageJob.get(s.stageId).map(j => s"$q/job-$j").getOrElse(q), s.name, "stage",
        s.submissionTime.getOrElse(0L).toDouble, s.completionTime.getOrElse(0L).toDouble,
        Seq("tasks" -> s.numTasks, "failed" -> s.failureReason.isDefined))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val q = stageQuery.getOrElse(e.stageId, "")
    if (q.nonEmpty) {
      val a = accs.getOrElseUpdate(q, new Acc)
      a.tasks += 1
      if (e.reason != Success) a.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.deserMs += m.executorDeserializeTime
        a.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime)
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.shRecords += m.shuffleWriteMetrics.recordsWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spillMem += m.memoryBytesSpilled
        a.spillDisk += m.diskBytesSpilled
        a.peakTask = math.max(a.peakTask, m.peakExecutionMemory)
        a.inBytes += m.inputMetrics.bytesRead
        a.inRecords += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private def planning(funcName: String, qe: QueryExecution, failed: Boolean): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (k, v) => (k, v.startTimeMs, v.endTimeMs) }
    synchronized { plannings += Planning(funcName, phases, failed) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planning(funcName, qe, failed = false)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planning(funcName, qe, failed = true)

  /** Folds every event of query execution `q` (which ran from `startMs` to
    * `endMs` and whose program calls are the `calls` spans) into its layer
    * metrics and spans, then forgets the events.
    */
  def finish(q: String, name: String, startMs: Double, endMs: Double, calls: Seq[Span]): Map[String, Double] =
    synchronized {
      val mine = jobs.values.filter(_.query == q).toSeq
      val ivs = mine.map(j => (j.startMs.toDouble, (if (j.endMs < 0) endMs else j.endMs.toDouble)))
      val activeMs = unionLength(ivs)
      val gapMs = math.max(0.0, (endMs - startMs) - unionLength(ivs.map { case (a, b) =>
        (math.max(a, startMs), math.min(b, endMs)) }))
      val stages = mine.flatMap(_.stageIds).distinct
      val ckpt = mine.filter(_.checkpoint)
      val a = accs.getOrElse(q, new Acc)
      // planning records carry no local properties; queries run one at a
      // time, so a record belongs to the query whose interval holds it
      val mineP = plannings.filter(p => p.phases.exists { case (_, s, _) => s >= startMs && s <= endMs })
      def phase(k: String) = mineP.iterator.flatMap(_.phases).collect { case (`k`, s, e) => (e - s) / 1e3 }.sum
      spans += Span(q, q, "", name, "query", startMs, endMs)
      spans ++= calls
      mine.foreach { j =>
        spans += Span(q, s"$q/job-${j.id}", q, j.callSite, "job", j.startMs.toDouble,
          (if (j.endMs < 0) endMs else j.endMs.toDouble),
          Seq("stages" -> j.stageIds.size, "checkpoint" -> j.checkpoint))
      }
      spans ++= stageSpans.filter(_.trace == q)
      mineP.zipWithIndex.foreach { case (p, i) =>
        p.phases.foreach { case (k, s, e) =>
          spans += Span(q, s"$q/plan-$i-$k", q, k, "planning", s.toDouble, e.toDouble,
            Seq("action" -> p.funcName, "failed" -> p.failed))
        }
      }
      val out = Map(
        "driver.gap_s" -> gapMs / 1e3,
        "catalyst.executions" -> mineP.size.toDouble,
        "catalyst.analysis_s" -> phase("analysis"),
        "catalyst.optimization_s" -> phase("optimization"),
        "catalyst.planning_s" -> phase("planning"),
        "scheduler.jobs" -> mine.size.toDouble,
        "scheduler.stages" -> stages.size.toDouble,
        "scheduler.stages_skipped" -> stages.count(s => !submitted(s)).toDouble,
        "scheduler.tasks" -> a.tasks.toDouble,
        "scheduler.task_failures" -> a.failures.toDouble,
        "scheduler.delay_s" -> a.delayMs / 1e3,
        "checkpoint.jobs" -> ckpt.size.toDouble,
        "checkpoint.s" -> ckpt.map(j => (if (j.endMs < 0) endMs else j.endMs.toDouble) - j.startMs).sum / 1e3,
        "executor.run_s" -> a.runMs / 1e3,
        "executor.cpu_s" -> a.cpuNs / 1e9,
        "executor.gc_s" -> a.gcMs / 1e3,
        "executor.deser_s" -> a.deserMs / 1e3,
        "executor.active_core_s" -> cores * activeMs / 1e3,
        "shuffle.write_mb" -> a.shWrite / MB,
        "shuffle.read_mb" -> a.shRead / MB,
        "shuffle.records_written" -> a.shRecords.toDouble,
        "shuffle.fetch_wait_s" -> a.fetchWaitMs / 1e3,
        "memory.spill_mem_mb" -> a.spillMem / MB,
        "memory.spill_disk_mb" -> a.spillDisk / MB,
        "memory.peak_task_mb" -> a.peakTask / MB,
        "sources.input_mb" -> a.inBytes / MB,
        "sources.input_records" -> a.inRecords.toDouble,
        "sources.output_mb" -> a.outBytes / MB)
      mine.foreach(j => jobs.remove(j.id))
      stageSpans.filterInPlace(_.trace != q)
      plannings --= mineP
      accs.remove(q)
      out
    }
}

object Tracer {
  val QueryProperty = "graftbench.query"
  val MB: Double = 1024.0 * 1024.0

  /** Call sites (short form) of the jobs that materialize a checkpoint. */
  val CheckpointSites: Seq[String] = Seq("localCheckpoint", "checkpoint")

  /** Stack frames (long call site) of the program's checkpoint layer. */
  val CheckpointFrames: Seq[String] =
    Seq("graft.operators.Phys$.materialized", "graftbridge.CheckpointBridge", ".localCheckpoint(")

  /** Total length covered by a set of intervals. */
  def unionLength(ivs: Seq[(Double, Double)]): Double = {
    var total, curS, curE = 0.0
    var open = false
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}
