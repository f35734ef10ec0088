package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder for the traced run.
  *
  * Spans nest workload → op → phase (`call` = inside the public entry
  * point, `exec` = forcing its result) → job → stage. The client thread
  * tags every phase with a Spark job group `t<op>:<phase>`; jobs and
  * their tasks are attributed to an op through that group, so the
  * asynchronous listener bus may deliver events late without
  * misattributing them. Everything is read only after the SparkContext
  * has stopped, which drains the bus.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  val jobs = new ConcurrentHashMap[Int, JobRec]
  val stageJob = new ConcurrentHashMap[Int, Int]
  val stages = new ConcurrentLinkedQueue[StageRec]
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  val execs = new ConcurrentLinkedQueue[ExecRec]
  @volatile var lastEventNs: Long = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, group, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val i = e.stageInfo
    stages.add(StageRec(i.stageId, stageJob.getOrDefault(i.stageId, -1),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(
      job = stageJob.getOrDefault(e.stageId, -1),
      stage = e.stageId,
      launchMs = e.taskInfo.launchTime,
      finishMs = e.taskInfo.finishTime,
      runMs = m.executorRunTime,
      cpuNs = m.executorCpuTime,
      gcMs = m.jvmGCTime,
      rowsRead = m.inputMetrics.recordsRead,
      shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = m.shuffleReadMetrics.totalBytesRead,
      fetchWaitMs = m.shuffleReadMetrics.fetchWaitTime,
      spill = m.diskBytesSpilled,
      rowsWritten = m.outputMetrics.recordsWritten))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = touch()

  /** A query execution carries no job group, so it is attributed to the
    * op whose window holds the end of its planning (`atMs`); the one
    * client thread runs ops strictly one after another. */
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    touch()
    val phases = qe.tracker.phases.values
    val planMs = phases.map(_.durationMs).sum
    val atMs = if (phases.isEmpty) 0L else phases.map(_.endTimeMs).max
    val plan = nodes(qe.executedPlan)
    // file writes report bytes and files through the command's metrics;
    // scans report the size of the files they read through their own
    val writes = plan.collect { case w: DataWritingCommandExec => w.cmd.metrics }
    def metric(ms: Seq[Map[String, SQLMetric]], name: String) =
      ms.flatMap(_.get(name)).map(_.value).sum
    val scans = plan.collect { case f: FileSourceScanExec => f.metrics }
    execs.add(ExecRec(qe.id, atMs, planMs, writes.nonEmpty,
      metric(writes, "numOutputBytes"), metric(writes, "numFiles"),
      metric(scans, "filesSize")))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = touch()

  /** Blocks until the bus has been quiet for `quietMs` (bounded), so a
    * toggle between traced and untraced blocks loses no events. */
  def settle(quietMs: Long = 100L, maxMs: Long = 3000L): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
           System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Per-op layer totals, keyed by op sequence number. */
  def layersByOp(ops: Seq[OpSample]): Map[Int, Layers] = {
    val jobOp = jobs.values.asScala.flatMap(j => opOf(j.group).map(j.id -> _))
      .toMap
    val out = scala.collection.mutable.Map[Int, Layers]()
    def at(op: Int) = out.getOrElseUpdate(op, new Layers)
    jobs.values.asScala.foreach { j =>
      opOf(j.group).foreach { op =>
        val l = at(op)
        if (j.group.endsWith(":call")) l.callJobs += 1
        l.jobs += 1
      }
    }
    execs.asScala.foreach { x =>
      opAt(ops, x.atMs).foreach { op =>
        val l = at(op)
        l.executions += 1
        l.planMs += x.planMs
        if (x.writes) l.writeJobs += 1
        l.writeBytes += x.writeBytes
        l.writeFiles += x.writeFiles
        l.scanBytes += x.scanBytes
      }
    }
    val shuffleStages = scala.collection.mutable.Set[(Int, Int)]()
    tasks.asScala.foreach { t =>
      jobOp.get(t.job).foreach { op =>
        val l = at(op)
        l.tasks += 1
        l.runMs += t.runMs
        l.cpuNs += t.cpuNs
        l.gcMs += t.gcMs
        l.rowsRead += t.rowsRead
        l.shuffleWrite += t.shuffleWrite
        l.shuffleRead += t.shuffleRead
        l.fetchWaitMs += t.fetchWaitMs
        l.spill += t.spill
        l.rowsWritten += t.rowsWritten
        if (t.shuffleWrite > 0) shuffleStages += ((op, t.stage))
        l.intervals += ((t.launchMs, t.finishMs))
      }
    }
    shuffleStages.foreach { case (op, _) => at(op).shuffles += 1 }
    out.toMap
  }

  /** All spans as JSON lines, children after parents. */
  def spans(workload: String, ops: Seq[OpSample]): Iterator[String] = {
    val opJobs = jobs.values.asScala.toSeq.flatMap(j => opOf(j.group).map(_ -> j))
      .groupBy(_._1)
    val jobStages = stages.asScala.toSeq.groupBy(_.job)
    val opExecs = execs.asScala.toSeq.flatMap(x => opAt(ops, x.atMs).map(_ -> x))
      .groupBy(_._1)
    val head = Iterator(s"""{"span":"workload","name":"$workload"}""")
    head ++ ops.iterator.filter(_.traced).flatMap { o =>
      val opLine = s"""{"span":"op","parent":"$workload","op":${o.seq},""" +
        s""""type":"${o.kind}","start_ms":${o.startMs},"end_ms":${o.endMs},""" +
        s""""call_s":${o.callS},"wall_s":${o.wallS}}"""
      val plans = opExecs.getOrElse(o.seq, Nil).map { case (_, x) =>
        s"""{"span":"planning","parent":${o.seq},"execution":${x.id},""" +
          s""""plan_ms":${x.planMs}}"""
      }
      val js = opJobs.getOrElse(o.seq, Nil).map(_._2).sortBy(_.id).flatMap { j =>
        val phase = j.group.drop(j.group.indexOf(':') + 1)
        val jobLine =
          s"""{"span":"job","parent":${o.seq},"phase":"$phase","job":${j.id},""" +
            s""""start_ms":${j.startMs},"end_ms":${j.endMs}}"""
        jobLine +: jobStages.getOrElse(j.id, Nil).map { s =>
            s"""{"span":"stage","parent":${j.id},"stage":${s.id},""" +
              s""""start_ms":${s.startMs},"end_ms":${s.endMs},"tasks":${s.tasks}}"""
          }
      }
      Iterator(opLine) ++ plans ++ js
    }
  }
}

object Trace {
  final case class JobRec(id: Int, group: String, startMs: Long) {
    @volatile var endMs: Long = 0L
  }
  final case class StageRec(id: Int, job: Int, startMs: Long, endMs: Long,
                            tasks: Int)
  final case class TaskRec(job: Int, stage: Int, launchMs: Long,
      finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long, rowsRead: Long,
      shuffleWrite: Long, shuffleRead: Long,
      fetchWaitMs: Long, spill: Long, rowsWritten: Long)
  final case class ExecRec(id: Long, atMs: Long, planMs: Long, writes: Boolean,
                           writeBytes: Long, writeFiles: Long, scanBytes: Long)

  /** Every node of an executed plan, looking through adaptive plans,
    * query stages and command results; reused exchanges count once. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case _: ReusedExchangeExec => Nil
    case other => other.children.flatMap(nodes)
  })

  /** Mutable per-op totals. */
  final class Layers {
    var jobs, callJobs, executions, writeJobs, tasks, shuffles = 0L
    var planMs, runMs, cpuNs, gcMs, rowsRead = 0L
    var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
    var writeBytes, writeFiles, rowsWritten, scanBytes = 0L
    val intervals = scala.collection.mutable.ArrayBuffer[(Long, Long)]()

    /** Milliseconds of [from, to) covered by at least one task. */
    def busyMs(from: Long, to: Long): Long = {
      var covered = 0L
      var end = from
      intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
        .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
          if (b > end) { covered += b - math.max(a, end); end = b }
        }
      covered
    }
  }

  /** The traced op whose window holds `ms`. */
  def opAt(ops: Seq[OpSample], ms: Long): Option[Int] =
    ops.find(o => o.traced && o.startMs <= ms && ms <= o.endMs).map(_.seq)

  /** The op sequence number of a traced job group `t<op>:<phase>`. */
  def opOf(group: String): Option[Int] =
    if (group.startsWith("t") && group.contains(':'))
      group.substring(1, group.indexOf(':')).toIntOption
    else None
}
