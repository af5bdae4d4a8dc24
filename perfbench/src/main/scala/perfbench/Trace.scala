package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed public call. Wall-clock milliseconds place the op among
  * Spark's own event timestamps; nanoseconds give its latency. */
final case class OpRec(id: Int, kind: String, startMs: Long, endMs: Long,
                       latencyMs: Double, ok: Boolean)

/** A Spark job as the listener saw it; `op` is the benchmark op id
  * read from the job's local properties (None: launched by a thread
  * that carried no op, e.g. a streaming query's own thread). */
final case class JobRec(id: Int, op: Option[Int], startMs: Long, endMs: Long,
                        stageIds: Seq[Int])

/** A completed stage attempt with its aggregated task metrics. */
final case class StageRec(stageId: Int, numTasks: Int, runMs: Long,
                          shuffleWriteBytes: Long, inputBytes: Long,
                          outputBytes: Long)

/** One query execution's Catalyst phases (name -> [start, end) ms),
  * with whether it ran on the benchmark's own session. */
final case class PlanRec(mainSession: Boolean, phases: Map[String, (Long, Long)])

object Trace {
  /** Local property naming the op a job belongs to. */
  val OpKey = "perfbench.op"
}

/** Collects jobs and stages from the public listener bus. */
final class JobListener extends SparkListener {
  private val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Option[Int], Long, Seq[Int])]()
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.OpKey)))
      .map(_.toInt)
    starts.put(e.jobId, (op, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach { case (op, t0, st) =>
      jobs.add(JobRec(e.jobId, op, t0, e.time, st))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    stages.add(StageRec(i.stageId, i.numTasks,
      m.map(_.executorRunTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.inputMetrics.bytesRead).getOrElse(0L),
      m.map(_.outputMetrics.bytesWritten).getOrElse(0L)))
  }
}

/** Collects each query execution's planning phases from
  * `QueryExecution.tracker`. */
final class PlanListener(main: SparkSession) extends QueryExecutionListener {
  val plans = new ConcurrentLinkedQueue[PlanRec]()

  private def record(qe: QueryExecution): Unit =
    plans.add(PlanRec(qe.sparkSession eq main,
      qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)
}

/** Per-op layer split. Every field is a total over the op. */
final case class OpLayers(jobs: Int, stages: Int, singleTaskStages: Int,
                          tasks: Long, busyMs: Long, taskRunMs: Long,
                          shuffleWriteBytes: Long, inputBytes: Long,
                          outputBytes: Long, executions: Int,
                          analysisMs: Long, optimizationMs: Long,
                          planningMs: Long, residualMs: Double)

object Attribution {

  /** Splits each op's wall time into Spark jobs, Catalyst phases and
    * the driver residual. Jobs are matched to ops by their local
    * property; query executions (whose listener callbacks carry no
    * properties) by the op interval their analysis starts in, which is
    * exact for a single client thread issuing ops one at a time. */
  def perOp(ops: Seq[OpRec], jobs: Seq[JobRec], stages: Seq[StageRec],
            plans: Seq[PlanRec]): Map[Int, OpLayers] = {
    val jobsByOp = jobs.filter(_.op.isDefined).groupBy(_.op.get)
    val stageOwner = scala.collection.mutable.HashMap.empty[Int, Int]
    jobs.sortBy(_.id).foreach { j =>
      j.op.foreach(o => j.stageIds.foreach(s => stageOwner.getOrElseUpdate(s, o)))
    }
    val stagesByOp = stages.flatMap(s => stageOwner.get(s.stageId).map(_ -> s))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val sortedOps = ops.sortBy(_.startMs).toIndexedSeq
    def opAt(t: Long): Option[OpRec] = {
      // last op starting at or before t whose end is at or after t
      var lo = 0; var hi = sortedOps.size - 1; var best = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (sortedOps(mid).startMs <= t) { best = mid; lo = mid + 1 } else hi = mid - 1
      }
      if (best >= 0 && sortedOps(best).endMs >= t) Some(sortedOps(best)) else None
    }
    val plansByOp = plans.filter(_.mainSession).flatMap { p =>
      val t = p.phases.get("analysis").orElse(p.phases.values.headOption).map(_._1)
      t.flatMap(opAt).map(_.id -> p)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

    ops.map { op =>
      val js = jobsByOp.getOrElse(op.id, Nil)
      val ss = stagesByOp.getOrElse(op.id, Nil)
      val ps = plansByOp.getOrElse(op.id, Nil)
      val jobIv = js.map(j => (j.startMs, j.endMs))
      val phaseIv = ps.flatMap(_.phases.values)
      def phaseMs(name: String): Long =
        ps.flatMap(_.phases.get(name)).map { case (a, b) => b - a }.sum
      val covered = Stats.unionLength(jobIv ++ phaseIv, op.startMs, op.endMs)
      op.id -> OpLayers(
        jobs = js.size,
        stages = ss.size,
        singleTaskStages = ss.count(_.numTasks == 1),
        tasks = ss.map(_.numTasks.toLong).sum,
        busyMs = Stats.unionLength(jobIv, op.startMs, op.endMs),
        taskRunMs = ss.map(_.runMs).sum,
        shuffleWriteBytes = ss.map(_.shuffleWriteBytes).sum,
        inputBytes = ss.map(_.inputBytes).sum,
        outputBytes = ss.map(_.outputBytes).sum,
        executions = ps.size,
        analysisMs = phaseMs("analysis"),
        optimizationMs = phaseMs("optimization"),
        planningMs = phaseMs("planning"),
        residualMs = math.max(0.0, op.latencyMs - covered))
    }.toMap
  }

  /** Jobs that started inside `[lo, hi]` without an op property. */
  def unattributed(jobs: Seq[JobRec], lo: Long, hi: Long): Int =
    jobs.count(j => j.op.isEmpty && j.startMs >= lo && j.startMs <= hi)
}

/** One micro-batch, as its progress report gives it. */
final case class BatchRec(batchId: Long, endMs: Long, endOffset: Option[Long],
                          startOffset: Option[Long],
                          numInputRows: Long, durations: Map[String, Long],
                          stateRows: Long, stateMemBytes: Long)

object StreamLatency {

  /** For each append (version, due ms) the end time of the first
    * micro-batch whose source end offset covers the version, minus the
    * due time; None when no batch covers it. Batches are taken in
    * batch-id order; no-data batches repeat the previous end offset and
    * so never cover a version a data batch did not cover first. */
  def latencies(appends: Seq[(Long, Long)], batches: Seq[BatchRec]): Seq[Option[Long]] = {
    val ordered = batches.sortBy(_.batchId)
    // running maximum of covered version, with the end time that first reached it
    val frontier = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    ordered.foreach { b =>
      b.endOffset.foreach { v =>
        if (frontier.isEmpty || v > frontier.last._1) frontier += ((v, b.endMs))
      }
    }
    appends.map { case (version, due) =>
      var lo = 0; var hi = frontier.size - 1; var best = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (frontier(mid)._1 >= version) { best = mid; hi = mid - 1 } else lo = mid + 1
      }
      if (best < 0) None else Some(frontier(best)._2 - due)
    }
  }
}
