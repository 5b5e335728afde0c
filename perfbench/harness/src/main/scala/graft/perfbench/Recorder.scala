package graft.perfbench

import java.time.Instant

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation counters the traced run records, all from Spark's public
  * listener APIs. Jobs are attributed to an operation through the local
  * properties the harness sets before each call ([[Recorder.SeqKey]],
  * [[Recorder.PhaseKey]]); a stream replay's jobs inherit them from the
  * thread that started the query. SQL executions, planning phases and
  * stream queries carry no properties, so they are attributed by the wall
  * clock interval of the operation that was running when they started.
  */
final class OpStats {
  var jobs = 0
  var buildJobs = 0
  var stages = 0
  var tasks = 0
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val runIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var taskRunMs = 0L
  var runTaskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var sqlExecutions = 0
  var planMs = 0L
  var batches = 0
  var addBatchMs = 0L
  var planningMs = 0L
  var walCommitMs = 0L
  var commitOffsetsMs = 0L
  var triggerMs = 0L
  var stateRows = 0L
  var stateBytes = 0L

  /** Wall time covered by the union of the given job intervals. */
  def wallMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}

object Recorder {
  val SeqKey = "perfbench.seq"
  val PhaseKey = "perfbench.phase"
}

final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  /** Operation seq → wall-clock interval (ms), opened by the harness before
    * the operation starts and closed when it returns.
    */
  private val intervals = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  private val stats = mutable.HashMap.empty[Int, OpStats]
  private val stageOwner = mutable.HashMap.empty[Int, (Int, String)]
  private val jobOwner = mutable.HashMap.empty[Int, (Int, String, Long)]
  /** Stream query id → (owning op, last progress's state rows/bytes). */
  private val streamOwner = mutable.HashMap.empty[java.util.UUID, Int]
  private val streamState = mutable.HashMap.empty[java.util.UUID, (Long, Long)]
  private val openSql = mutable.HashSet.empty[Long]
  private val openStreams = mutable.HashSet.empty[java.util.UUID]

  def opBegin(seq: Int): Unit = synchronized {
    intervals += ((seq, System.currentTimeMillis(), Long.MaxValue))
  }

  def opEnd(seq: Int): Unit = synchronized {
    val i = intervals.lastIndexWhere(_._1 == seq)
    if (i >= 0) intervals(i) = intervals(i).copy(_3 = System.currentTimeMillis())
  }

  private def opAt(timeMs: Long): Option[Int] =
    intervals.findLast { case (_, s, e) => timeMs >= s && timeMs <= e }.map(_._1)

  private def of(seq: Int): OpStats = stats.getOrElseUpdate(seq, new OpStats)

  /** Block until every job, SQL execution and stream query the listener
    * saw start has also been seen to end (the bus is asynchronous). Ends
    * whose start was delivered before the listener was attached are
    * ignored, so attaching between passes cannot unbalance the count.
    */
  def drain(timeoutMs: Long = 30000): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def balanced = synchronized { jobOwner.isEmpty && openSql.isEmpty && openStreams.isEmpty }
    while (!balanced && System.currentTimeMillis() < deadline) Thread.sleep(5)
    balanced
  }

  def snapshot: Map[Int, OpStats] = synchronized {
    streamState.foreach { case (id, (rows, bytes)) =>
      streamOwner.get(id).foreach { seq => of(seq).stateRows += rows; of(seq).stateBytes += bytes }
    }
    streamState.clear()
    stats.toMap
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(SeqKey))).map(_.toInt).foreach { seq =>
      val phase = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("")
      jobOwner(e.jobId) = (seq, phase, e.time)
      e.stageIds.foreach(id => stageOwner(id) = (seq, phase))
      val s = of(seq)
      s.jobs += 1
      if (phase == "build") s.buildJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (seq, phase, start) =>
      val s = of(seq)
      s.jobIntervals += ((start, e.time))
      if (phase == "run") s.runIntervals += ((start, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).foreach { case (seq, _) => of(seq).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for ((seq, phase) <- stageOwner.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = of(seq)
      s.tasks += 1
      s.taskRunMs += m.executorRunTime
      if (phase == "run") s.runTaskRunMs += m.executorRunTime
      s.taskCpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.inputBytes += m.inputMetrics.bytesRead
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case e: SparkListenerSQLExecutionStart =>
        openSql += e.executionId
        opAt(e.time).foreach(seq => of(seq).sqlExecutions += 1)
      case e: SparkListenerSQLExecutionEnd =>
        openSql -= e.executionId
      case e: StreamingQueryListener.QueryStartedEvent =>
        openStreams += e.id
        opAt(Instant.parse(e.timestamp).toEpochMilli).foreach(seq => streamOwner(e.id) = seq)
      case e: StreamingQueryListener.QueryProgressEvent =>
        val p = e.progress
        streamOwner.get(p.id).foreach { seq =>
          val s = of(seq)
          def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
          s.batches += 1
          s.addBatchMs += d("addBatch")
          s.planningMs += d("queryPlanning")
          s.walCommitMs += d("walCommit")
          s.commitOffsetsMs += d("commitOffsets")
          s.triggerMs += d("triggerExecution")
          streamState(p.id) = (p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum)
        }
      case e: StreamingQueryListener.QueryTerminatedEvent =>
        openStreams -= e.id
      case _ =>
    }
  }

  // QueryExecutionListener: Catalyst's analysis, optimization and planning
  // phases of each top-level action, from the query's own tracker.
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planning(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planning(qe)

  private def planning(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val start = phases.values.map(_.startTimeMs).min
      opAt(start).foreach(seq => of(seq).planMs += phases.values.map(_.durationMs).sum)
    }
  }
}
