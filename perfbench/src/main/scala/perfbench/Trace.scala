package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval at a layer boundary. Times are epoch microseconds; `op`
  * is the operation (query execution or request) the span belongs to.
  */
final case class Span(id: Long, parent: Long, name: String, op: String,
    startUs: Long, endUs: Long)

/** Counters of one operation, filled from listener events. */
final class Counts {
  var jobs, buildJobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, taskWaitMs, gcMs = 0L
  var inputBytes, shuffleWrite, shuffleRead, spill = 0L
}

/** In-memory trace store. The listeners below write into it only while
  * `on` is set, and note the time of every event, so that the benchmark
  * can wait for a quiet listener bus before it switches `on` or reads.
  *
  * Spark jobs are attributed to operations through a thread-local
  * property (plus the job group) that the benchmark sets on its own
  * thread, never through the session: queries that build a child
  * session with `newSession()` submit their jobs from the same thread,
  * and streaming query threads inherit the property when they start.
  */
object Trace {
  val OpKey = "perfbench.op"
  val PhaseKey = "perfbench.phase"

  @volatile var on = false
  private val ids = new AtomicLong(0)
  @volatile private var lastEventNs = System.nanoTime()

  val spans = new ConcurrentLinkedQueue[Span]()
  private val counts = mutable.Map.empty[String, Counts]
  private val stageOf = mutable.Map.empty[Int, (String, Long)]
  private val jobOf = mutable.Map.empty[Int, (String, String, Long, Long)]

  val analysisMs, optimizationMs, planningMs, planEvents = new AtomicLong
  val streamQueries, streamBatches, streamRows = new AtomicLong
  val addBatchMs, walCommitMs, commitOffsetsMs, triggerMs = new AtomicLong
  private val stateRows = mutable.Map.empty[String, Long]

  def nextId(): Long = ids.incrementAndGet()
  def nowUs(): Long = System.currentTimeMillis() * 1000 +
    (System.nanoTime() / 1000) % 1000
  def touch(): Unit = lastEventNs = System.nanoTime()

  def reset(): Unit = synchronized {
    spans.clear(); counts.clear(); stageOf.clear(); jobOf.clear()
    stateRows.clear()
    Seq(analysisMs, optimizationMs, planningMs, planEvents, streamQueries,
      streamBatches, streamRows, addBatchMs, walCommitMs, commitOffsetsMs,
      triggerMs).foreach(_.set(0))
  }

  /** Wait until no listener event arrived for `quietMs` (max `capMs`). */
  def drain(quietMs: Long = 400, capMs: Long = 5000): Unit = {
    val t0 = System.nanoTime()
    while ((System.nanoTime() - lastEventNs) / 1000000 < quietMs &&
        (System.nanoTime() - t0) / 1000000 < capMs) Thread.sleep(50)
  }

  def countsOf(op: String): Counts = synchronized {
    counts.getOrElse(op, new Counts)
  }
  def allCounts: Map[String, Counts] = synchronized { counts.toMap }
  def stateRowsTotal: Long = synchronized { stateRows.values.sum }

  private def c(op: String) = counts.getOrElseUpdate(op, new Counts)

  private[perfbench] def jobStart(e: SparkListenerJobStart): Unit =
    synchronized {
      val p = e.properties
      val op = Option(p).flatMap(x => Option(x.getProperty(OpKey)))
        .orElse(Option(p).flatMap(x =>
          Option(x.getProperty("spark.jobGroup.id"))))
        .getOrElse("none")
      val phase = Option(p).flatMap(x => Option(x.getProperty(PhaseKey)))
        .getOrElse("")
      val k = c(op)
      k.jobs += 1
      if (phase == "build") k.buildJobs += 1
      e.stageIds.foreach(s => stageOf(s) = (op, 0L))
      jobOf(e.jobId) = (op, phase, e.time, nextId())
    }

  private[perfbench] def jobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOf.remove(e.jobId).foreach { case (op, phase, t0, id) =>
      spans.add(Span(id, -1, s"job.$phase", op, t0 * 1000, e.time * 1000))
    }
  }

  private[perfbench] def stageSubmitted(e: SparkListenerStageSubmitted)
      : Unit = synchronized {
    val id = e.stageInfo.stageId
    val op = stageOf.get(id).map(_._1).getOrElse("none")
    stageOf(id) = (op, e.stageInfo.submissionTime.getOrElse(0L))
    c(op).stages += 1
  }

  private[perfbench] def taskEnd(e: SparkListenerTaskEnd): Unit =
    synchronized {
      val (op, submitted) = stageOf.getOrElse(e.stageId, ("none", 0L))
      val k = c(op)
      k.tasks += 1
      if (!e.taskInfo.successful) k.failedTasks += 1
      if (submitted > 0)
        k.taskWaitMs += math.max(0L, e.taskInfo.launchTime - submitted)
      val m = e.taskMetrics
      if (m != null) {
        k.taskRunMs += m.executorRunTime
        k.taskCpuNs += m.executorCpuTime
        k.gcMs += m.jvmGCTime
        k.inputBytes += m.inputMetrics.bytesRead
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  private[perfbench] def plan(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    analysisMs.addAndGet(ms("analysis"))
    optimizationMs.addAndGet(ms("optimization"))
    planningMs.addAndGet(ms("planning"))
    planEvents.incrementAndGet()
  }

  private[perfbench] def progress(p: org.apache.spark.sql.streaming
      .StreamingQueryProgress): Unit = {
    streamBatches.incrementAndGet()
    streamRows.addAndGet(p.numInputRows)
    def d(k: String): Long =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    addBatchMs.addAndGet(d("addBatch"))
    walCommitMs.addAndGet(d("walCommit"))
    commitOffsetsMs.addAndGet(d("commitOffsets"))
    triggerMs.addAndGet(d("triggerExecution"))
    val rows = p.stateOperators.map(_.numRowsTotal).sum
    synchronized { stateRows(p.id.toString) = rows }
  }
}

/** Jobs, stages and tasks of every session on the shared SparkContext. */
final class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    { Trace.touch(); if (Trace.on) Trace.jobStart(e) }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    { Trace.touch(); if (Trace.on) Trace.jobEnd(e) }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    { Trace.touch(); if (Trace.on) Trace.stageSubmitted(e) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    { Trace.touch(); if (Trace.on) Trace.taskEnd(e) }
}

/** Catalyst phase times. Installed through the static conf
  * `spark.sql.queryExecutionListeners`, so every session built later,
  * `newSession()` children included, gets its own instance.
  */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    { Trace.touch(); if (Trace.on) Trace.plan(qe) }
  override def onFailure(f: String, qe: QueryExecution, e: Exception)
      : Unit = { Trace.touch(); if (Trace.on) Trace.plan(qe) }
}

/** Streaming batches, installed through
  * `spark.sql.streaming.streamingQueryListeners` for every session.
  */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    { Trace.touch(); if (Trace.on) Trace.streamQueries.incrementAndGet() }
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    { Trace.touch(); if (Trace.on) Trace.progress(e.progress) }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
