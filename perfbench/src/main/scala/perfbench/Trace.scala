package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of a request: `parent` indexes the enclosing span of
  * the same request (-1 for the request's root). */
final case class Span(req: Int, name: String, startNs: Long, endNs: Long, parent: Int)

/** In-memory span recorder, written out after the timed window. Disabled
  * (a plain call-through) for untraced requests. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  var enabled = false
  var req = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val idx = spans.size
      spans += Span(req, name, System.nanoTime(), 0L, stack.headOption.getOrElse(-1))
      stack = idx :: stack
      try body
      finally {
        spans(idx) = spans(idx).copy(endNs = System.nanoTime())
        stack = stack.tail
      }
    }
}

/** Per-request scheduler and stage-execution counters. Jobs are attributed
  * to the request through the `perfbench.req` local property the harness
  * sets before each request (inherited by threads the request spawns);
  * stages and tasks through their job. */
final class LayerListener(current: () => Int) extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, shuffleRead, shuffleWrite, spill, input = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  val byReq = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
  private val stageReq = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val jobsStarted = new AtomicInteger(0)
  val jobsEnded = new AtomicInteger(0)

  private def acc(req: Int): Acc = byReq.computeIfAbsent(req, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted.incrementAndGet()
    val req = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.req")))
      .map(_.toInt).getOrElse(current())
    e.stageIds.foreach(stageReq.put(_, req))
    acc(req).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobsEnded.incrementAndGet(); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val a = acc(stageReq.getOrDefault(si.stageId, current()))
    a.stages += 1
    for (s <- si.submissionTime; c <- si.completionTime) a.intervals += ((s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageReq.getOrDefault(e.stageId, current()))
    a.tasks += 1
    if (!e.taskInfo.successful) a.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
  }

  /** Wait until every started job has ended and the counts hold still. */
  def drain(timeoutMs: Long): Unit = {
    val until = System.currentTimeMillis() + timeoutMs
    var last = -1
    while (System.currentTimeMillis() < until &&
        (jobsStarted.get != jobsEnded.get || last != jobsEnded.get)) {
      last = jobsEnded.get
      Thread.sleep(200)
    }
  }
}

/** Planning phases (analysis + optimization + planning, from
  * `QueryExecution.tracker`) of every action the session runs, stamped with
  * the phase start so the harness attributes them to the request whose wall
  * interval contains it. */
final class PlanningListener extends QueryExecutionListener {
  val records = new ConcurrentLinkedQueue[(Long, Long)]() // (startMs, planningMs)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    val parts = Seq("analysis", "optimization", "planning").flatMap(ph.get)
    if (parts.nonEmpty)
      records.add((parts.map(_.startTimeMs).min, parts.map(_.durationMs).sum))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def within(startMs: Long, endMs: Long): Long =
    records.asScala.filter { case (s, _) => s >= startMs && s <= endMs }.map(_._2).sum
}
