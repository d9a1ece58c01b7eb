package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed call into a graft layer: `<module>.<call>` plus the op it
  * belongs to. `startMs`/`endMs` are wall-clock epoch millis, the clock
  * Spark stamps job submissions with, so jobs can be attributed to spans
  * after the run.
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long)

/** Spans held in memory while the run lasts and written out when it
  * ends. With tracing off, [[span]] only runs its body, so the untraced
  * run pays no bookkeeping; `on` switches tracing per phase.
  */
final class Tracer(var on: Boolean) {
  val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  var op = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val (s0, m0) = (System.nanoTime(), System.currentTimeMillis())
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, parent, op, s0, System.nanoTime(), m0, System.currentTimeMillis())
      }
    }
}

/** Counts Spark's work: every job (submission time, stages) and every
  * task (interval, records read, shuffle and spill bytes). Jobs are
  * matched to spans by submission time, not by job group, because
  * operator-internal Futures submit from pool threads that do not
  * inherit local properties.
  */
final class WorkListener extends SparkListener {
  final case class Job(id: Int, submitMs: Long, stages: Seq[Int])
  final case class Task(stage: Int, launchMs: Long, finishMs: Long,
      recordsRead: Long, shuffleWriteBytes: Long, shuffleWriteRecords: Long,
      spillBytes: Long, bytesWritten: Long)

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  private val ended = ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.jobId, e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.recordsWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.bytesWritten))
  }

  /** The listener bus is asynchronous: wait until every started job's
    * end event (and so its tasks' events) has been delivered.
    */
  def drain(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.asScala.exists(j => !ended.contains(j.id)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200)
  }
}
