package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Cumulative Spark work counters, read at layer boundaries. */
final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, shuffleRead: Long = 0, shuffleWrite: Long = 0,
    spill: Long = 0, input: Long = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskMs - o.taskMs, shuffleRead - o.shuffleRead,
    shuffleWrite - o.shuffleWrite, spill - o.spill, input - o.input)
}

/** SparkListener that keeps running totals of jobs, completed stages,
  * finished tasks, executor run time, shuffle bytes, spill and input. */
final class CountingListener extends SparkListener {
  private val jobs, stages, tasks, taskMs, shR, shW, spill, input = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      input.addAndGet(m.inputMetrics.bytesRead)
    }
    ()
  }
  def snapshot: Counts = Counts(jobs.get, stages.get, tasks.get, taskMs.get,
    shR.get, shW.get, spill.get, input.get)
}

/** One recorded span: a layer call with its parent span and the
  * operation (query, file or stream batch) it served. Times are
  * nanoseconds on the JVM's monotonic clock. */
final case class Span(id: Int, parent: Int, op: Long, pass: Int,
    name: String, start: Long, end: Long, counts: Counts)

/** In-memory span recorder. With `enabled` false every call just runs
  * its body, so the timed runs pay nothing for the trace points. */
final class Tracer(val enabled: Boolean, listener: CountingListener,
    drain: () => Unit) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  var pass = 0

  /** Times `body` as span `name` under `parent`; `body` gets the span's
    * id (-1 when tracing is off). Listener events are drained at both ends
    * so the counts belong to this span. */
  def span[T](name: String, op: Long, parent: Int = -1)(body: Int => T): T =
    if (!enabled) body(-1)
    else {
      val id = synchronized { nextId += 1; nextId }
      drain()
      val c0 = listener.snapshot
      val t0 = System.nanoTime()
      val r = body(id)
      val t1 = System.nanoTime()
      drain()
      val c = listener.snapshot - c0
      synchronized { spans += Span(id, parent, op, pass, name, t0, t1, c) }
      r
    }

  /** Records a span whose bounds were measured elsewhere. */
  def record(name: String, op: Long, parent: Int, start: Long, end: Long,
      counts: Counts = Counts()): Int = synchronized {
    nextId += 1
    spans += Span(nextId, parent, op, pass, name, start, end, counts)
    nextId
  }
}
