package graftbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark work counted by a listener attached from outside graft. */
final case class Counts(jobs: Long, stages: Long, tasks: Long, runMs: Long,
    cpuNs: Long, inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, gcMs: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    runMs - o.runMs, cpuNs - o.cpuNs, inputBytes - o.inputBytes,
    shuffleReadBytes - o.shuffleReadBytes, shuffleWriteBytes - o.shuffleWriteBytes,
    spillBytes - o.spillBytes, gcMs - o.gcMs)
}

final class SparkCounts extends SparkListener {
  private val jobs, stages, tasks, runMs, cpuNs, input, shuffleRead, shuffleWrite, spill, gcMs =
    new AtomicLong
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  /** (start, end) wall-clock milliseconds of every finished job */
  val jobIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStarts.put(e.jobId, e.time)
    ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach(start => jobIntervals.add((start, e.time)))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      input.addAndGet(m.inputMetrics.bytesRead)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
    }
  }

  def snapshot: Counts = Counts(jobs.get, stages.get, tasks.get, runMs.get, cpuNs.get,
    input.get, shuffleRead.get, shuffleWrite.get, spill.get, gcMs.get)
}

/** One timed call into a layer. `req` groups the spans of one request. */
final case class Span(id: Int, parent: Int, name: String, req: String,
    startNs: Long, endNs: Long, counts: Option[Counts])

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced run pays nothing. Spans nest per thread; counts are the
  * listener's delta over the span and are only taken where no other
  * thread submits Spark work at the same time.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val listener = if (enabled) {
    val l = new SparkCounts
    spark.sparkContext.addSparkListener(l)
    Some(l)
  } else None
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  val t0: Long = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()

  private def counts(): Option[Counts] = listener.map { l =>
    BenchAccess.drainListeners(spark.sparkContext)
    l.snapshot
  }

  def span[T](name: String, req: String = "", count: Boolean = true)(body: => T): T =
    if (!enabled) body else {
      val id = nextId.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val c0 = if (count) counts() else None
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        val c1 = if (count) counts() else None
        stack.set(stack.get.tail)
        val sp = Span(id, parent, name, req, start, end, for (a <- c0; b <- c1) yield b - a)
        spans.synchronized(spans += sp)
      }
    }

  def recorded: Seq[Span] = spans.synchronized(spans.toList).sortBy(_.id)

  /** Finished Spark jobs as (start, end) in ms since the tracer started,
    * on the same time base as the spans.
    */
  def jobs: Seq[(Long, Long)] = listener.toSeq.flatMap { l =>
    BenchAccess.drainListeners(spark.sparkContext)
    l.jobIntervals.asScala.toSeq.map { case (a, b) => (a - t0Ms, b - t0Ms) }
  }

  def close(): Unit = listener.foreach(spark.sparkContext.removeSparkListener)
}
