package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer

/** Cumulative Spark work since the listener was registered. */
final case class Counts(jobs: Long, stages: Long, tasks: Long,
    shuffleRead: Long, shuffleWrite: Long, spill: Long,
    inputRecords: Long, outputBytes: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
    spill - o.spill, inputRecords - o.inputRecords, outputBytes - o.outputBytes)
  def toMap: Map[String, Long] = Map("jobs" -> jobs, "stages" -> stages,
    "tasks" -> tasks, "shuffle_read_bytes" -> shuffleRead,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "input_records" -> inputRecords, "output_bytes" -> outputBytes)
}

/** Counts jobs, stages, tasks, shuffle and spill bytes and input
  * records over the whole session; spans read differences.
  */
final class CountingListener extends SparkListener {
  private val jobs, stages, tasks, shRead, shWrite, spill, inRec, outBytes = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inRec.addAndGet(m.inputMetrics.recordsRead)
      outBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }
  def snapshot: Counts = Counts(jobs.get, stages.get, tasks.get, shRead.get,
    shWrite.get, spill.get, inRec.get, outBytes.get)
}

final case class Span(name: String, parent: Option[String], startMs: Double,
    endMs: Double, counts: Counts) {
  def ms: Double = endMs - startMs
  def nanos: Long = (ms * 1e6).toLong
}

/** Spans around the benchmark's calls into each layer, kept in memory
  * and written out when the run ends. Spans are taken from one thread
  * at a time, so the counts between a span's start and end belong to
  * that span (and its children).
  */
final class Tracer(spark: SparkSession) {
  private val listener = new CountingListener
  private val t0 = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[String]
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener); attached = true
  }
  def detach(): Unit = if (attached) {
    drain(); spark.sparkContext.removeSparkListener(listener); attached = false
  }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
  private def nowMs: Double = (System.nanoTime() - t0) / 1e6

  def span[T](name: String)(f: => T): (T, Span) = {
    drain()
    val before = listener.snapshot
    val parent = stack.headOption
    stack = name :: stack
    val start = nowMs
    val out = try f finally stack = stack.tail
    val end = nowMs
    drain()
    val s = Span(name, parent, start, end, listener.snapshot - before)
    done += s
    (out, s)
  }

  def spans: Seq[Span] = done.toSeq
}
