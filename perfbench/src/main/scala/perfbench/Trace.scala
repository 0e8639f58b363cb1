package perfbench

import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task-counter totals since the listener was registered; diff two readings
  * to get a window's work.
  */
final case class Counters(jobs: Long, tasks: Long, cpuNs: Long, shuffleWriteB: Long,
    spillB: Long, inputB: Long, outputRecords: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
    shuffleWriteB - o.shuffleWriteB, spillB - o.spillB, inputB - o.inputB,
    outputRecords - o.outputRecords)
  def cpuS: Double = cpuNs / 1e9
}

/** The benchmark's own listener: jobs, tasks, executor CPU, shuffle write,
  * spill, input bytes and written records, summed over every task the
  * session runs.
  */
final class TaskCounters(sc: SparkContext) extends SparkListener {
  private val jobs, tasks, cpuNs, shuffleW, spill, in, outRec = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    tasks.increment()
    cpuNs.add(m.executorCpuTime)
    shuffleW.add(m.shuffleWriteMetrics.bytesWritten)
    spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    in.add(m.inputMetrics.bytesRead)
    outRec.add(m.outputMetrics.recordsWritten)
  }

  /** Totals after every event posted so far has been delivered. */
  def read(): Counters = {
    PerfbenchBus.drain(sc)
    Counters(jobs.sum, tasks.sum, cpuNs.sum, shuffleW.sum, spill.sum, in.sum, outRec.sum)
  }
}

/** One layer call: wall interval, the span that caused it, and the task
  * counters of the jobs it ran. Spans of one operation share `op`.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long,
    endNs: Long, work: Counters) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder, used only by traced runs. Spans wrap the
  * benchmark's calls into the program's layers; nothing inside the program
  * is instrumented.
  */
final class Tracer(counters: TaskCounters) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var op = 0

  /** Starts a new operation; its spans get a fresh shared id. */
  def newOp(): Int = { op += 1; op }

  def span[T](name: String)(body: => T): T = {
    val id = spans.size + 1
    val parent = stack.headOption.getOrElse(0)
    spans += null // reserve the slot so children get later ids
    stack = id :: stack
    val c0 = counters.read()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      val c1 = counters.read()
      stack = stack.tail
      spans(id - 1) = Span(id, parent, op, name, t0, t1, c1 - c0)
    }
  }

  def ofOp(o: Int): Seq[Span] = spans.iterator.filter(s => s != null && s.op == o).toSeq

  /** Wall time of `s` not covered by its direct children. */
  def selfS(s: Span): Double =
    s.wallS - spans.iterator.filter(c => c != null && c.parent == s.id).map(_.wallS).sum
}
