package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._

/** Engine-side counters summed from Spark's own listener events. */
final class EngineCounters extends SparkListener {
  val jobs, stages, streamJobs = new AtomicLong
  val cpuNs, gcMs, shuffleWrite, spill, input, output, recordsWritten = new AtomicLong
  val peakExecMem = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    if (Option(e.properties).exists(_.getProperty("streaming.sql.batchId") != null))
      streamJobs.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
    cpuNs.addAndGet(m.executorCpuTime)
    gcMs.addAndGet(m.jvmGCTime)
    shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    input.addAndGet(m.inputMetrics.bytesRead)
    output.addAndGet(m.outputMetrics.bytesWritten)
    recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
    peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
  }

  /** Current values, after the listener bus has drained. */
  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "streamJobs" -> streamJobs.get,
    "cpuNs" -> cpuNs.get, "gcMs" -> gcMs.get, "shuffleWrite" -> shuffleWrite.get,
    "spill" -> spill.get, "input" -> input.get, "output" -> output.get,
    "recordsWritten" -> recordsWritten.get, "peakExecMem" -> peakExecMem.get)
}

/** Counts the lines of every WARN event logged anywhere in the process. */
final class WarnLineCounter
    extends AbstractAppender("perfbench-warn-lines", null, null, true, Property.EMPTY_ARRAY) {
  val lines = new AtomicLong
  override def append(e: LogEvent): Unit =
    if (e.getLevel == Level.WARN)
      lines.addAndGet(e.getMessage.getFormattedMessage.linesIterator.size.toLong.max(1L))
}

object WarnLineCounter {
  def install(): WarnLineCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val c = new WarnLineCounter
    c.start()
    ctx.getConfiguration.addAppender(c)
    ctx.getConfiguration.getRootLogger.addAppender(c, Level.WARN, null)
    ctx.updateLoggers()
    c
  }
}

/** In-memory spans around the benchmark's calls into the program. Disabled,
  * `span` only runs its body.
  */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                        parent: Int, op: Int)
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0

  def span[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, t0, System.nanoTime(), parent, op)
        stack = stack.tail
      }
    }

  /** Record a span measured elsewhere (Spark's streaming progress). */
  def add(name: String, startNs: Long, endNs: Long, parent: Int, op: Int): Int =
    if (!enabled) -1
    else { val id = nextId; nextId += 1; spans += Span(id, name, startNs, endNs, parent, op); id }

  /** Self time of each span: its duration less the time its children cover. */
  def selfSeconds: Map[String, Seq[Double]] = {
    val childNs = spans.groupMapReduce(_.parent)(s => s.endNs - s.startNs)(_ + _)
    spans.toSeq.groupMap(_.name)(s => (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9)
  }

  def toJson: String = {
    import org.json4s._
    import org.json4s.jackson.Serialization
    Serialization.write(spans.map(s => Map(
      "id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "parent" -> s.parent, "op" -> s.op)))(DefaultFormats)
  }
}

object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]; NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = p / 100 * (s.size - 1)
      val lo = r.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Peak resident set size of this process, from /proc. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}
