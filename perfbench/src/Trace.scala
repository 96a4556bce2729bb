package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark's own counters for one span (exclusive: only the jobs submitted
  * while this span was the innermost open one).
  */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, gcMs, shuffleRead, shuffleWrite, spill, inBytes, outBytes = 0L
  val busy = mutable.ArrayBuffer.empty[(Long, Long)] // task [launch, finish) ms

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    inBytes += o.inBytes; outBytes += o.outBytes
    busy ++= o.busy
  }
}

/** Attributes each job, stage and task to the span that was open on the
  * submitting thread, read from the [[Recorder.SpanKey]] local property.
  * Spark copies local properties into the threads it submits on behalf
  * of a query (broadcasts, subqueries), so those land on the same span.
  */
final class Recorder extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val bySpan = new ConcurrentHashMap[Long, Counters]()

  private def of(span: Long): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  private def spanOf(props: Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Recorder.SpanKey))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
    val c = of(s)
    c.synchronized { c.jobs += 1 }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = spanOf(e.properties)
    stageSpan.put(e.stageInfo.stageId, s)
    val c = of(s)
    c.synchronized { c.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s: Long = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
    val c = of(s)
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      c.busy += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.inBytes += m.inputMetrics.bytesRead
        c.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Exclusive counters of `span` (empty if it submitted nothing). */
  def counters(span: Long): Counters = {
    val out = new Counters
    Option(bySpan.get(span)).foreach(c => c.synchronized(out += c))
    out
  }

  def forget(spans: Iterable[Long]): Unit = spans.foreach(s => bySpan.remove(s))
}

object Recorder {
  val SpanKey = "perfbench.span"
}

/** One timed call. `op` is shared by every span of one op. */
final class Span(val id: Long, val parent: Long, val op: Long, val name: String) {
  val startMs: Long = System.currentTimeMillis()
  val startNs: Long = System.nanoTime()
  var endMs: Long = startMs
  var endNs: Long = startNs
  var error: Option[String] = None
  val attrs = mutable.LinkedHashMap.empty[String, Double]
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Opens spans around calls into the program and tags the Spark jobs
  * they submit. Closed spans stay in memory until [[Tracer.closed]] is
  * written out at the end of the run.
  *
  * `always` spans are opened in both modes (pass roots and output
  * checks, which the timing needs); `span` and `op` spans only when
  * `enabled` — the traced mode.
  */
final class Tracer(sc: SparkContext) {
  var enabled = false
  val closed = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var nextOp = 0L
  private var curOp = 0L

  def currentOp: Long = curOp

  def always[T](name: String)(body: => T): (T, Span) = open(name)(body)

  def span[T](name: String)(body: => T): T =
    if (enabled) open(name)(body)._1 else body

  /** Starts a new op id; the op's root span is recorded when tracing. */
  def op[T](name: String)(body: => T): T = {
    nextOp += 1
    curOp = nextOp
    span(name)(body)
  }

  /** Attaches a number to the innermost open span (no-op untraced). */
  def attr(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  private def open[T](name: String)(body: => T): (T, Span) = {
    val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0L), curOp, name)
    nextId += 1
    stack = s :: stack
    sc.setLocalProperty(Recorder.SpanKey, s.id.toString)
    try {
      val out = body
      (out, s)
    } catch {
      case t: Throwable =>
        s.error = Some(s"${t.getClass.getName}: ${t.getMessage}")
        throw t
    } finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(Recorder.SpanKey, stack.headOption.map(_.id.toString).orNull)
      closed += s
    }
  }
}

/** Inclusive (span + descendants) counters over a set of closed spans. */
final class SpanTree(spans: Seq[Span], rec: Recorder) {
  private val children = spans.groupBy(_.parent)
  private val memo = mutable.HashMap.empty[Long, Counters]

  def inclusive(s: Span): Counters = memo.getOrElseUpdate(s.id, {
    val c = rec.counters(s.id)
    children.getOrElse(s.id, Nil).foreach(ch => c += inclusive(ch))
    c
  })

  /** Wall time inside `s` with no task of its subtree running. */
  def idleS(s: Span): Double =
    math.max(0L, (s.endMs - s.startMs) - Stats.busyUnion(inclusive(s).busy.toSeq, s.startMs, s.endMs)) / 1e3
}
