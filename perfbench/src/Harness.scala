package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.perfbench.SparkAccess

/** An op's output did not match the oracle. */
final class WrongOutput(msg: String) extends Exception(msg)

object Check {
  def expect(cond: Boolean, what: => String): Unit =
    if (!cond) throw new WrongOutput(what)
}

/** A span with its inclusive counters, kept once its pass is over. */
final case class SpanRecord(span: Span, c: Counters, idleS: Double)

final case class PassStats(
    seconds: Double, cpuS: Double, traced: Boolean, leaked: Int,
    spans: Seq[SpanRecord], root: SpanRecord)

final case class OpFailure(op: Long, name: String, cls: String, message: String)

/** What a workload sees of the run: the session, the tracer, and op
  * bookkeeping (timing, output checks, failure accounting, isolation).
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val rec: Recorder, val seed: Long) {
  private val sc = spark.sparkContext

  /** Op latencies are sampled only in the measured phase, not warm-up. */
  var sampling = false
  val opSeconds = mutable.ArrayBuffer.empty[Double]
  val failures = mutable.ArrayBuffer.empty[OpFailure]
  var attempted = 0
  var peakHeapMb = 0.0

  private var passSeconds = 0.0
  private var passLeaked = 0
  private val toRelease = mutable.ArrayBuffer.empty[() => Unit]

  /** Registers a checkpoint-backed result to free once its op is checked. */
  def keep(df: DataFrame): DataFrame = { toRelease += (() => SparkAccess.release(df)); df }

  def keep(r: graft.graph.PageRank.RankResult): graft.graph.PageRank.RankResult = {
    toRelease += (() => r.release()); r
  }

  /** A timed stretch of a pass that is not an op (e.g. a store copy). */
  def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try tracer.span(name)(body)
    finally passSeconds += (System.nanoTime() - t0) / 1e9
  }

  /** Runs one op: `body` is timed and returns the output check, which
    * runs untimed. A throw from either counts the op as failed, with its
    * class and message kept by op id. Afterwards the op's results are
    * released and any RDD still persisted is counted as leaked and swept.
    * `sample = false` keeps the op out of the latency samples (pass
    * maintenance such as a compaction); `measureHeap` takes the live heap
    * after a full GC while the op's results are still held.
    */
  def runOp(name: String, sample: Boolean = true, measureHeap: Boolean = false)(
      body: => (() => Unit)): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val run = Try(tracer.op(name)(body))
    val dt = (System.nanoTime() - t0) / 1e9
    passSeconds += dt
    val failure = run match {
      case Success(check) => Try(tracer.always("check")(check())).failed.toOption
      case Failure(t) => Some(t)
    }
    failure match {
      case None => if (sampling && sample) opSeconds += dt
      case Some(t) =>
        val f = OpFailure(tracer.currentOp, name, t.getClass.getName, String.valueOf(t.getMessage))
        failures += f
        System.err.println(s"[perfbench] op ${f.op} ($name) FAILED: ${f.cls}: ${f.message}")
    }
    if (measureHeap) peakHeapMb = math.max(peakHeapMb, liveHeapMb())
    toRelease.foreach(f => Try(f()))
    toRelease.clear()
    passLeaked += sweep()
  }

  /** Heap in use after a full GC. The second GC runs after Spark's
    * ContextCleaner has had time to drop the blocks the first one freed.
    */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Unpersists everything still cached; returns how many RDDs that was. */
  def sweep(): Int = {
    val persisted = sc.getPersistentRDDs.values.toSeq
    spark.catalog.clearCache()
    persisted.foreach(_.unpersist(blocking = true))
    persisted.size
  }

  /** Runs `body` as one pass and collects its timing and counters. */
  def pass(traced: Boolean)(body: => Unit): PassStats = {
    tracer.enabled = traced
    passSeconds = 0.0
    passLeaked = 0
    val first = tracer.closed.size
    System.gc() // every pass starts from the same heap, not mid-way to a collection
    val (_, root) = tracer.always("pass")(body)
    SparkAccess.drain(sc)
    val spans = tracer.closed.drop(first).toSeq
    val tree = new SpanTree(spans, rec)
    val records = spans.map(s => SpanRecord(s, tree.inclusive(s), tree.idleS(s)))
    val checkCpu = spans.filter(_.name == "check").map(s => tree.inclusive(s).cpuNs).sum
    val rootRec = records.find(_.span eq root).get
    tracer.closed.remove(first, spans.size)
    rec.forget(spans.map(_.id))
    tracer.enabled = false
    PassStats(passSeconds, (rootRec.c.cpuNs - checkCpu) / 1e9, traced, passLeaked,
      if (traced) records else Nil, rootRec)
  }

  def readTsv(path: Path, schema: String): DataFrame =
    spark.read.schema(schema).option("delimiter", "\t").csv(path.toString)
}

object FileTree {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toSeq.reverse
      all.foreach(Files.deleteIfExists)
    }

  def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  def sizeBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
