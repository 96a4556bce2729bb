package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession

/** Benchmark entry point (one JVM per run):
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <dir> --cores <n>
  *
  * Writes the seeded inputs and oracles `SetupReps` times, then builds the
  * workload's template and warms up with one pass's ops; `setup_s` is the
  * median input time plus the build and warm-up. Then it runs passes
  * until `--seconds` have gone by. Untraced runs print the end-to-end metrics;
  * traced runs alternate traced and untraced passes, print the per-layer
  * metrics (with the tracing overhead between the two kinds of pass) and
  * write every span to `<out>/traces/`. The last stdout line is the
  * result object; failed ops are printed above it.
  */
object Main {
  val SetupReps = 3
  val CodegenCacheEntries = 4000
  /** Untraced runs need one pass; traced runs one traced and one untraced. */
  def minPasses(trace: Boolean): Int = if (trace) 2 else 1

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      Paths.get(get("work")).toAbsolutePath, Paths.get(get("out")).toAbsolutePath,
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      // One pass runs ~200 distinct query plans; Spark's default cache of 100
      // generated classes would evict and recompile (and re-JIT) them every pass.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workload.Names.contains(a.workload), s"unknown workload ${a.workload}")
    FileTree.deleteTree(a.work)
    Files.createDirectories(a.work)
    val spark = session(a)
    val result = try run(a, spark) finally spark.stop()
    FileTree.deleteTree(a.work)
    println(result)
  }

  def run(a: Args, spark: SparkSession): Json.Raw = {
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    val ctx = new Ctx(spark, new Tracer(spark.sparkContext), rec, a.seed)
    val wl = Workload(a.workload, ctx)
    def log(msg: String): Unit = System.err.println(
      f"[perfbench] ${a.workload} seed=${a.seed} (jvm ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s): $msg")

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    val inputs = (1 to SetupReps).map { i =>
      val dir = a.work.resolve(s"setup-$i")
      val dt = timed(wl.setup(dir))
      if (i < SetupReps) FileTree.deleteTree(dir)
      dt
    }
    val buildS = timed(wl.build())
    val warmS = timed(wl.warmUp())
    val setupS = Stats.median(inputs) + buildS + warmS
    log(f"setup: inputs ${inputs.map(x => f"$x%.3f").mkString("/")} s, build $buildS%.3f s, warm-up $warmS%.3f s")

    ctx.sampling = true
    val passes = mutable.ArrayBuffer.empty[PassStats]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (passes.size < minPasses(a.trace) || elapsed < a.seconds) {
      val traced = a.trace && passes.size % 2 == 0
      val jvm0 = JvmWork.now()
      val p = ctx.pass(traced)(wl.pass())
      passes += p
      log(f"pass ${passes.size}${if (traced) " (traced)" else ""}: ${p.seconds}%.3f s, cpu ${p.cpuS}%.3f s, ${JvmWork.now() - jvm0}")
    }

    log("measured")
    val failed = ctx.failures.size
    def failure(f: OpFailure) = Json.obj("failed_op" -> f.op, "name" -> f.name, "class" -> f.cls, "message" -> f.message)
    ctx.failures.foreach(f => println(failure(f)))
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) endToEnd(ctx, passes.toSeq, setupS)
      else {
        TraceFile.write(a, passes.filter(_.traced).toSeq)
        perLayer(wl, ctx, passes.toSeq)
      }
    val metricsJson = Json.obj(metrics.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*)
    val tail = Stats.tail(if (ctx.opSeconds.nonEmpty) ctx.opSeconds.toSeq else Seq(0.0))
    val summary = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "cores" -> a.cores, "passes" -> passes.size,
      "pass_s" -> passes.map(_.seconds), "inputs_s" -> inputs, "build_s" -> buildS, "warmup_s" -> warmS,
      "op_samples" -> ctx.opSeconds.size, "op_s" -> ctx.opSeconds.toSeq, "op_tail_pct" -> tail.pct, "op_tail_beyond" -> tail.beyond,
      "attempted" -> ctx.attempted, "failed" -> failed,
      "failures" -> ctx.failures.map(failure),
      "metrics" -> metricsJson)
    val results = a.out.resolve("results")
    Files.createDirectories(results)
    Files.write(results.resolve(s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
      summary.json.getBytes("UTF-8"))
    if (ctx.opSeconds.nonEmpty)
      println(Json.obj("op_tail" -> Json.obj("percentile" -> tail.pct, "samples" -> tail.n,
        "beyond" -> tail.beyond)))
    Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> failed,
      "metrics" -> metricsJson)
  }

  def endToEnd(ctx: Ctx, passes: Seq[PassStats], setupS: Double): Seq[(String, Double, String)] = {
    val ops = if (ctx.opSeconds.nonEmpty) ctx.opSeconds.toSeq else passes.map(_.seconds)
    Seq(
      ("run_s", Stats.median(passes.map(_.seconds)), "s"),
      ("op_p50_s", Stats.median(ops), "s"),
      ("op_tail_s", Stats.tail(ops).value, "s"),
      ("cpu_s", Stats.median(passes.map(_.cpuS)), "s"),
      ("setup_s", setupS, "s"),
      ("peak_heap_mb", ctx.peakHeapMb, "MB"))
  }

  /** Every per-layer metric: medians over the traced passes of this
    * workload's layers, zero for layers this workload does not call.
    */
  def perLayer(wl: Workload, ctx: Ctx, passes: Seq[PassStats]): Seq[(String, Double, String)] = {
    val traced = passes.filter(_.traced)
    val plain = passes.filterNot(_.traced)
    val fromLayers = traced.map(wl.layers)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def spark(f: PassStats => Double) = med(traced.map(f))
    val engine = Map(
      "spark.jobs" -> spark(_.root.c.jobs.toDouble),
      "spark.stages" -> spark(_.root.c.stages.toDouble),
      "spark.tasks" -> spark(_.root.c.tasks.toDouble),
      "spark.shuffle_read_mb" -> spark(p => Workload.mb(p.root.c.shuffleRead)),
      "spark.shuffle_write_mb" -> spark(p => Workload.mb(p.root.c.shuffleWrite)),
      "spark.spill_mb" -> spark(p => Workload.mb(p.root.c.spill)),
      "spark.cpu_s" -> spark(_.cpuS),
      "spark.gc_s" -> spark(_.root.c.gcMs / 1e3),
      "spark.idle_s" -> spark(_.root.idleS),
      "spark.leaked_rdds" -> passes.map(_.leaked).sum.toDouble,
      "trace.run_s" -> spark(_.seconds),
      "trace.untraced_run_s" -> med(plain.map(_.seconds)),
      "trace.overhead_s" -> (spark(_.seconds) - med(plain.map(_.seconds))),
      "fail_ratio" -> ctx.failures.size.toDouble / math.max(1, ctx.attempted))
    Layers.All.map { case (name, unit) =>
      val v = engine.getOrElse(name, med(fromLayers.flatMap(_.get(name))))
      (name, v, unit)
    }
  }
}

/** JVM work beside the program's, logged per pass: JIT compilation, GC,
  * and Spark's generated-code compilations (cache misses).
  */
final case class JvmWork(jitMs: Long, gcMs: Long, codegen: Long) {
  def -(o: JvmWork): JvmWork = JvmWork(jitMs - o.jitMs, gcMs - o.gcMs, codegen - o.codegen)
  override def toString: String = s"jit $jitMs ms, gc $gcMs ms, codegen compiles $codegen"
}

object JvmWork {
  def now(): JvmWork = JvmWork(
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** Names and units of every per-layer metric, in BENCHMARK.json order. */
object Layers {
  private def l(prefix: String, ms: (String, String)*) = ms.map { case (m, u) => s"$prefix.$m" -> u }
  private val engineMetrics = Seq("s" -> "s", "jobs" -> "count", "shuffle_mb" -> "MB", "cpu_s" -> "s", "idle_s" -> "s")

  val All: Seq[(String, String)] =
    l("io", "sink_s" -> "s", "sink_mb" -> "MB") ++
    l("pagerank", "prepare_s" -> "s", "prepare_jobs" -> "count", "prepare_shuffle_mb" -> "MB",
      "iterate_s" -> "s", "iterations" -> "count", "iter_s" -> "s", "jobs_per_iter" -> "count",
      "tasks_per_iter" -> "count", "iterate_shuffle_mb" -> "MB", "iterate_cpu_s" -> "s",
      "iterate_idle_s" -> "s", "topk_s" -> "s") ++
    l("graphx", "run_s" -> "s", "jobs" -> "count", "shuffle_mb" -> "MB", "cpu_s" -> "s", "gc_s" -> "s") ++
    Seq("triangles", "lpa", "scc", "sssp", "kcore", "cc").flatMap(e => l(e, engineMetrics: _*)) ++
    l("release", "increment_s" -> "s", "jobs" -> "count", "tasks" -> "count", "idle_s" -> "s",
      "input_mb" -> "MB", "write_mb" -> "MB", "write_amp" -> "ratio", "compact_s" -> "s",
      "compact_rewrite_mb" -> "MB", "store_mb" -> "MB", "keep_ratio" -> "ratio") ++
    l("spark", "jobs" -> "count", "stages" -> "count", "tasks" -> "count", "shuffle_read_mb" -> "MB",
      "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "cpu_s" -> "s", "gc_s" -> "s", "idle_s" -> "s",
      "leaked_rdds" -> "count") ++
    l("trace", "run_s" -> "s", "untraced_run_s" -> "s", "overhead_s" -> "s") ++
    Seq("fail_ratio" -> "ratio")
}

/** Writes the traced passes' spans, one JSON object per line. */
object TraceFile {
  def write(a: Main.Args, passes: Seq[PassStats]): Unit = {
    val dir = a.out.resolve("traces")
    Files.createDirectories(dir)
    val lines = passes.iterator.flatMap(_.spans).map { r =>
      val s = r.span
      Json.obj(
        "span" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
        "error" -> s.error.orNull,
        "jobs" -> r.c.jobs, "stages" -> r.c.stages, "tasks" -> r.c.tasks,
        "shuffle_read_mb" -> Workload.mb(r.c.shuffleRead), "shuffle_write_mb" -> Workload.mb(r.c.shuffleWrite),
        "spill_mb" -> Workload.mb(r.c.spill), "input_mb" -> Workload.mb(r.c.inBytes),
        "output_mb" -> Workload.mb(r.c.outBytes), "cpu_s" -> r.c.cpuNs / 1e9, "gc_s" -> r.c.gcMs / 1e3,
        "idle_s" -> r.idleS, "attrs" -> Json.obj(s.attrs.toSeq: _*)).json
    }
    Gen.writeLines(dir.resolve(s"${a.workload}-seed${a.seed}.jsonl"), lines)
  }
}

/** Minimal JSON rendering for the result line, summaries and spans. */
object Json {
  /** Already-rendered JSON. */
  final case class Raw(json: String) {
    override def toString: String = json
  }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  private def value(v: Any): String = v match {
    case null => "null"
    case Raw(json) => json
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }
}
