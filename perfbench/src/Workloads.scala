package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.graph._
import graft.io.Sinks
import graft.release.{ReleaseParams, ReleaseStore}

import Check.expect

/** One benchmark workload. `setup` writes the seeded inputs under `dir`
  * and computes the oracles; `build` makes what every pass starts from
  * (a template store); `warmUp` runs one pass's ops once; `pass` runs the
  * measured unit of work through [[Ctx.runOp]].
  */
abstract class Workload(val ctx: Ctx) {
  protected def spark = ctx.spark
  protected def tr = ctx.tracer
  def setup(dir: Path): Unit
  def build(): Unit = ()
  def warmUp(): Unit
  def pass(): Unit
  /** Per-layer numbers from one traced pass, per call of each layer. */
  def layers(p: PassStats): Map[String, Double] = Map.empty
}

object Workload {
  val Names: Seq[String] = Seq("graph_engines", "release_increments")

  def apply(name: String, ctx: Ctx): Workload = name match {
    // The paper pipeline, the op, runs last in a pass: the point of the
    // pass where the JIT has compiled the most of Spark's driver code.
    case "graph_engines" => new Composite(ctx, new GraphAnalytics(ctx), new PageRankPaper(ctx))
    case "release_increments" => new ReleaseIncrements(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  /** Spans named `name` in a traced pass. */
  def named(p: PassStats, name: String): Seq[SpanRecord] = p.spans.filter(_.span.name == name)

  def mb(bytes: Long): Double = bytes / 1e6

  /** Order-independent fingerprint of a collected result. */
  def fingerprint(rows: Array[Row]): (Int, Int) =
    (rows.length, MurmurHash3.unorderedHash(rows.iterator.map(_.mkString("|"))))

  def total(spans: Seq[SpanRecord])(f: SpanRecord => Double): Double = spans.map(f).sum

  /** Mean of `f` per call of a layer within one pass (0 if never called). */
  def perCall(spans: Seq[SpanRecord])(f: SpanRecord => Double): Double =
    if (spans.isEmpty) 0.0 else total(spans)(f) / spans.size
}

import Workload._

/** Runs its parts one after the other in every phase. */
final class Composite(ctx: Ctx, parts: Workload*) extends Workload(ctx) {
  def setup(dir: Path): Unit = parts.foreach(_.setup(dir))
  override def build(): Unit = parts.foreach(_.build())
  def warmUp(): Unit = parts.foreach(_.warmUp())
  def pass(): Unit = parts.foreach(_.pass())
  override def layers(p: PassStats): Map[String, Double] = parts.map(_.layers(p)).reduce(_ ++ _)
}

/** The paper's pipeline on a WikiData-shaped graph: text scan → prepare
  * (degrees + persisted linked edges) → iterate to convergence → top-100
  * → `[page] [score]` text sink; one op is one pipeline run. Each pass
  * first runs the GraphX engine on the same file (not an op sample); the
  * pipeline's check compares the two engines. Driver- and barrier-bound.
  */
final class PageRankPaper(ctx: Ctx) extends Workload(ctx) {
  private val params = PageRank.Params(beta = 0.85, delta = 1e-5)
  private var input: Path = _
  private var out: Path = _
  private var ref: Reference.Ranks = _
  private var gxRanks = Map.empty[Long, Double]

  def setup(dir: Path): Unit = {
    val e = Gen.wikiLike(ctx.seed)
    input = dir.resolve("wiki.txt")
    out = dir.resolve("result")
    Gen.writeEdges(input, e)
    ref = Reference.pageRank(e, params.beta, params.delta, params.maxIter)
  }

  private def collect(r: PageRank.RankResult): Map[Long, Double] =
    r.ranks.collect().iterator.map(row => row.getLong(0) -> row.getDouble(1)).toMap

  private def pipeline(measureHeap: Boolean): Unit = ctx.runOp("pagerank_paper.op", measureHeap = measureHeap) {
    val edges = tr.span("pagerank.load")(PageRank.edgesFromText(spark, input.toString))
    val g = tr.span("pagerank.prepare")(PageRank.prepare(edges))
    val res = ctx.keep(try tr.span("pagerank.iterate") {
      val r = PageRank.runOn(spark, g, params)
      tr.attr("iterations", r.iterations)
      r
    } finally g.unpersist())
    val top = tr.span("pagerank.topk")(PageRank.topK(res.ranks, 100))
    tr.span("io.sink")(Sinks.writeResultText(top, out.toString))
    () => {
      checkSink(res.iterations)
      val df = collect(res)
      expect(df.size == ref.ids.length && l1(df, ref.byId) <= 1e-9, s"DataFrame vs oracle: ${df.size} ranks, L1 ${l1(df, ref.byId)}")
      expect(gxRanks.size == df.size && l1(df, gxRanks) <= 1e-9,
        s"DataFrame vs GraphX: ${gxRanks.size} ranks, L1 ${l1(df, gxRanks)}")
    }
  }

  /** Sum of |a - b| over a's ids (NaN where b lacks one). */
  private def l1(a: Map[Long, Double], b: Map[Long, Double]): Double =
    a.iterator.map { case (id, r) => math.abs(r - b.getOrElse(id, Double.NaN)) }.sum

  /** The sink's lines against the dense oracle: order, scores, rounds. */
  private def checkSink(iterations: Int): Unit = {
    import scala.jdk.CollectionConverters._
    expect(iterations == ref.iterations, s"iterations $iterations, oracle ${ref.iterations}")
    val part = Files.list(out).iterator().asScala.find(_.getFileName.toString.startsWith("part-"))
    expect(part.isDefined, s"no part file under $out")
    val Line = """\[(\d+)\] \[(.+)\]""".r
    val got = Files.readAllLines(part.get).asScala.toSeq.map {
      case Line(id, score) => (id.toLong, score.toDouble)
      case l => throw new WrongOutput(s"malformed sink line '$l'")
    }
    val want = ref.top(100)
    expect(got.size == want.size, s"${got.size} sink lines, want ${want.size}")
    got.zip(want).zipWithIndex.foreach { case (((id, score), (wid, wscore)), i) =>
      val refScore = ref.byId.getOrElse(id, Double.NaN)
      expect(math.abs(score - refScore) <= 1e-9, s"rank of $id: $score vs oracle $refScore")
      expect(id == wid || math.abs(refScore - wscore) <= 1e-12, s"position $i: $id, oracle $wid")
    }
  }

  /** GraphX on the same file, before the pipeline: its ranks are kept for
    * the pipeline's DataFrame-vs-GraphX check.
    */
  private def graphx(): Unit = ctx.runOp("pagerank_paper.graphx", sample = false) {
    val edges = PageRank.edgesFromText(spark, input.toString)
    val gx = ctx.keep(tr.span("graphx.run")(PageRankGraphX.run(spark, edges, params)))
    () => {
      gxRanks = Map.empty
      expect(gx.iterations == ref.iterations, s"GraphX iterations ${gx.iterations}, oracle ${ref.iterations}")
      gxRanks = collect(gx)
    }
  }

  def warmUp(): Unit = { graphx(); pipeline(measureHeap = false) }

  def pass(): Unit = { graphx(); pipeline(measureHeap = true) }

  override def layers(p: PassStats): Map[String, Double] = {
    val sink = named(p, "io.sink")
    val prep = named(p, "pagerank.prepare")
    val it = named(p, "pagerank.iterate")
    val gx = named(p, "graphx.run")
    val iters = total(it)(_.span.attrs.getOrElse("iterations", 0.0))
    def perIter(x: Double) = if (iters > 0) x / iters else 0.0
    Map(
      "io.sink_s" -> perCall(sink)(_.span.wallS),
      "io.sink_mb" -> perCall(sink)(r => mb(r.c.outBytes)),
      "pagerank.prepare_s" -> perCall(prep)(_.span.wallS),
      "pagerank.prepare_jobs" -> perCall(prep)(_.c.jobs.toDouble),
      "pagerank.prepare_shuffle_mb" -> perCall(prep)(r => mb(r.c.shuffleWrite)),
      "pagerank.iterate_s" -> perCall(it)(_.span.wallS),
      "pagerank.iterations" -> perCall(it)(_.span.attrs.getOrElse("iterations", 0.0)),
      "pagerank.iter_s" -> perIter(total(it)(_.span.wallS)),
      "pagerank.jobs_per_iter" -> perIter(total(it)(_.c.jobs.toDouble)),
      "pagerank.tasks_per_iter" -> perIter(total(it)(_.c.tasks.toDouble)),
      "pagerank.iterate_shuffle_mb" -> perCall(it)(r => mb(r.c.shuffleWrite)),
      "pagerank.iterate_cpu_s" -> perCall(it)(_.c.cpuNs / 1e9),
      "pagerank.iterate_idle_s" -> perCall(it)(_.idleS),
      "pagerank.topk_s" -> perCall(named(p, "pagerank.topk"))(_.span.wallS),
      "graphx.run_s" -> perCall(gx)(_.span.wallS),
      "graphx.jobs" -> perCall(gx)(_.c.jobs.toDouble),
      "graphx.shuffle_mb" -> perCall(gx)(r => mb(r.c.shuffleWrite)),
      "graphx.cpu_s" -> perCall(gx)(_.c.cpuNs / 1e9),
      "graphx.gc_s" -> perCall(gx)(_.c.gcMs / 1e3))
  }
}

/** The other graph engines on seeded inputs shaped like their Bench legs'
  * (g3 co-order triangles; g8 label propagation, g6 shortest paths and
  * connected components on the part↔supplier network; g7 k-core on its
  * small-lot lanes; g13 SCC on a directed trade graph). Each engine call
  * is its own op, kept out of the latency samples.
  */
final class GraphAnalytics(ctx: Ctx) extends Workload(ctx) {
  val Orders = 3000
  val Parts = 1000
  val SupplyParts = 1000
  val Suppliers = 100
  val TradeCore = 20
  val TradeSatellites = 5
  val Engines = Seq("triangles", "lpa", "scc", "sssp", "kcore", "cc")

  private var dir: Path = _
  private var refTriangles = 0L
  private val expected = mutable.Map.empty[String, (Int, Int)]

  def setup(d: Path): Unit = {
    dir = d
    val lines = Gen.orderLines(ctx.seed, Orders, Parts)
    Gen.writeEdges(dir.resolve("orderlines.txt"), lines)
    val (lanes, w) = Gen.supplyLanes(ctx.seed, SupplyParts, Suppliers)
    Gen.writeLines(dir.resolve("lanes.txt"),
      Iterator.range(0, lanes.size).map(i => s"${lanes.src(i)}\t${lanes.dst(i)}\t${w(i)}"))
    // Shortest-path sources: the five lowest part ids (g6 uses parts 1-5).
    Gen.writeLines(dir.resolve("sources.txt"), lanes.src.distinct.sorted.take(5).iterator.map(_.toString))
    Gen.writeEdges(dir.resolve("trade.txt"), Gen.tradeGraph(ctx.seed, TradeCore, TradeSatellites))
    refTriangles = Reference.triangles(Reference.coOccurrence(lines))
  }

  private def edges(file: String) = ctx.readTsv(dir.resolve(file), "src LONG, dst LONG")
  private def lanes = ctx.readTsv(dir.resolve("lanes.txt"), "src LONG, dst LONG, w LONG")

  /** One engine call as an op: the span covers the call and collecting
    * its result; the check compares the result's fingerprint with the
    * first run's, plus `extra` against an oracle.
    */
  private def engine(name: String, measureHeap: Boolean = false)(result: => DataFrame)(
      extra: Array[Row] => Unit = _ => ()): Unit =
    ctx.runOp(s"graph_analytics.$name", sample = false, measureHeap = measureHeap) {
      val rows = tr.span(name)(ctx.keep(result).collect())
      () => {
        extra(rows)
        val got = fingerprint(rows)
        val want = expected.getOrElseUpdate(name, got)
        expect(got == want, s"$name fingerprint $got differs from the first run's $want")
      }
    }

  private def run(): Unit = {
    val rel = edges("orderlines.txt").toDF("o", "p")
    engine("triangles", measureHeap = true)(Motifs.triangleStats(Motifs.coOccurrence(rel, "o", "p"))) { rows =>
      val n = rows.head.getAs[Long]("n_triangles")
      expect(n == refTriangles, s"triangles $n, oracle $refTriangles")
    }
    val pairs = lanes.select(col("src"), col("dst"))
    engine("lpa")(LabelPropagation.run(pairs.distinct(), rounds = 4))()
    engine("scc")(Scc.run(edges("trade.txt")))()
    val sym = lanes.unionAll(lanes.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    val sources = ctx.readTsv(dir.resolve("sources.txt"), "id LONG")
    engine("sssp")(ShortestPaths.bellmanFord(sym, sources, rounds = 4))()
    val small = lanes.filter(col("w") <= 3).select(col("src"), col("dst"))
    engine("kcore")(KCore.kCore(small, k = 3, rounds = 6))()
    engine("cc")(ConnectedComponents.run(pairs))()
  }

  def warmUp(): Unit = run()
  def pass(): Unit = run()

  override def layers(p: PassStats): Map[String, Double] =
    Engines.flatMap { e =>
      val s = named(p, e)
      Seq(
        s"$e.s" -> perCall(s)(_.span.wallS),
        s"$e.jobs" -> perCall(s)(_.c.jobs.toDouble),
        s"$e.shuffle_mb" -> perCall(s)(r => mb(r.c.shuffleWrite)),
        s"$e.cpu_s" -> perCall(s)(_.c.cpuNs / 1e9),
        s"$e.idle_s" -> perCall(s)(_.idleS))
    }.toMap
}

/** The release store's write path: every pass copies a template store
  * built from a seeded base corpus, releases `Batches` arriving batches
  * through `ReleaseStore.increment` (one op each), then compacts.
  */
final class ReleaseIncrements(ctx: Ctx) extends Workload(ctx) {
  val BaseDocs = 600
  val BatchDocs = 100
  val Batches = 1
  val DupShare = 0.1
  private val params = ReleaseParams()

  private var dir: Path = _
  private var template: Path = _
  private var batchBytes = Map.empty[Int, Long]
  private var batchIds = Map.empty[Int, Set[Long]]
  private val expected = mutable.Map.empty[Int, Set[(Long, Long, String)]]
  private var passNo = 0

  def setup(d: Path): Unit = {
    dir = d
    val groups = Gen.corpus(ctx.seed, BaseDocs +: Seq.fill(Batches)(BatchDocs), DupShare)
    Gen.writeDocs(dir.resolve("base.tsv"), groups.head)
    for ((b, i) <- groups.tail.zipWithIndex) {
      val k = i + 1
      Gen.writeDocs(dir.resolve(s"batch$k.tsv"), b)
      batchBytes += k -> b.map(_.text.getBytes("UTF-8").length.toLong).sum
      batchIds += k -> b.map(_.id).toSet
    }
  }

  override def build(): Unit = {
    template = dir.resolve("template")
    val rel = ReleaseStore.init(spark, docs("base.tsv"), "doc_id", "text", params, template.toString)
    org.apache.spark.sql.perfbench.SparkAccess.release(rel)
    ctx.sweep()
  }

  private def docs(file: String) = ctx.readTsv(dir.resolve(file), "doc_id LONG, text STRING")

  private def increment(store: Path, k: Int, measureHeap: Boolean): Unit =
    ctx.runOp("release_increments.op", measureHeap = measureHeap) {
      val rows = tr.span("release.increment") {
        val rel = ctx.keep(ReleaseStore.increment(spark, docs(s"batch$k.tsv"), "doc_id", "text",
          params, store.toString))
        val r = rel.select("doc_id", "rep_id", "split").collect()
        tr.attr("released", r.length)
        tr.attr("batch_bytes", batchBytes(k))
        tr.attr("arrived", batchIds(k).size)
        r
      }
      () => {
        val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
        expect(got.size == rows.length, "duplicate released rows")
        expect(got.nonEmpty, s"batch $k released nothing")
        expect(got.forall(r => batchIds(k)(r._1)), s"batch $k released ids outside the batch")
        got.foreach { case (id, rep, split) =>
          expect(split == Reference.splitOf(rep), s"doc $id: split $split, but rep $rep draws ${Reference.splitOf(rep)}")
        }
        val want = expected.getOrElseUpdate(k, got)
        expect(got == want, s"batch $k released ${got.size} rows, differing from the first pass's ${want.size}")
      }
    }

  private def freshStore(): Path = {
    passNo += 1
    val store = dir.resolve(s"store-$passNo")
    ctx.timed("release.copy")(FileTree.copyTree(template, store))
    store
  }

  /** One pass on its own template copy: the template build runs `init`,
    * whose plans differ from `increment`'s and `compact`'s, so without it
    * the measured pass would generate and compile ~200 classes.
    */
  def warmUp(): Unit = run(measureHeap = false)

  def pass(): Unit = run(measureHeap = true)

  private def run(measureHeap: Boolean): Unit = {
    val store = freshStore()
    for (k <- 1 to Batches) increment(store, k, measureHeap = measureHeap && k == Batches)
    ctx.runOp("release_increments.compact", sample = false) {
      tr.span("release.compact")(ReleaseStore.compact(spark, store.toString))
      () => ()
    }
    tr.span("release.store")(tr.attr("store_bytes", FileTree.sizeBytes(store)))
    FileTree.deleteTree(store)
  }

  override def layers(p: PassStats): Map[String, Double] = {
    val inc = named(p, "release.increment")
    val compact = named(p, "release.compact")
    def attr(k: String) = total(inc)(_.span.attrs.getOrElse(k, 0.0))
    Map(
      "release.increment_s" -> perCall(inc)(_.span.wallS),
      "release.jobs" -> perCall(inc)(_.c.jobs.toDouble),
      "release.tasks" -> perCall(inc)(_.c.tasks.toDouble),
      "release.idle_s" -> perCall(inc)(_.idleS),
      "release.input_mb" -> perCall(inc)(r => mb(r.c.inBytes)),
      "release.write_mb" -> perCall(inc)(r => mb(r.c.outBytes)),
      "release.write_amp" -> (if (attr("batch_bytes") > 0) total(inc)(_.c.outBytes.toDouble) / attr("batch_bytes") else 0.0),
      "release.compact_s" -> perCall(compact)(_.span.wallS),
      "release.compact_rewrite_mb" -> perCall(compact)(r => mb(r.c.outBytes)),
      "release.store_mb" -> perCall(named(p, "release.store"))(r => mb(r.span.attrs.getOrElse("store_bytes", 0.0).toLong)),
      "release.keep_ratio" -> (if (attr("arrived") > 0) attr("released") / attr("arrived") else 0.0))
  }
}
