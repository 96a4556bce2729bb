package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.SparkAccess

/** Tests of the benchmark's own metric code. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on a failure.
  */
object SelfTest {
  private val results = mutable.ArrayBuffer.empty[(String, Option[String])]

  private def test(name: String)(body: => Unit): Unit = {
    val r = try { body; None } catch { case NonFatal(t) => Some(s"${t.getClass.getSimpleName}: ${t.getMessage}") }
    results += name -> r
    println(r.fold(s"PASS $name")(m => s"FAIL $name: $m"))
  }

  private def eq[T](got: T, want: T, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  def main(args: Array[String]): Unit = {
    val tmp = Paths.get(args.headOption.getOrElse(".bench_build/work/selftest")).toAbsolutePath
    Files.createDirectories(tmp)

    test("tail percentile: highest percentile with at least 10 samples beyond it") {
      eq(Stats.tailPercentile(1000), 99, "n=1000")
      eq(Stats.tailPercentile(200), 95, "n=200")
      eq(Stats.tailPercentile(100), 90, "n=100")
      eq(Stats.tailPercentile(40), 75, "n=40")
      eq(Stats.tailPercentile(20), 50, "n=20")
      for (n <- 20 to 2000) {
        val p = Stats.tailPercentile(n)
        if (Stats.beyond(n, p) < 10) throw new AssertionError(s"n=$n: p$p has ${Stats.beyond(n, p)} beyond")
        if (p < 99 && Stats.beyond(n, p + 1) >= 10) throw new AssertionError(s"n=$n: p${p + 1} also qualifies")
      }
    }

    test("tail percentile: falls back to the median below 20 samples") {
      eq(Stats.tailPercentile(19), 50, "n=19")
      eq(Stats.tailPercentile(1), 50, "n=1")
      val t = Stats.tail((1 to 5).map(_.toDouble))
      eq((t.value, t.pct, t.n, t.beyond), (3.0, 50, 5, 2), "tail of 1..5")
      val two = Stats.tail(Seq(5.0, 4.0))
      eq((two.value, two.pct), (4.5, 50), "tail of two samples is their median")
    }

    test("tail value is the nearest-rank sample") {
      val xs = (1 to 100).map(_.toDouble).reverse
      val t = Stats.tail(xs)
      eq((t.value, t.pct, t.beyond), (90.0, 90, 10), "tail of 1..100")
      eq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5, "median")
    }

    test("busy-interval union") {
      eq(Stats.busyUnion(Nil, 0, 100), 0L, "empty")
      eq(Stats.busyUnion(Seq((10L, 20L), (15L, 30L)), 0, 100), 20L, "overlap")
      eq(Stats.busyUnion(Seq((10L, 20L), (20L, 30L)), 0, 100), 20L, "touching")
      eq(Stats.busyUnion(Seq((10L, 20L), (40L, 50L)), 0, 100), 20L, "disjoint")
      eq(Stats.busyUnion(Seq((10L, 90L), (20L, 30L)), 0, 100), 80L, "nested")
      eq(Stats.busyUnion(Seq((-50L, 10L), (95L, 200L)), 0, 100), 15L, "clipped to the span")
      eq(Stats.busyUnion(Seq((200L, 300L)), 0, 100), 0L, "outside the span")
    }

    test("seeded generators are byte-identical per seed and differ across seeds") {
      def files(seed: Long, dir: Path): Seq[Array[Byte]] = {
        Gen.writeEdges(dir.resolve("wiki.txt"), Gen.wikiLike(seed))
        Gen.writeEdges(dir.resolve("orders.txt"), Gen.orderLines(seed, 500, 200))
        val (lanes, w) = Gen.supplyLanes(seed, 300, 40)
        Gen.writeLines(dir.resolve("lanes.txt"), lanes.src.indices.iterator.map(i => s"${lanes.src(i)}\t${lanes.dst(i)}\t${w(i)}"))
        Gen.writeEdges(dir.resolve("trade.txt"), Gen.tradeGraph(seed, 20, 5))
        Gen.writeDocs(dir.resolve("docs.tsv"), Gen.corpus(seed, Seq(200, 50), 0.1).flatten)
        Seq("wiki.txt", "orders.txt", "lanes.txt", "trade.txt", "docs.tsv").map(f => Files.readAllBytes(dir.resolve(f)))
      }
      val a = files(7, tmp.resolve("gen-a"))
      val b = files(7, tmp.resolve("gen-b"))
      val c = files(8, tmp.resolve("gen-c"))
      a.zip(b).zipWithIndex.foreach { case ((x, y), i) =>
        if (!java.util.Arrays.equals(x, y)) throw new AssertionError(s"file $i differs for the same seed")
      }
      a.zip(c).zipWithIndex.foreach { case ((x, y), i) =>
        if (java.util.Arrays.equals(x, y)) throw new AssertionError(s"file $i is the same for another seed")
      }
    }

    test("WikiData-shaped generator keeps the file's shape") {
      val e = Gen.wikiLike(3)
      val pairs = e.src.indices.map(i => (e.src(i), e.dst(i)))
      eq(pairs.distinct.size, pairs.size, "duplicate edges")
      eq(pairs.count { case (s, d) => s == d }, 0, "self-loops")
      val verts = (e.src ++ e.dst).toSet
      val deadEnds = e.dst.toSet -- e.src.toSet
      if (math.abs(e.size - 103689) > 2000) throw new AssertionError(s"${e.size} edges")
      if (verts.size > 7115 || verts.size < 6900) throw new AssertionError(s"${verts.size} vertices")
      if (deadEnds.size < 900) throw new AssertionError(s"${deadEnds.size} dead ends")
    }

    test("oracles: dense PageRank and triangle count on known graphs") {
      val cycle = Reference.pageRank(Gen.Edges(Array(1L, 2L), Array(2L, 1L)), 0.85, 1e-12, 100)
      eq(cycle.rank.map(r => math.round(r * 1e9) / 1e9).toSeq, Seq(0.5, 0.5), "two-cycle ranks")
      val chain = Reference.pageRank(Gen.Edges(Array(1L, 2L), Array(2L, 3L)), 0.85, 1e-12, 200)
      if (math.abs(chain.rank.sum - 1.0) > 1e-12) throw new AssertionError(s"dead-end chain mass ${chain.rank.sum}")
      val k4 = (for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)).toSet
      eq(Reference.triangles(k4), 4L, "K4 triangles")
      val rel = Gen.Edges(Array(1L, 1L, 1L, 2L, 2L), Array(10L, 11L, 12L, 12L, 13L))
      eq(Reference.coOccurrence(rel), Set((10L, 11L), (10L, 12L), (11L, 12L), (12L, 13L)), "co-occurrence")
      val splits = (0L until 1000L).map(Reference.splitOf).groupBy(identity).map { case (k, v) => k -> v.size }
      if (splits.keySet != Set("train", "val", "test") || splits("train") < 700 || splits("train") > 900)
        throw new AssertionError(s"split draw shares $splits")
    }

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      test("span attribution of jobs, stages and tasks via the local property") {
        val sc = spark.sparkContext
        val rec = new Recorder
        sc.addSparkListener(rec)
        val tr = new Tracer(sc)
        tr.enabled = true
        val (_, root) = tr.always("root") {
          tr.op("op") {
            tr.span("plain")(sc.parallelize(1 to 1000, 3).count())
            tr.span("outer") {
              tr.span("inner")(sc.parallelize(1 to 1000, 3).map(x => (x % 7, 1)).reduceByKey(_ + _, 2).count())
            }
          }
        }
        SparkAccess.drain(sc)
        val byName = tr.closed.map(s => s.name -> s).toMap
        val tree = new SpanTree(tr.closed.toSeq, rec)
        val plain = rec.counters(byName("plain").id)
        val inner = rec.counters(byName("inner").id)
        eq((plain.jobs, plain.stages, plain.tasks, plain.shuffleWrite), (1L, 1L, 3L, 0L), "plain jobs/stages/tasks/shuffle")
        eq((inner.jobs, inner.stages, inner.tasks), (1L, 2L, 5L), "inner jobs/stages/tasks")
        if (inner.shuffleWrite <= 0 || inner.shuffleRead <= 0) throw new AssertionError("inner shuffle not attributed")
        eq(rec.counters(byName("outer").id).jobs, 0L, "outer exclusive jobs")
        val outerIncl = tree.inclusive(byName("outer"))
        eq((outerIncl.jobs, outerIncl.tasks), (inner.jobs, inner.tasks), "outer inclusive = inner")
        val all = tree.inclusive(root)
        eq(all.tasks, plain.tasks + inner.tasks, "root inclusive tasks")
        eq(rec.counters(0L).jobs, 0L, "unattributed jobs")
        eq(Set(byName("plain").op, byName("inner").op, byName("outer").op), Set(byName("op").op), "one op id")
        eq(byName("inner").parent, byName("outer").id, "inner's parent")
        val idle = tree.idleS(byName("outer"))
        if (idle < 0 || idle > byName("outer").wallS + 1e-3) throw new AssertionError(s"idle $idle")
        eq(sc.getLocalProperty(Recorder.SpanKey), null, "property cleared after the last span")
        sc.removeSparkListener(rec)
      }

      test("SQL jobs, broadcast builds included, land on the open span") {
        import org.apache.spark.sql.functions.{broadcast, col}
        val sc = spark.sparkContext
        val rec = new Recorder
        sc.addSparkListener(rec)
        val tr = new Tracer(sc)
        tr.enabled = true
        val a = spark.range(0, 10000, 1, 4).select((col("id") % 100).as("k"))
        val b = spark.range(0, 100).select(col("id").as("k"))
        tr.op("op")(tr.span("sql")(a.join(broadcast(b), "k").groupBy("k").count().collect()))
        SparkAccess.drain(sc)
        val sql = rec.counters(tr.closed.find(_.name == "sql").get.id)
        if (sql.jobs < 2) throw new AssertionError(s"${sql.jobs} jobs on the span")
        eq(rec.counters(0L).tasks, 0L, "unattributed tasks")
        sc.removeSparkListener(rec)
      }
    } finally spark.stop()

    val failed = results.count(_._2.isDefined)
    println(s"selftest: ${results.size - failed} passed, $failed failed")
    if (failed > 0) sys.exit(1)
  }
}
