package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Each one is a pure function of its seed and
  * sizes: the same arguments give the same rows and byte-identical files,
  * and the program under test only ever sees those files.
  *
  * The graph generators draw their structure from [[StructureSeed]] and
  * use the run's seed to choose the vertex ids, in the same order: every
  * seed gives a different file (ids, hash placement, row order) over the
  * same shape, and min-label propagation (CC, SCC, label propagation)
  * meets the vertices in the same order, so the number of fixpoint
  * rounds — and with it the work — does not swing from seed to seed.
  */
object Gen {

  val StructureSeed = 0x5EEDL

  def rng(seed: Long, salt: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt.hashCode.toLong)

  /** `n` ascending ids drawn by `seed` from [from, from + span); the i-th
    * structural vertex gets the i-th.
    */
  private def labels(seed: Long, salt: String, n: Int, from: Long, span: Int): Array[Long] =
    shuffled(rng(seed, salt), Array.range(0, span).map(from + _)).take(n).sorted

  final case class Edges(src: Array[Long], dst: Array[Long]) {
    def size: Int = src.length
  }

  final case class Doc(id: Long, text: String)

  def writeLines(path: Path, lines: Iterator[String]): Unit = {
    Files.createDirectories(path.getParent)
    val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(path), UTF_8))
    try lines.foreach { l => w.write(l); w.write('\n') }
    finally w.close()
  }

  /** `src<TAB>dst` per line — the WikiData.txt format `PageRank.edgesFromText` reads. */
  def writeEdges(path: Path, e: Edges): Unit =
    writeLines(path, Iterator.range(0, e.size).map(i => s"${e.src(i)}\t${e.dst(i)}"))

  private def shuffled(r: SplittableRandom, xs: Array[Long]): Array[Long] = {
    val a = xs.clone()
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** Index drawn from cumulative weights `cum` (last element = total). */
  private def draw(r: SplittableRandom, cum: Array[Double]): Int = {
    val x = r.nextDouble() * cum(cum.length - 1)
    val i = java.util.Arrays.binarySearch(cum, x)
    math.min(cum.length - 1, if (i >= 0) i + 1 else -i - 1)
  }

  private def zipfCum(n: Int, exponent: Double): Array[Double] = {
    val cum = new Array[Double](n)
    var acc = 0.0
    for (i <- 0 until n) { acc += math.pow(i + 1.0, -exponent); cum(i) = acc }
    cum
  }

  /** Directed graph shaped like WikiData.txt (FIXTURES.md §1): sparse ids
    * in [3, idSpan], dead ends (in-degree only), source-only vertices,
    * power-law out-degree capped at `maxOut`, Zipf-popular destinations,
    * no duplicate edges, no self-loops. Sorted by (src, dst).
    */
  def wikiLike(
      seed: Long, nVerts: Int = 7115, nDeadEnds: Int = 1005,
      nSourceOnly: Int = 4734, nEdges: Int = 103689, maxOut: Int = 893,
      idSpan: Int = 8297): Edges = {
    val r = rng(StructureSeed, "wiki")
    val ids = labels(seed, "wiki-ids", nVerts, 3, idSpan - 2)
    val roles = shuffled(r, Array.range(0, nVerts).map(_.toLong))
    val deadEnds = roles.take(nDeadEnds)
    val sourceOnly = roles.slice(nDeadEnds, nDeadEnds + nSourceOnly)
    val both = roles.drop(nDeadEnds + nSourceOnly)
    val sources = shuffled(r, sourceOnly ++ both)
    val dests = shuffled(r, deadEnds ++ both)
    // Out-degree of the i-th source ~ c·i^-0.9, c bisected so the capped
    // degrees sum to about nEdges.
    val cap = math.min(maxOut, dests.length - 1)
    def degs(c: Double) = Array.tabulate(sources.length)(i =>
      math.max(1, math.min(cap, math.round(c * math.pow(i + 1.0, -0.9)).toInt)))
    var lo = 0.0
    var hi = nEdges.toDouble
    for (_ <- 0 until 60) {
      val mid = (lo + hi) / 2
      if (degs(mid).sum < nEdges) lo = mid else hi = mid
    }
    val deg = degs(lo)
    val cum = zipfCum(dests.length, 1.0)
    val src = mutable.ArrayBuilder.make[Long]
    val dst = mutable.ArrayBuilder.make[Long]
    for (i <- sources.indices) {
      val s = sources(i)
      val picked = mutable.TreeSet.empty[Long]
      var tries = 0
      while (picked.size < deg(i) && tries < 64 * deg(i)) {
        val d = dests(draw(r, cum))
        if (d != s) picked += d
        tries += 1
      }
      var j = 0 // a hub's tail: fill from the least popular destinations
      while (picked.size < deg(i)) {
        val d = dests(dests.length - 1 - j)
        if (d != s) picked += d
        j += 1
      }
      picked.foreach { d => src += ids(s.toInt); dst += ids(d.toInt) }
    }
    sortEdges(Edges(src.result(), dst.result()))
  }

  private def sortEdges(e: Edges): Edges = {
    val order = e.src.indices.sortBy(i => (e.src(i), e.dst(i)))
    Edges(order.map(e.src).toArray, order.map(e.dst).toArray)
  }

  /** Order lines `(order, part)`, 1–7 distinct parts per order drawn
    * uniformly — the lineitem relation whose co-order projection is the
    * g3 triangle leg's graph.
    */
  def orderLines(seed: Long, nOrders: Int, nParts: Int): Edges = {
    val r = rng(StructureSeed, "orders")
    val orderId = labels(seed, "order-ids", nOrders, 1, 4 * nOrders)
    val partId = labels(seed, "part-ids", nParts, 1, 4 * nParts)
    val o = mutable.ArrayBuilder.make[Long]
    val p = mutable.ArrayBuilder.make[Long]
    for (order <- 0 until nOrders) {
      val lines = mutable.TreeSet.empty[Int]
      val n = 1 + r.nextInt(7)
      while (lines.size < n) lines += r.nextInt(nParts)
      lines.foreach { part => o += orderId(order); p += partId(part) }
    }
    Edges(o.result(), p.result())
  }

  /** Part↔supplier lanes `(2·part, 2·supp+1, min quantity)` — the g6/g8
    * supply network's encoding. Each part has four suppliers (the TPC-H
    * partsupp rule) and each lane's weight is the minimum quantity over
    * 1–4 shipments of 1–50 units.
    */
  def supplyLanes(seed: Long, nParts: Int, nSupp: Int): (Edges, Array[Long]) = {
    val r = rng(StructureSeed, "supply")
    val partId = labels(seed, "part-ids", nParts, 1, 4 * nParts)
    val suppId = labels(seed, "supp-ids", nSupp, 1, 4 * nSupp)
    val src = mutable.ArrayBuilder.make[Long]
    val dst = mutable.ArrayBuilder.make[Long]
    val w = mutable.ArrayBuilder.make[Long]
    for (p <- 1 to nParts; i <- 0 until 4) {
      val s = (p + i * (nSupp / 4 + (p - 1) / nSupp)) % nSupp + 1
      val shipments = 1 + r.nextInt(4)
      src += 2L * partId(p - 1); dst += 2L * suppId(s - 1) + 1
      w += (0 until shipments).map(_ => 1L + r.nextInt(50)).min
    }
    (Edges(src.result(), dst.result()), w.result())
  }

  /** Directed trade graph for SCC: a core with out-degree 3 (one giant
    * strongly connected component with high probability), plus one-way
    * satellite vertices that only send into the core.
    */
  def tradeGraph(seed: Long, nCore: Int, nSatellites: Int): Edges = {
    val r = rng(StructureSeed, "trade")
    val id = labels(seed, "trade-ids", nCore + nSatellites, 0, 4 * (nCore + nSatellites))
    val pairs = mutable.LinkedHashSet.empty[(Long, Long)]
    for (v <- 0 until nCore; _ <- 0 until 3) {
      val u = r.nextInt(nCore)
      if (u != v) pairs += ((id(v), id(u)))
    }
    for (v <- nCore until nCore + nSatellites; _ <- 0 to r.nextInt(2))
      pairs += ((id(v), id(r.nextInt(nCore))))
    Edges(pairs.iterator.map(_._1).toArray, pairs.iterator.map(_._2).toArray)
  }

  /** The sf0.1 `documents` vocabulary: 30 equally likely words, two of
    * them stopwords (so the release gate keeps about half the docs).
    */
  val Vocabulary: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")

  /** A corpus in consecutive groups (a base, then each batch), 10–100
    * words per doc. A `dupShare` fraction are near-duplicates: a copy of an
    * earlier doc (of any group so far) with one word replaced by `dup`.
    * Like the graphs, the texts come from [[StructureSeed]] and the run's
    * seed draws the doc ids, ascending across groups (each batch's ids
    * exceed all earlier ones): every seed gives different ids, hash
    * placement and splits over the same texts, so the near-duplicate
    * clusters — and with them the release chain's work — do not swing
    * from seed to seed.
    */
  def corpus(seed: Long, sizes: Seq[Int], dupShare: Double): Seq[IndexedSeq[Doc]] = {
    val r = rng(StructureSeed, "docs")
    val texts = mutable.ArrayBuffer.empty[Array[String]]
    for (_ <- 0 until sizes.sum) {
      texts += (
        if (texts.nonEmpty && r.nextDouble() < dupShare) {
          val base = texts(r.nextInt(texts.size)).clone()
          base(r.nextInt(base.length)) = "dup"
          base
        } else Array.fill(10 + r.nextInt(91))(Vocabulary(r.nextInt(Vocabulary.length))))
    }
    val ids = labels(seed, "doc-ids", texts.size, 1L, texts.size * DocIdSpread)
    val docs = texts.indices.map(i => Doc(ids(i), texts(i).mkString(" ")))
    sizes.scanLeft(0)(_ + _).sliding(2).map { case Seq(from, until) => docs.slice(from, until) }.toSeq
  }

  /** Doc ids are drawn from a span this many times the corpus size. */
  val DocIdSpread = 8

  def writeDocs(path: Path, docs: Seq[Doc]): Unit =
    writeLines(path, docs.iterator.map(d => s"${d.id}\t${d.text}"))
}
