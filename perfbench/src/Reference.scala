package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

/** Plain-Scala oracles (no Spark) the workloads check outputs against. */
object Reference {

  final case class Ranks(ids: Array[Long], rank: Array[Double], iterations: Int) {
    lazy val byId: Map[Long, Double] = ids.iterator.zip(rank.iterator).toMap

    /** Top `k` (id, rank), rank descending, ties by id — `PageRank.topK`'s order. */
    def top(k: Int): Seq[(Long, Double)] =
      ids.indices.sortBy(i => (-rank(i), ids(i))).take(k).map(i => (ids(i), rank(i)))
  }

  /** Dense power iteration of the reference pipeline (`pageRank.py`
    * 116–145): pre_i = β·Σ_{u→i} r_u/deg_u, s = Σ pre, r'_i = pre_i +
    * (1−s)/N — dead-end and spider-trap mass folded back uniformly —
    * until Σ|r' − r| ≤ δ or `maxIter` rounds. Vertices are every id that
    * appears on either side of an edge.
    */
  def pageRank(e: Gen.Edges, beta: Double, delta: Double, maxIter: Int): Ranks = {
    val ids = (e.src.iterator ++ e.dst.iterator).toArray.distinct.sorted
    val index = ids.iterator.zipWithIndex.toMap
    val n = ids.length
    val s = e.src.map(index)
    val d = e.dst.map(index)
    val deg = new Array[Int](n)
    s.foreach(i => deg(i) += 1)
    var r = Array.fill(n)(1.0 / n)
    var iter = 0
    var diff = Double.MaxValue
    while (diff > delta && iter < maxIter) {
      val pre = new Array[Double](n)
      var k = 0
      while (k < s.length) { pre(d(k)) += beta * r(s(k)) / deg(s(k)); k += 1 }
      val corr = (1.0 - pre.sum) / n
      val next = pre.map(_ + corr)
      diff = next.indices.map(i => math.abs(next(i) - r(i))).sum
      r = next
      iter += 1
    }
    Ranks(ids, r, iter)
  }

  /** Undirected co-occurrence edges (a < b) of a (group, item) relation. */
  def coOccurrence(rel: Gen.Edges): Set[(Long, Long)] = {
    val groups = rel.src.indices.groupBy(rel.src(_)).values
    groups.iterator.flatMap { idx =>
      val items = idx.map(rel.dst).distinct.sorted
      for (i <- items.indices.iterator; j <- (i + 1 until items.size).iterator)
        yield (items(i), items(j))
    }.toSet
  }

  /** Triangles of an undirected simple graph: each edge oriented from
    * lower to higher (degree, id), then sorted out-lists intersected.
    */
  def triangles(edges: Set[(Long, Long)]): Long = {
    val deg = mutable.HashMap.empty[Long, Int].withDefaultValue(0)
    edges.foreach { case (a, b) => deg(a) += 1; deg(b) += 1 }
    def lower(a: Long, b: Long) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val out = edges.toSeq
      .map { case (a, b) => if (lower(a, b)) (a, b) else (b, a) }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    out.iterator.map { case (_, nbrs) =>
      nbrs.iterator.map(w => out.get(w).map(ws => ws.count(nbrs)).getOrElse(0).toLong).sum
    }.sum
  }

  /** The release split drawn on a cluster rep: bucket = first 15 hex digits
    * of md5("split:" + rep) mod 10; 0–7 train, 8 val, 9 test.
    */
  def splitOf(rep: Long): String = {
    val hex = MessageDigest.getInstance("MD5").digest(s"split:$rep".getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
    val bucket = java.lang.Long.parseLong(hex.substring(0, 15), 16) % 10
    if (bucket < 8) "train" else if (bucket == 8) "val" else "test"
  }
}
