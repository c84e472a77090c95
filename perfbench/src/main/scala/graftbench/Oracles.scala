package graftbench

import java.util.Arrays

import scala.collection.mutable

/** Sequential driver-side oracles the benchmark checks the engine against.
  * They share no code with the engine: plain arrays, one thread.
  */
object Oracles {

  /** Distinct arcs over dense vertex indices: `ids` are the sorted distinct
    * endpoints, `src`/`dst` index into them, sorted by (src, dst).
    */
  final class Arcs(pairs: Array[(Long, Long)]) {
    private val uniq = pairs.distinct.sorted
    val ids: Array[Long] = uniq.flatMap(p => Array(p._1, p._2)).distinct.sorted
    val n: Int = ids.length
    val src: Array[Int] = uniq.map(p => index(p._1))
    val dst: Array[Int] = uniq.map(p => index(p._2))
    def m: Int = src.length
    def index(id: Long): Int = Arrays.binarySearch(ids, id)

    /** CSR offsets of each vertex's out-arcs (arcs are sorted by src). */
    def offsets: Array[Int] = {
      val off = new Array[Int](n + 1)
      src.foreach(v => off(v + 1) += 1)
      for (i <- 0 until n) off(i + 1) += off(i)
      off
    }
  }

  /** Power-iteration PageRank with dangling mass spread uniformly; stops
    * once the L1 change drops below `tol` or after `maxIter` supersteps.
    */
  def pageRank(g: Arcs, alpha: Double, tol: Double, maxIter: Int): (Array[Double], Int) = {
    val deg = new Array[Int](g.n)
    g.src.foreach(s => deg(s) += 1)
    var r = Array.fill(g.n)(1.0 / g.n)
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      iter += 1
      var dangling = 0.0
      for (v <- 0 until g.n if deg(v) == 0) dangling += r(v)
      val next = Array.fill(g.n)((1.0 - alpha) / g.n + alpha * dangling / g.n)
      for (k <- 0 until g.m) next(g.dst(k)) += alpha * r(g.src(k)) / deg(g.src(k))
      var delta = 0.0
      for (v <- 0 until g.n) delta += math.abs(next(v) - r(v))
      r = next
      done = delta < tol
    }
    (r, iter)
  }

  /** Min-id component label of every vertex (union-find, arcs undirected). */
  def components(g: Arcs): Array[Long] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    for (k <- 0 until g.m) {
      val a = find(g.src(k)); val b = find(g.dst(k))
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    // Roots are the smallest index of their set, and index order is id order.
    Array.tabulate(g.n)(v => g.ids(find(v)))
  }

  /** Undirected simple neighbour lists (self-loops dropped), sorted. */
  def undirected(g: Arcs): Array[Array[Int]] = {
    val nb = Array.fill(g.n)(mutable.ArrayBuilder.make[Int])
    for (k <- 0 until g.m if g.src(k) != g.dst(k)) { nb(g.src(k)) += g.dst(k); nb(g.dst(k)) += g.src(k) }
    nb.map(_.result().distinct.sorted)
  }

  /** Synchronous label propagation: each round every vertex with neighbours
    * takes the most frequent neighbour label, ties to the smallest label;
    * stops when no label changes or after `maxIter` rounds.
    */
  def labelPropagation(g: Arcs, maxIter: Int): (Array[Long], Int) = {
    val nb = undirected(g)
    var label = g.ids.clone()
    var iter = 0
    var changed = true
    while (changed && iter < maxIter) {
      iter += 1
      changed = false
      val next = label.clone()
      for (v <- 0 until g.n if nb(v).nonEmpty) {
        val votes = nb(v).groupBy(u => label(u)).map { case (l, us) => (l, us.length) }
        val best = votes.toSeq.minBy { case (l, c) => (-c, l) }._1
        if (best != label(v)) { next(v) = best; changed = true }
      }
      label = next
    }
    (label, iter)
  }

  /** Triangles of the undirected simple graph, by sorted-list intersection
    * of higher-numbered neighbours.
    */
  def triangles(g: Arcs): Long = {
    val up = undirected(g).zipWithIndex.map { case (ns, v) => ns.filter(_ > v) }
    var total = 0L
    for (u <- 0 until g.n; v <- up(u)) {
      val a = up(u); val b = up(v)
      var i = 0; var j = 0
      while (i < a.length && j < b.length) {
        if (a(i) < b(j)) i += 1
        else if (a(i) > b(j)) j += 1
        else { total += 1; i += 1; j += 1 }
      }
    }
    total
  }

  /** Directed BFS from `root`: (distance, smallest predecessor one level
    * up) per reached vertex index; the root is its own predecessor.
    */
  def bfs(g: Arcs, root: Long): Map[Long, (Int, Long)] = {
    val off = g.offsets
    val dist = Array.fill(g.n)(-1)
    val r = g.index(root)
    if (r < 0) return Map(root -> (0, root))
    dist(r) = 0
    var frontier = Array(r)
    var d = 0
    while (frontier.nonEmpty) {
      d += 1
      val next = mutable.ArrayBuilder.make[Int]
      for (u <- frontier; k <- off(u) until off(u + 1)) {
        val v = g.dst(k)
        if (dist(v) < 0) { dist(v) = d; next += v }
      }
      frontier = next.result()
    }
    val pred = Array.fill(g.n)(Long.MaxValue)
    for (k <- 0 until g.m) {
      val u = g.src(k); val v = g.dst(k)
      if (dist(u) >= 0 && dist(v) == dist(u) + 1) pred(v) = math.min(pred(v), g.ids(u))
    }
    (0 until g.n).filter(dist(_) >= 0).map { v =>
      g.ids(v) -> (dist(v), if (v == r) root else pred(v))
    }.toMap
  }

  /** Dense ids LinkExtract assigns: pages numbered in url sort order. */
  def denseIdsByUrl(n: Long): Array[Long] = {
    val byUrl = (0L until n).sortBy(pageUrl(_)).toArray
    val dense = new Array[Long](n.toInt)
    byUrl.zipWithIndex.foreach { case (id, rank) => dense(id.toInt) = rank.toLong }
    dense
  }

  /** The url a generated page id carries (the crawl's host/page layout). */
  def pageUrl(id: Long): String = s"https://site${id / 16}.test/page$id"
}
