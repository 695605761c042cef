package graft.perfbench

import scala.collection.mutable

/** Sequential referee over plain arrays, with the semantics of the
  * engine's test referee (`graft.graph.Referee`) but sized for benchmark
  * inputs: the vertex universe is every edge endpoint, PageRank
  * redistributes dangling mass, components are labelled by their minimum
  * vid, label propagation is synchronous with ties to the minimum label,
  * and triangles are counted per vertex over the undirected loop-free
  * edge set. PageRank takes the engine's convergence cadence: with
  * `checkEvery = k` the stop test runs after each block of k supersteps,
  * on the change across the block (k = 1 is the test referee's rule).
  */
final class RefGraph(edges: Array[(Long, Long)]) {

  /** Sorted distinct endpoints; a vertex's index is its position here. */
  val ids: Array[Long] = (edges.iterator.map(_._1) ++ edges.iterator.map(_._2))
    .toArray.distinct.sorted
  val n: Int = ids.length
  private def ix(v: Long): Int = java.util.Arrays.binarySearch(ids, v)
  private val src = edges.map(e => ix(e._1))
  private val dst = edges.map(e => ix(e._2))

  def pageRank(damping: Double = 0.85, tol: Double, maxIters: Int,
      checkEvery: Int = 1): (Map[Long, Double], Int) = {
    val out = new Array[Int](n)
    src.foreach(s => out(s) += 1)
    var r = Array.fill(n)(1.0 / n)
    var step = 0
    var delta = Double.MaxValue
    while (step < maxIters && delta >= tol) {
      val start = r
      val block = math.min(math.max(1, checkEvery), maxIters - step)
      (0 until block).foreach { _ =>
        var dangling = 0.0
        var v = 0
        while (v < n) { if (out(v) == 0) dangling += r(v); v += 1 }
        val in = new Array[Double](n)
        var k = 0
        while (k < src.length) { in(dst(k)) += r(src(k)) / out(src(k)); k += 1 }
        r = in.map(m => (1.0 - damping) / n + damping * (m + dangling / n))
      }
      if (tol >= 0) delta = r.indices.map(v => math.abs(r(v) - start(v))).max
      step += block
    }
    (ids.indices.map(v => ids(v) -> r(v)).toMap, step)
  }

  def components(): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var a = x
      while (parent(a) != a) { parent(a) = parent(parent(a)); a = parent(a) }
      a
    }
    src.indices.foreach { k =>
      val (a, b) = (find(src(k)), find(dst(k)))
      // the smaller index stays root: roots are the component minima
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    ids.indices.map(v => ids(v) -> ids(find(v))).toMap
  }

  /** Undirected loop-free adjacency, neighbours sorted and distinct. */
  private lazy val adj: Array[Array[Int]] = {
    val b = Array.fill(n)(mutable.ArrayBuilder.make[Int])
    src.indices.foreach { k =>
      if (src(k) != dst(k)) { b(src(k)) += dst(k); b(dst(k)) += src(k) }
    }
    b.map(_.result().distinct.sorted)
  }

  def labelProp(numIters: Int): Map[Long, Long] = {
    var label = ids.clone()
    (0 until numIters).foreach { _ =>
      label = Array.tabulate(n) { v =>
        val ls = adj(v).map(label).sorted
        if (ls.isEmpty) label(v)
        else {
          // runs of equal labels in ascending order: the first longest
          // run is the most frequent label with ties to the minimum
          var best = ls(0); var bestC = 0; var i = 0
          while (i < ls.length) {
            var j = i
            while (j < ls.length && ls(j) == ls(i)) j += 1
            if (j - i > bestC) { best = ls(i); bestC = j - i }
            i = j
          }
          best
        }
      }
    }
    ids.indices.map(v => ids(v) -> label(v)).toMap
  }

  /** Per-vertex triangle counts over vertices with a non-loop edge. */
  def triangles(): Map[Long, Long] = {
    val deg = adj.map(_.length)
    def before(a: Int, b: Int) = deg(a) < deg(b) || (deg(a) == deg(b) && a < b)
    val fwd = Array.tabulate(n)(v => adj(v).filter(w => before(v, w)))
    val count = new Array[Long](n)
    val mark = new Array[Boolean](n)
    (0 until n).foreach { u =>
      fwd(u).foreach(mark(_) = true)
      fwd(u).foreach { v =>
        fwd(v).foreach { w =>
          if (mark(w)) { count(u) += 1; count(v) += 1; count(w) += 1 }
        }
      }
      fwd(u).foreach(mark(_) = false)
    }
    ids.indices.filter(v => deg(v) > 0).map(v => ids(v) -> count(v)).toMap
  }
}
