package perfbench

import scala.collection.mutable

/** Single-process reference implementations the benchmark checks the
  * engine's outputs against. */
object Reference {

  /** PageRank with the engine's update rule (graft.graph.PageRank.run):
    * uniform teleport, dangling mass redistributed uniformly, parallel
    * edges weigh the transition. Runs exactly `iterations` supersteps so a
    * converged engine run and the reference stop at the same step.
    * @return vertex -> rank and the max-abs delta of the last superstep. */
  def pageRank(edges: Array[(Long, Long)], iterations: Int,
               damping: Double = 0.85): (Map[Long, Double], Double) = {
    val ids = (edges.iterator.map(_._1) ++ edges.iterator.map(_._2)).toArray.distinct.sorted
    val n = ids.length
    val ix = ids.zipWithIndex.toMap
    val src = edges.map(e => ix(e._1)); val dst = edges.map(e => ix(e._2))
    val outDeg = new Array[Int](n)
    src.foreach(s => outDeg(s) += 1)
    var rank = Array.fill(n)(1.0 / n)
    var danglingMass = (0 until n).count(outDeg(_) == 0).toDouble / n
    var delta = Double.NaN
    var it = 0
    while (it < iterations) {
      val in = new Array[Double](n)
      var k = 0
      while (k < src.length) { in(dst(k)) += rank(src(k)) / outDeg(src(k)); k += 1 }
      val next = Array.tabulate(n)(v => (1.0 - damping) / n + damping * in(v) + damping * danglingMass / n)
      delta = (0 until n).iterator.map(v => math.abs(next(v) - rank(v))).max
      danglingMass = (0 until n).iterator.filter(outDeg(_) == 0).map(next(_)).sum
      rank = next
      it += 1
    }
    (ids.indices.map(i => ids(i) -> rank(i)).toMap, delta)
  }

  /** Connected components by union-find; component label = min member. */
  def components[V](edges: Iterable[(V, V)])(implicit ord: Ordering[V]): Map[V, V] = {
    val parent = mutable.HashMap.empty[V, V]
    def find(x: V): V = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** Components renumbered like graft.cluster.Shaping.renumberBySize:
    * size descending, ties by the smaller component label. */
  def renumbered[V](comp: Map[V, V])(implicit ord: Ordering[V]): Map[V, Long] = {
    val members = comp.groupBy(_._2).map { case (label, m) => label -> m.keys }
    val order = members.toSeq.sortWith { case ((la, ma), (lb, mb)) =>
      if (ma.size != mb.size) ma.size > mb.size else ord.lt(la, lb)
    }
    order.zipWithIndex.flatMap { case ((_, m), i) => m.map(_ -> i.toLong) }.toMap
  }

  def allClose(a: Double, b: Double, rtol: Double, atol: Double = 1e-12): Boolean =
    math.abs(a - b) <= atol + rtol * math.abs(b)
}
