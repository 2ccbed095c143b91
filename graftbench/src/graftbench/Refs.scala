package graftbench

import scala.collection.mutable

/** Small driver-side reference implementations the graph_olap results
  * are checked against. Labels follow graft's conventions: a component
  * is named by its smallest vid (string order). */
object Refs {
  /** Weakly connected components by union-find. */
  def wcc(vertices: Seq[String], edges: Seq[(String, String)]): Map[String, String] = {
    val parent = mutable.HashMap.empty[String, String]
    vertices.foreach(v => parent(v) = v)
    def find(v: String): String = {
      var r = v
      while (parent(r) != r) r = parent(r)
      var x = v
      while (parent(x) != r) { val n = parent(x); parent(x) = r; x = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    vertices.map(v => v -> find(v)).toMap
  }

  /** Single-source shortest path distances (Dijkstra), reachable
    * vertices only. */
  def sssp(edges: Seq[(String, String, Double)], src: String): Map[String, Double] = {
    val adj = edges.groupMap(_._1)(e => (e._2, e._3))
    val dist = mutable.HashMap(src -> 0.0)
    val pq = mutable.PriorityQueue((0.0, src))(Ordering.by[(Double, String), Double](-_._1))
    val done = mutable.HashSet.empty[String]
    while (pq.nonEmpty) {
      val (d, v) = pq.dequeue()
      if (!done(v)) {
        done += v
        adj.getOrElse(v, Nil).foreach { case (w, wt) =>
          val nd = d + wt
          if (dist.get(w).forall(nd < _)) { dist(w) = nd; pq.enqueue((nd, w)) }
        }
      }
    }
    dist.toMap
  }

  /** Simple undirected neighbor sets, self-loops dropped. */
  def neighbors(edges: Seq[(String, String)]): Map[String, Set[String]] =
    edges.filter(e => e._1 != e._2)
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap

  /** Vertices of the k-core (peeling to the fixpoint). */
  def kCore(edges: Seq[(String, String)], k: Int): Set[String] = {
    val nb = mutable.HashMap.empty[String, mutable.Set[String]]
    neighbors(edges).foreach { case (v, s) => nb(v) = mutable.Set.from(s) }
    var drop = nb.collect { case (v, s) if s.size < k => v }.toSeq
    while (drop.nonEmpty) {
      val touched = mutable.HashSet.empty[String]
      drop.foreach { v =>
        nb.remove(v).foreach(_.foreach { w =>
          nb.get(w).foreach(_ -= v); touched += w })
      }
      drop = touched.toSeq.filter(w => nb.get(w).exists(_.size < k))
    }
    nb.keySet.toSet
  }

  /** `iters` synchronous PageRank rounds, pr' = (1-d) + d·Σ pr/outdeg
    * over every directed edge (parallel edges each send). */
  def pageRank(vertices: Seq[String], edges: Seq[(String, String)], iters: Int,
               d: Double): Map[String, Double] = {
    val outDeg = edges.groupMapReduce(_._1)(_ => 1L)(_ + _)
    var pr = vertices.map(_ -> 1.0).toMap
    (1 to iters).foreach { _ =>
      val inflow = mutable.HashMap.empty[String, Double]
      edges.foreach { case (s, t) =>
        inflow(t) = inflow.getOrElse(t, 0.0) + pr(s) / outDeg(s) }
      pr = pr.map { case (v, _) => v -> ((1 - d) + d * inflow.getOrElse(v, 0.0)) }
    }
    pr
  }
}
