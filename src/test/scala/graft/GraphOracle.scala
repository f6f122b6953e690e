package graft

/** Brute-force graph-metric oracles, independent of any DFS: each verdict
  * is read straight off its definition by deleting the element and
  * recounting connected components. Quadratic — for small test graphs. */
object GraphOracle {

  /** Undirected pairs (min, max) with self-loops dropped, duplicates kept. */
  private def pairs(edges: Seq[(Long, Long)]): Seq[(Long, Long)] =
    edges.collect { case (a, b) if a != b => (math.min(a, b), math.max(a, b)) }

  private def componentCount(vs: Seq[Long], es: Seq[(Long, Long)]): Int = {
    val parent = scala.collection.mutable.Map(vs.map(v => v -> v): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    es.foreach { case (a, b) => parent(find(a)) = find(b) }
    vs.map(find).distinct.size
  }

  /** Union-find component labels: each node of `edges` maps to the
    * smallest node id of its component. */
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(x => x -> find(x)).toMap
  }

  /** v is an articulation point iff removing it increases the number of
    * connected components among the remaining vertices. */
  def articulationPoints(edges: Seq[(Long, Long)]): Set[Long] = {
    val uniq = pairs(edges).distinct
    val nodes = uniq.flatMap(e => Seq(e._1, e._2)).distinct
    val base = componentCount(nodes, uniq)
    nodes.filter { v =>
      val rest = nodes.filterNot(_ == v)
      val es = uniq.filter(e => e._1 != v && e._2 != v)
      componentCount(rest, es) > base  // v's removal split something
    }.toSet
  }

  /** An edge of multiplicity 1 is a bridge iff removing it increases the
    * number of connected components (a doubled edge never is: its copy
    * keeps the endpoints joined). Returned as (min, max) pairs. */
  def bridges(edges: Seq[(Long, Long)]): Set[(Long, Long)] = {
    val ps = pairs(edges)
    val nodes = ps.flatMap(e => Seq(e._1, e._2)).distinct
    val base = componentCount(nodes, ps)
    ps.filter(e => ps.count(_ == e) == 1)
      .filter(e => componentCount(nodes, ps.filterNot(_ == e)) > base)
      .toSet
  }
}
