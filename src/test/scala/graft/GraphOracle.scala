package graft

/** Brute-force graph oracles for small test graphs. The graph-metric
  * verdicts are read straight off their definitions by deleting the
  * element and recounting connected components, independent of any DFS;
  * one-to-one clustering is simulated round by round from scratch. */
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

  /** Which two clusters a one-to-one round may merge. */
  sealed trait MergeRule
  /** Both clusters are single nodes. */
  case object Singletons extends MergeRule
  /** The clusters share no duplicate-free dataset (`None` = every dataset
    * is duplicate-free; a null dataset constrains nothing). `dropTies` is
    * `ties_method = "drop"`. */
  final case class DatasetDisjoint(datasets: Seq[(Long, Option[String])],
      duplicateFree: Option[Seq[String]] = None,
      dropTies: Boolean = false) extends MergeRule

  /** One-to-one clustering by brute force: each round rebuilds the
    * clusters, their members' datasets and the candidate links from the
    * node-level edge list; every cluster picks its best allowed neighbour
    * cluster (p desc with null/NaN last, then lowest id), and mutual picks
    * merge. Node -> lowest node id of its cluster, for every node of a
    * kept edge; under [[Singletons]] only for matched nodes. */
  def oneToOne(edges: Seq[(Long, Long, Option[Double])], rule: MergeRule,
      maxRounds: Int): Map[Long, Long] = {
    val (dsOf, dupFree, drop) = rule match {
      case DatasetDisjoint(ds, free, drop) =>
        val of = ds.collect { case (n, Some(d)) => (n, d) }
          .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
          .withDefaultValue(Set.empty[String])
        (of, (d: String) => free.forall(_.contains(d)), drop)
      case Singletons =>
        (Map.empty[Long, Set[String]].withDefaultValue(Set.empty[String]),
          (_: String) => true, false)
    }
    // NaN equals NaN when probabilities are compared, as in Spark's keys
    def same(p: Double, q: Double): Boolean = p == q || p.isNaN && q.isNaN
    val nonLoops = edges.filter(e => e._1 != e._2)
    val kept = if (!drop) nonLoops else {
      // a link from a is tied into dataset sb at p when a has links at p
      // to two or more distinct nodes carrying sb
      def tied(a: Long, sa: String, sb: String, p: Double): Boolean =
        dupFree(sb) && dsOf(a)(sa) && nonLoops.flatMap {
          case (x, y, Some(q)) if same(p, q) =>
            (if (x == a) Seq(y) else Nil) ++ (if (y == a) Seq(x) else Nil)
          case _ => Nil
        }.filter(b => dsOf(b)(sb)).distinct.size > 1
      // an edge survives when some dataset pairing of its endpoints is
      // tied in neither direction
      nonLoops.filter {
        case (a, b, Some(p)) =>
          dsOf(a).exists(sa => dsOf(b).exists(sb =>
            !tied(a, sa, sb, p) && !tied(b, sb, sa, p)))
        case _ => false
      }
    }
    val nodes = kept.flatMap(e => Seq(e._1, e._2)).distinct
    var label = nodes.map(n => n -> n).toMap
    var round = 0
    var merged = true
    while (round < maxRounds && merged) {
      round += 1
      val members = nodes.groupBy(label)
      def allowed(a: Long, b: Long): Boolean = rule match {
        case Singletons => members(a).size == 1 && members(b).size == 1
        case _: DatasetDisjoint =>
          val da = members(a).flatMap(dsOf).filter(dupFree).toSet
          !members(b).flatMap(dsOf).exists(d => dupFree(d) && da(d))
      }
      val links = kept.map { case (a, b, p) =>
        (label(a), label(b),
          p.filterNot(_.isNaN).getOrElse(Double.NegativeInfinity))
      }.filter { case (a, b, _) => a != b && allowed(a, b) }
      val best = (links ++ links.map(l => (l._2, l._1, l._3))).groupBy(_._1)
        .map { case (a, ls) => a -> ls.minBy(l => (-l._3, l._2))._2 }
      val absorbed = best.collect {
        case (a, b) if a < b && best.get(b).contains(a) => b -> a
      }
      merged = absorbed.nonEmpty
      label = label.map { case (n, l) => n -> absorbed.getOrElse(l, l) }
    }
    rule match {
      case Singletons =>
        label.filter { case (_, l) => label.count(_._2 == l) > 1 }
      case _ => label
    }
  }
}
