package graft

import org.apache.spark.sql.functions._
import graft.clustering.{ClusteringOps, ConnectedComponents, DistributedBridges}

/** The fused bridges+articulation pass: one scaffold, both verdicts.
  * Verified on BOTH physical paths against the brute-force oracles in
  * [[GraphOracle]] (delete the element, recount components) and against
  * closed-form shapes. [[ClusteringOps.edgeBridges]] and
  * [[ClusteringOps.articulationPoints]] are projections of this pass, so
  * they are checked against the oracles too, never against each other. */
class GraphMetricsSpec extends SparkSpec {
  import spark.implicits._

  private def bridgeMap(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Boolean] =
    df.collect().map(r => (r.getAs[Long]("unique_id_l"),
      r.getAs[Long]("unique_id_r")) -> r.getAs[Boolean]("is_bridge")).toMap

  private def cutMap(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
    df.collect().map(r => r.getAs[Long]("node_id") ->
      r.getAs[Boolean]("is_articulation")).toMap

  private def undirected(e: (Long, Long)) =
    (math.min(e._1, e._2), math.max(e._1, e._2))

  test("findBridgesAndCuts: one-DFS verdicts match brute force on random " +
      "multigraphs (parallel edges + self-loops)") {
    val rng = new scala.util.Random(431)
    (1 to 200).foreach { trial =>
      val n = 2 + rng.nextInt(14)
      val m = 1 + rng.nextInt(3 * n)
      // raw multigraph: duplicates and self-loops stay in
      val es = Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
      val (bs, cs) = ClusteringOps.findBridgesAndCuts(es)
      // bridge sets are emitted as DFS tree pairs — compare undirected
      assert(bs.map(undirected) == GraphOracle.bridges(es),
        s"trial $trial bridges: $es")
      assert(cs == GraphOracle.articulationPoints(es), s"trial $trial cuts: $es")
    }
  }

  test("fused pass and its single-grain projections match brute force on " +
      "random graphs, both physical paths") {
    val rng = new scala.util.Random(137)
    (1 to 3).foreach { trial =>
      val n = 20 + rng.nextInt(30)
      val m = n + rng.nextInt(2 * n)
      val raw = Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val bruteB = GraphOracle.bridges(raw)
      val bruteA = GraphOracle.articulationPoints(raw)
      val wantB = raw.map(e => e -> bruteB.contains(undirected(e))).toMap
      val wantA = raw.flatMap(e => Seq(e._1, e._2))
        .map(v => v -> bruteA.contains(v)).toMap
      val edges = raw.toDF("unique_id_l", "unique_id_r")
      val clusters = ConnectedComponents.run(edges)
      for (cap <- Seq(1, 10000)) { // 1 = all distributed, 10000 = all task-side
        val gm = ClusteringOps.graphMetrics(clusters, edges,
          maxClusterSize = cap, distributeOversize = true)
        assert(bridgeMap(gm.bridges) == wantB,
          s"trial $trial cap=$cap bridge verdicts diverged")
        assert(cutMap(gm.articulation) == wantA,
          s"trial $trial cap=$cap articulation verdicts diverged")
        // the stacked frame is the exact union of the two grains
        val st = gm.stacked.collect()
        val stB = st.filter(_.getString(1) == "edge")
          .map(r => (r.getLong(2), r.getLong(3)) -> r.getBoolean(4)).toMap
        val stA = st.filter(_.getString(1) == "node")
          .map(r => r.getLong(2) -> r.getBoolean(4)).toMap
        assert(stB == wantB, s"trial $trial cap=$cap stacked edge grain diverged")
        assert(stA == wantA, s"trial $trial cap=$cap stacked node grain diverged")
        assert(bridgeMap(ClusteringOps.edgeBridges(clusters, edges,
          maxClusterSize = cap, distributeOversize = true)) == wantB,
          s"trial $trial cap=$cap edgeBridges diverged")
        assert(cutMap(ClusteringOps.articulationPoints(clusters, edges,
          maxClusterSize = cap, distributeOversize = true)) == wantA,
          s"trial $trial cap=$cap articulationPoints diverged")
      }
    }
  }

  test("distributed fused bridge verdict: doubled tree edge is NOT a " +
      "bridge (mult check), pendant stays one") {
    // hub 1 with pendant 2 (true bridge), doubled edge to 3 (2-cycle: not
    // a bridge), triangle 1-4-5 (cycle: not bridges)
    val raw = Seq((1L, 2L), (1L, 3L), (1L, 3L), (1L, 4L), (4L, 5L), (5L, 1L))
    val edges = raw.toDF("unique_id_l", "unique_id_r")
    val clusters = ConnectedComponents.run(edges)
    val gm = ClusteringOps.graphMetrics(clusters, edges,
      maxClusterSize = 1, distributeOversize = true)
    val b = bridgeMap(gm.bridges)
    assert(b((1L, 2L)))
    assert(!b((1L, 3L)))
    assert(!b((1L, 4L)) && !b((4L, 5L)) && !b((5L, 1L)))
    val cuts = cutMap(gm.articulation)
    assert(cuts == Map(1L -> true, 2L -> false, 3L -> false,
      4L -> false, 5L -> false))
  }

  test("DistributedBridges.graphEdgeNodeMetrics interval-bridge test " +
      "agrees with task-side findBridgesAndCuts on a deep mixed graph") {
    val ring = (0 until 40).map(i => (i.toLong, ((i + 1) % 40).toLong))
    val chain = (100 until 130).map(i => (i.toLong, (i + 1).toLong))
    val connector = Seq((0L, 100L))
    val raw = ring ++ chain ++ connector
    val edges = raw.toDF("unique_id_l", "unique_id_r")
      .withColumn("cluster_id", lit(0L))
    val b = bridgeMap(DistributedBridges.graphEdgeNodeMetrics(edges)._1)
    val tarjan = ClusteringOps.findBridgesAndCuts(raw)._1.map(undirected)
    assert(b == raw.map(e => e -> tarjan.contains(undirected(e))).toMap)
    // closed form: the chain and the connector bridge, the ring does not
    assert(b((0L, 100L)) && b((100L, 101L)) && !b((0L, 1L)))
  }

  test("guard rails: fused oversize fails loudly; skipOversize NULLs " +
      "both frames") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (10L, 11L)).toDF("unique_id_l", "unique_id_r")
    val clusters = ConnectedComponents.run(edges)
    val e = intercept[IllegalArgumentException] {
      ClusteringOps.graphMetrics(clusters, edges, maxClusterSize = 2)
    }
    assert(e.getMessage.contains("maxClusterSize=2"))
    val gm = ClusteringOps.graphMetrics(clusters, edges,
      maxClusterSize = 2, skipOversize = true)
    val bNull = gm.bridges.collect().map(r => (r.getAs[Long]("unique_id_l"),
      r.getAs[Long]("unique_id_r")) ->
      Option(r.getAs[java.lang.Boolean]("is_bridge"))).toMap
    // the oversize cluster's edges are NULL; the small pair-cluster's
    // single edge is a true bridge (its removal disconnects the pair)
    assert(bNull((1L, 2L)).isEmpty && bNull((10L, 11L)).contains(true))
    val aNull = gm.articulation.collect().map(r =>
      r.getAs[Long]("node_id") ->
        Option(r.getAs[java.lang.Boolean]("is_articulation"))).toMap
    assert(aNull(1L).isEmpty && aNull(10L).contains(false))
  }
}
