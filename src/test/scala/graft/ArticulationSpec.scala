package graft

import org.apache.spark.sql.functions._
import graft.clustering.{ClusteringOps, ConnectedComponents}

/** Articulation (cut) vertices: task-side Tarjan and the distributed
  * Tarjan–Vishkin pass, both verified against an independent brute-force
  * oracle ([[GraphOracle]]: remove each vertex, count components). */
class ArticulationSpec extends SparkSpec {
  import spark.implicits._

  private def collectFlags(df: org.apache.spark.sql.DataFrame): Map[Long, Boolean] =
    df.collect().map(r => r.getAs[Long]("node_id") ->
      r.getAs[Boolean]("is_articulation")).toMap

  test("task-side Tarjan matches brute force on adversarial shapes") {
    // path (interior nodes cut), cycle (none), barbell (joint nodes cut),
    // star (centre cut), parallel edges, self-loop, pendant off a cycle
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),                        // path
      (10L, 11L), (11L, 12L), (12L, 10L),                  // cycle
      (20L, 21L), (21L, 22L), (22L, 20L), (22L, 23L),      // triangle + tail
      (23L, 24L), (24L, 25L), (25L, 23L),                  // second triangle
      (30L, 31L), (30L, 31L),                              // parallel pair
      (31L, 31L),                                          // self-loop
      (10L, 13L),                                          // pendant off cycle
      (40L, 41L), (40L, 42L), (40L, 43L)                   // star
    )
    val expected = GraphOracle.articulationPoints(edges)
    assert(ClusteringOps.findBridgesAndCuts(edges)._2 == expected)
    // the classics, by hand: path interiors, barbell joints, star centre,
    // cycle node carrying the pendant
    assert(expected == Set(2L, 3L, 22L, 23L, 10L, 40L))
  }

  test("distributed Tarjan–Vishkin matches brute force and the task-side " +
      "path on random graphs") {
    val rng = new scala.util.Random(91)
    (1 to 4).foreach { trial =>
      val n = 25 + rng.nextInt(35)
      val m = n + rng.nextInt(2 * n)
      val raw = Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val expected = GraphOracle.articulationPoints(raw)
      assert(ClusteringOps.findBridgesAndCuts(raw)._2 == expected,
        s"trial $trial task-side diverged")
      val edges = raw.toDF("unique_id_l", "unique_id_r")
      val clusters = ConnectedComponents.run(edges)
      // maxClusterSize=1 forces EVERY cluster through the distributed path
      val dist = collectFlags(ClusteringOps.articulationPoints(
        clusters, edges, maxClusterSize = 1, distributeOversize = true))
      assert(dist.filter(_._2).keySet == expected,
        s"trial $trial (n=$n m=${raw.size}) distributed diverged")
      assert(dist.keySet == raw.flatMap(e => Seq(e._1, e._2)).toSet)
    }
  }

  test("distributed path on a deep graph (diameter ~80) and consistency " +
      "with bridges: a bridge endpoint of degree >= 2 is a cut vertex") {
    val ring = (0 until 60).map(i => (i.toLong, ((i + 1) % 60).toLong))
    val chain = (100 until 149).map(i => (i.toLong, (i + 1).toLong))
    val connector = Seq((0L, 100L))
    val triangle = Seq((149L, 150L), (150L, 151L), (151L, 149L))
    val raw = ring ++ chain ++ connector ++ triangle
    val edges = raw.toDF("unique_id_l", "unique_id_r")
    val clusters = ConnectedComponents.run(edges)
    val dist = collectFlags(ClusteringOps.articulationPoints(clusters, edges,
      maxClusterSize = 10, distributeOversize = true))
    assert(dist.filter(_._2).keySet == GraphOracle.articulationPoints(raw))
    // cross-check against the bridge machinery on the same forest: every
    // endpoint of a bridge with another incident edge must be a cut vertex
    val bridgeEnds = ClusteringOps.edgeBridges(clusters, edges,
        maxClusterSize = 10, distributeOversize = true)
      .filter(col("is_bridge")).collect()
      .flatMap(r => Seq(r.getAs[Long]("unique_id_l"),
        r.getAs[Long]("unique_id_r")))
    val degree = raw.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size).toMap
    bridgeEnds.filter(degree(_) >= 2).foreach(v =>
      assert(dist(v), s"bridge endpoint $v with degree>=2 not flagged"))
  }

  test("guard rails: oversize fails loudly, skipOversize keeps NULLs") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L),
      (10L, 11L)).toDF("unique_id_l", "unique_id_r")
    val clusters = ConnectedComponents.run(edges)
    val e = intercept[IllegalArgumentException] {
      ClusteringOps.articulationPoints(clusters, edges, maxClusterSize = 2)
    }
    assert(e.getMessage.contains("maxClusterSize=2"))
    val got = ClusteringOps.articulationPoints(clusters, edges,
      maxClusterSize = 2, skipOversize = true).collect()
      .map(r => r.getAs[Long]("node_id") ->
        Option(r.getAs[java.lang.Boolean]("is_articulation"))
          .map(_.booleanValue)).toMap
    assert(got(1L).isEmpty && got(4L).isEmpty)         // oversize: unknown
    assert(got(10L).contains(false) && got(11L).contains(false))
  }

  test("a disconnected cluster frame fails loudly under distributeOversize") {
    // nodes 1..4 labelled one cluster, but the edges connect only (1,2) and
    // (3,4): the violated CC contract must throw, not hang or mislabel
    val badClusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L))
      .toDF("node_id", "cluster_id")
    val splitEdges = Seq((1L, 2L), (3L, 4L)).toDF("unique_id_l", "unique_id_r")
    val e = intercept[IllegalStateException] {
      ClusteringOps.articulationPoints(badClusters, splitEdges,
        maxClusterSize = 1, distributeOversize = true).count()
    }
    assert(e.getMessage.contains("not connected"))
  }

  test("nodeMetrics surfaces is_cut_vertex when asked, unchanged otherwise") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("unique_id_l", "unique_id_r")
    val clusters = ConnectedComponents.run(edges)
    val plain = ClusteringOps.nodeMetrics(clusters, edges)
    assert(!plain.columns.contains("is_cut_vertex"))
    val m = ClusteringOps.nodeMetrics(clusters, edges, withArticulation = true)
      .collect().map(r => r.getAs[Long]("node_id") ->
        r.getAs[Boolean]("is_cut_vertex")).toMap
    assert(m == Map(1L -> false, 2L -> true, 3L -> false))
  }
}
