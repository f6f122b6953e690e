package graft

import org.apache.spark.sql.functions._
import graft.model._
import graft.model.{LevelLibrary => ll}
import graft.clustering.{ClusteringOps, ConnectedComponents}
import graft.evaluation.Evaluation
import graft.training.Training

class Ops2Spec extends SparkSpec {
  import spark.implicits._

  test("findBridges: triangle with tail") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    assert(ClusteringOps.findBridgesAndCuts(edges)._1 == Set((3L, 4L)))
    // path graph: every edge is a bridge
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    assert(ClusteringOps.findBridgesAndCuts(path)._1.size == 3)
  }

  test("edgeBridges end to end") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (10L, 11L))
      .toDF("unique_id_l", "unique_id_r")
    val clusters = ConnectedComponents.run(edges)
    val got = ClusteringOps.edgeBridges(clusters, edges).collect()
      .map(r => (r.getAs[Long]("unique_id_l"), r.getAs[Long]("unique_id_r")) ->
        r.getAs[Boolean]("is_bridge")).toMap
    assert(got((3L, 4L)) && got((10L, 11L)))
    assert(!got((1L, 2L)) && !got((2L, 3L)))
  }

  test("edgeBridges above the cluster-size cap: hard error by default, " +
      "NULL-flagged edges with skipOversize") {
    // one 6-node path (oversize at cap 4) + one triangle-with-tail (size 4)
    val big = (1L to 6L).sliding(2).map(s => (s.head, s.last)).toSeq
    val smallC = Seq((10L, 11L), (11L, 12L), (10L, 12L), (12L, 13L))
    val edges = (big ++ smallC).toDF("unique_id_l", "unique_id_r")
    val clusters = ConnectedComponents.run(edges)
    val e = intercept[IllegalArgumentException] {
      ClusteringOps.edgeBridges(clusters, edges, maxClusterSize = 4)
    }
    assert(e.getMessage.contains("maxClusterSize=4") &&
      e.getMessage.contains("6 nodes") &&
      e.getMessage.contains("skipOversize"))
    // skipOversize: oversize edges PRESENT with is_bridge null; the small
    // cluster still gets true labels
    val got = ClusteringOps.edgeBridges(clusters, edges, maxClusterSize = 4,
      skipOversize = true).collect()
      .map(r => (r.getAs[Long]("unique_id_l"), r.getAs[Long]("unique_id_r")) ->
        Option(r.getAs[java.lang.Boolean]("is_bridge")).map(_.booleanValue))
      .toMap
    assert(got.size == big.size + smallC.size)
    big.foreach(e => assert(got(e).isEmpty, s"oversize edge $e not null"))
    assert(got((12L, 13L)).contains(true) && got((10L, 11L)).contains(false))
  }

  test("edgeBridges distributeOversize: distributed interval verdicts " +
      "equal task-side Tarjan on adversarial shapes") {
    // path (all bridges), cycle (none), barbell (two triangles joined by
    // one bridge), parallel edge (covers itself), self-loop, pendant off a
    // cycle — every classic corner in one graph
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),                        // path
      (10L, 11L), (11L, 12L), (12L, 10L),                  // cycle
      (20L, 21L), (21L, 22L), (22L, 20L), (22L, 23L),      // triangle + tail
      (23L, 24L), (24L, 25L), (25L, 23L),                  // second triangle
      (30L, 31L), (30L, 31L),                              // parallel pair
      (31L, 31L),                                          // self-loop
      (10L, 13L)                                           // pendant off cycle
    ).toDF("unique_id_l", "unique_id_r")
    val clusters = ConnectedComponents.run(edges)
    def collect(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("unique_id_l"), r.getAs[Long]("unique_id_r"),
        r.getAs[Boolean]("is_bridge")))
      .groupBy(identity).view.mapValues(_.length).toMap
    val tarjan = collect(ClusteringOps.edgeBridges(clusters, edges))
    // maxClusterSize=1 forces EVERY cluster through the distributed path
    val dist = collect(ClusteringOps.edgeBridges(clusters, edges,
      maxClusterSize = 1, distributeOversize = true))
    assert(dist == tarjan)
    assert(dist(((22L, 23L, true))) == 1)   // the barbell bridge
    assert(dist.keys.count(_._3 == true) == 5) // 3 path + tail + pendant
  }

  test("edgeBridges distributeOversize: random graphs match Tarjan") {
    val rng = new scala.util.Random(4242)
    (1 to 4).foreach { trial =>
      val n = 30 + rng.nextInt(40)
      val m = n + rng.nextInt(2 * n)
      val raw = Seq.fill(m)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val edges = raw.toDF("unique_id_l", "unique_id_r")
      val clusters = ConnectedComponents.run(edges)
      val tarjan = ClusteringOps.edgeBridges(clusters, edges).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .groupBy(identity).view.mapValues(_.length).toMap
      val dist = ClusteringOps.edgeBridges(clusters, edges,
        maxClusterSize = 1, distributeOversize = true).collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(dist == tarjan, s"trial $trial (n=$n m=${raw.size}) diverged")
    }
  }

  test("edgeBridges distributeOversize: medium-scale hairball matches Tarjan") {
    // a few thousand nodes with ~2x edges: one giant shallow component
    // plus satellites — the shape the distributed path exists for
    val rng = new scala.util.Random(7)
    val n = 3000
    val raw = (1 until n).map(i => (rng.nextInt(i).toLong, i.toLong)) ++ // connected
      Seq.fill(n / 2)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
    val edges = raw.filter { case (a, b) => a != b }
      .toDF("unique_id_l", "unique_id_r")
    val clusters = ConnectedComponents.run(edges)
    def verdicts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .groupBy(identity).view.mapValues(_.length).toMap
    val tarjan = verdicts(ClusteringOps.edgeBridges(clusters, edges))
    val dist = verdicts(ClusteringOps.edgeBridges(clusters, edges,
      maxClusterSize = 100, distributeOversize = true))
    assert(dist == tarjan)
    assert(dist.keys.exists(_._3)) // a preferential-attachment tree has bridges
  }

  test("edgeBridges distributeOversize: deep graph (diameter ~80, long " +
      "cycle + bridge chain) matches Tarjan") {
    // adversarial DEPTH, not size: BFS rounds and the depth-peel fold both
    // scale with diameter, so a 60-ring + 50-edge bridge chain + terminal
    // triangle exercises ~80 peel levels and the auto-sized checkpoint
    // cadence. Ring/triangle edges are non-bridges; the chain and its
    // connector are all bridges.
    val ring = (0 until 60).map(i => (i.toLong, ((i + 1) % 60).toLong))
    val chain = (100 until 149).map(i => (i.toLong, (i + 1).toLong))
    val connector = Seq((0L, 100L))
    val triangle = Seq((149L, 150L), (150L, 151L), (151L, 149L))
    val edges = (ring ++ chain ++ connector ++ triangle)
      .toDF("unique_id_l", "unique_id_r")
    val clusters = ConnectedComponents.run(edges)
    def verdicts(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val tarjan = verdicts(ClusteringOps.edgeBridges(clusters, edges))
    val dist = verdicts(ClusteringOps.edgeBridges(clusters, edges,
      maxClusterSize = 10, distributeOversize = true))
    assert(dist == tarjan)
    val bridges = dist.filter(_._3).map(v => (v._1, v._2))
    assert(bridges == (chain ++ connector).toSet,
      s"expected exactly the chain+connector as bridges")
  }

  test("default m/u heuristic fills untrained levels monotonically") {
    val s = LinkSettings(comparisons = Seq(
      Comparison("x", Seq(ll.nullLevel("x"), ll.exactMatch("x"),
        ll.levenshtein("x", 2), ll.elseLevel))))
    val d = Training.withDefaultMU(s)
    val levels = d.comparisonByName("x").activeLevels
    val ws = levels.map(_.matchWeight)
    assert(ws == ws.sorted.reverse) // most similar level has highest weight
    assert(levels.forall(l => l.m.isDefined && l.u.isDefined))
    // trained values untouched
    val s2 = s.withComparison(s.comparisonByName("x").copy(levels =
      s.comparisonByName("x").levels.map(l =>
        if (l.isNull) l else l.withM(0.5))))
    val d2 = Training.withDefaultMU(s2)
    assert(d2.comparisonByName("x").activeLevels.forall(_.m.contains(0.5)))
  }

  test("cluster sampling methods are deterministic and bounded") {
    val edges = (1L to 40L).sliding(2).map(s => (s.head, s.last)).toSeq
      .toDF("unique_id_l", "unique_id_r")
    val clusters = ConnectedComponents.run(edges)
    for (m <- Seq("random", "by_cluster_size", "lowest_density_clusters_by_size")) {
      val got = Evaluation.sampleClusters(clusters, edges, m, 2)
      assert(got.count() <= 2, m)
    }
    // explicit-ids strategy: caller order preserved, unknown ids silently
    // dropped, n caps when positive and is ignored at 0 — over a graph
    // with three separate components
    val multiEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L),
      (20L, 21L)).toDF("unique_id_l", "unique_id_r")
    val multiClusters = ConnectedComponents.run(multiEdges)
    val metrics = graft.clustering.ClusteringOps
      .clusterMetrics(multiClusters, multiEdges)
    val someIds = metrics.select("cluster_id").collect()
      .map(_.getLong(0)).sorted.toSeq
    val wanted = Seq(someIds.last, someIds.head, -99L)
    val got = Evaluation.sampleClustersFromMetrics(metrics, "by_cluster_ids",
      0, clusterIds = wanted).collect().map(_.getLong(0)).toSeq
    assert(got == Seq(someIds.last, someIds.head),
      "caller order must be preserved and the unknown id dropped")
    assert(Evaluation.sampleClustersFromMetrics(metrics, "by_cluster_ids",
      1, clusterIds = wanted).collect().map(_.getLong(0)).toSeq
      == Seq(someIds.last))
    intercept[IllegalArgumentException] {
      Evaluation.sampleClustersFromMetrics(metrics, "by_cluster_ids", 1)
    }
  }

  test("waterfall data decomposes the match weight additively") {
    val people = Seq((0L, "A", "S"), (1L, "A", "S")).toDF("unique_id", "fn", "sn")
    val s = LinkSettings(
      blockingRules = Seq(BlockingRule.blockOn("sn")),
      comparisons = Seq(Comparison("fn", Seq(ll.nullLevel("fn"),
        ll.exactMatch("fn").withM(0.9).withU(0.1), ll.elseLevel.withM(0.1).withU(0.9)))),
      probabilityTwoRandomRecordsMatch = 0.1)
    val linker = new Linker(people, s)
    val scored = linker.predict()
    val wf = Evaluation.waterfallData(scored, s).collect()
      .map(r => r.getAs[String]("term") -> r.getAs[Double]("log2_bayes_factor")).toMap
    assert(math.abs(wf("prior") + wf("fn") - wf("final")) < 1e-12)
  }

  test("EM with pair cap still trains") {
    val people = (0L until 60L).map(i =>
      (i, s"name${i % 20}", s"sur${i % 6}")).toDF("unique_id", "fn", "sn")
    val s = LinkSettings(
      blockingRules = Seq(BlockingRule.blockOn("sn")),
      comparisons = Seq(Comparison("fn", Seq(ll.nullLevel("fn"),
        ll.exactMatch("fn").withM(0.5).withU(0.5), ll.elseLevel.withM(0.5).withU(0.5)))),
      probabilityTwoRandomRecordsMatch = 0.1)
    val r = Training.expectationMaximisation(Seq("t" -> people), s,
      BlockingRule.blockOn("sn"), maxPairs = Some(50L))
    assert(r.iterations >= 1)
    assert(r.settings.comparisonByName("fn").activeLevels.head.m.isDefined)
  }
}
