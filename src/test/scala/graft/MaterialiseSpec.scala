package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, sum}
import org.apache.spark.storage.StorageLevel

import graft.clustering.{ClusteringOps, ConnectedComponents, DistributedBridges}
import graft.operators.{Decide, Materialise}
import graft.operators.Materialise.Ops
import graft.pipeline.DedupOps
import graft.training.Training

/** The pluggable lineage-break policy (SURVEY §7.1): every policy must
  * produce identical results from the iterative loops, and the parquet /
  * checkpoint policies are the cluster-safe paths the reference defaults to
  * (`spark/database_api.py:289-349`, `optimising_spark.md:36-57`).
  *
  * The policy matrix runs each iterative algorithm under all four policies
  * on both the driver and the distributed path, against a brute-force
  * oracle ([[GraphOracle]]), the planted EM model, or the default-policy
  * answer. */
class MaterialiseSpec extends SparkSpec {
  import spark.implicits._

  private def allPolicies = Seq(Materialise.LocalCheckpointPolicy,
    Materialise.PersistPolicy, Materialise.CheckpointPolicy,
    Materialise.ParquetPolicy)

  /** `body`'s result under every policy and both collect paths. */
  private def matrix[T](body: => T): Seq[(String, T)] =
    for (p <- allPolicies; path <- Decide.Collect.paths) yield
      s"${p.name}/${path.name}" -> Materialise.withSessionPolicy(spark, p) {
        Decide.forcing(Decide.Collect -> path)(body)
      }

  /** The block RDD under a block-backed lineage break. */
  private def leafRdd(df: DataFrame) = df.queryExecution.optimizedPlan match {
    case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    case other => fail(s"expected a LogicalRDD leaf, got:\n$other")
  }

  private def cachedPartitions(df: DataFrame): Int =
    spark.sparkContext.getRDDStorageInfo.find(_.id == leafRdd(df).id)
      .fold(0)(_.numCachedPartitions)

  private def failedLoudly(e: Throwable): Boolean = {
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    chain(e).exists(t => t.isInstanceOf[java.io.FileNotFoundException] ||
      Option(t.getMessage).exists(m => m.contains("FileNotFoundException") ||
        m.toLowerCase.contains("path does not exist") ||
        m.contains("Checkpoint block")))
  }

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // chains + a triangle, and a monotone path that needs several pointer
  // jumps
  private val ccGraph: Seq[(Long, Long)] =
    Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (12L, 10L), (20L, 21L)) ++
      (200L until 216L).map(i => (i, i + 1))

  test("all four policies agree on CC + minhash dedupe end-to-end") {
    val expect = GraphOracle.components(ccGraph)
    val edges = ccGraph.toDF("unique_id_l", "unique_id_r")
    matrix(labels(ConnectedComponents.run(edges))).foreach { case (cell, got) =>
      assert(got == expect, s"CC under $cell")
    }
    // MinHash dedupe: lineage-broken band frames feeding a self-join
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "entirely different text about spark catalyst optimizer rules"),
      (4L, "entirely different text about spark catalyst optimizer rules"),
      (5L, "nothing like the others at all, a unique snowflake document"))
      .toDF("doc_id", "text")
    allPolicies.foreach { p =>
      val pairs = Materialise.withSessionPolicy(spark, p) {
        DedupOps.minhashDedupPairs(docs, "doc_id", "text", threshold = 0.5)
          .select("id_l", "id_r").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      assert(pairs == Set((1L, 2L), (3L, 4L)), s"dedupe under ${p.name}")
    }
  }

  test("non-empty contraction (compose branch + releases) under every policy") {
    // stars whose centre id EXCEEDS the leaf ids: min-propagation points
    // the centre at its smallest leaf while every other leaf keeps itself,
    // so the pointer forest has several trees per component and the
    // contracted graph is non-empty. The distributed path's recursion +
    // compose branch and its releases run; a premature release fails the
    // block- and file-backed policies loudly.
    val stars = Seq((55L, 51L), (55L, 52L), (55L, 53L),
      (105L, 101L), (105L, 102L))
    val expect = GraphOracle.components(stars)
    val edges = stars.toDF("unique_id_l", "unique_id_r")
    matrix(labels(ConnectedComponents.run(edges))).foreach { case (cell, got) =>
      assert(got == expect, s"star CC under $cell")
    }
  }

  test("policy matrix: one-to-one and constrained one-to-one, both paths") {
    val rng = new scala.util.Random(5)
    val raw = Seq.fill(30)((rng.nextInt(14).toLong, rng.nextInt(14).toLong,
        Option((rng.nextInt(5) + 1) / 5.0)))
      .filter { case (a, b, _) => a != b }
    val edges = raw.toDF("unique_id_l", "unique_id_r", "match_probability")
    // node 0 carries two datasets: the tie drop takes its semi-join branch
    val dsRows = (0 until 14).map(i =>
      i.toLong -> Option(Seq("a", "b", "c")(i % 3))) :+ (0L -> Option("d"))
    val datasets = dsRows.toDF("node_id", "source_dataset")
    val dupFree = Seq("a", "b", "d")
    val expect = (GraphOracle.oneToOne(raw, GraphOracle.Singletons, 10),
      GraphOracle.oneToOne(raw, GraphOracle.DatasetDisjoint(dsRows,
        Some(dupFree), dropTies = true), 10))
    matrix((labels(ClusteringOps.oneToOne(edges)),
      labels(ClusteringOps.oneToOneConstrained(edges, datasets,
        duplicateFreeDatasets = Some(dupFree), tiesMethod = "drop"))))
      .foreach { case (cell, (o2o, constrained)) =>
        assert(o2o == expect._1, s"one-to-one under $cell")
        assert(constrained == expect._2, s"constrained one-to-one under $cell")
      }
  }

  test("policy matrix: multi-threshold clustering, both paths") {
    // thresholds chosen so 0.7 and 0.9 reuse stable clusters and 0.97
    // (mostly unstable) re-solves from scratch
    val scored = Seq((1L, 2L, 0.95), (2L, 3L, 0.95), (10L, 11L, 0.95),
      (11L, 12L, 0.6), (12L, 13L, 0.95), (20L, 21L, 0.8), (21L, 22L, 0.95),
      (30L, 31L, 0.99), (40L, 41L, 0.75), (41L, 42L, 0.55))
    val thresholds = Seq(0.5, 0.7, 0.9, 0.97)
    val expect = thresholds.map(t => t -> GraphOracle.components(
      scored.collect { case (a, b, p) if p >= t => (a, b) })).toMap
    val edges = scored.toDF("unique_id_l", "unique_id_r", "match_probability")
    matrix(ClusteringOps.atMultipleThresholds(edges, thresholds)
        .select("threshold", "node_id", "cluster_id").collect()
        .groupBy(_.getDouble(0))
        .map { case (t, rs) => t -> rs.map(r => r.getLong(1) -> r.getLong(2)).toMap })
      .foreach { case (cell, got) =>
        assert(got == expect, s"multi-threshold under $cell")
      }
  }

  test("policy matrix: graph metrics on an oversized cluster, both paths") {
    // pendant, doubled edge (a 2-cycle, not a bridge), triangle, a tail
    val raw = Seq((1L, 2L), (1L, 3L), (1L, 3L), (1L, 4L), (4L, 5L), (5L, 1L),
      (5L, 6L), (6L, 7L))
    val bruteB = GraphOracle.bridges(raw)
    val wantB = raw.map(e => e ->
      bruteB.contains((math.min(e._1, e._2), math.max(e._1, e._2)))).toMap
    val wantA = raw.flatMap(e => Seq(e._1, e._2))
      .map(v => v -> GraphOracle.articulationPoints(raw).contains(v)).toMap
    val edges = raw.toDF("unique_id_l", "unique_id_r")
    val clusters = ConnectedComponents.run(edges)
    matrix {
      val gm = ClusteringOps.graphMetrics(clusters, edges,
        maxClusterSize = 1, distributeOversize = true)
      (gm.bridges.collect().map(r => (r.getLong(1), r.getLong(2)) ->
        r.getBoolean(3)).toMap,
        gm.articulation.collect().map(r => r.getLong(1) -> r.getBoolean(2)).toMap)
    }.foreach { case (cell, (b, a)) =>
      assert(b == wantB, s"bridges under $cell")
      assert(a == wantA, s"articulation points under $cell")
    }
  }

  test("policy matrix: EM M-step recovers the planted model, both paths") {
    val mTrue = Array(Map(1 -> 0.9, 0 -> 0.1), Map(1 -> 0.8, 0 -> 0.2))
    val uTrue = Array(Map(1 -> 0.2, 0 -> 0.8), Map(1 -> 0.3, 0 -> 0.7))
    val lambdaTrue = 0.3
    val planted = (for (g0 <- 0 to 1; g1 <- 0 to 1) yield {
      val p = lambdaTrue * mTrue(0)(g0) * mTrue(1)(g1) +
        (1 - lambdaTrue) * uTrue(0)(g0) * uTrue(1)(g1)
      (g0, g1, math.round(p * 1000000L))
    }).toDF("g0", "g1", "n").repartition(2)
    val mInit = Array(Map(1 -> 0.7, 0 -> 0.3), Map(1 -> 0.6, 0 -> 0.4))
    matrix {
      // the pattern frame reaches EM as the policy's materialisation
      Training.emOverPatterns(planted.breakLineage(), 2, Nil, mInit, uTrue,
        0.1, fixU = true, maxIterations = 400, tolerance = 1e-7,
        fixM = false, fixLambda = false)._1
    }.foreach { case (cell, core) =>
      assert(math.abs(core.lambda - lambdaTrue) < 1e-2, s"λ under $cell")
      for (i <- 0 to 1)
        assert(math.abs(core.m(i)(1) - mTrue(i)(1)) < 1e-2, s"m$i under $cell")
    }
  }

  test("a lineage break is one plan leaf; persist graph-metrics plans stay flat") {
    val df = spark.range(0, 100).selectExpr("id % 7 AS k").groupBy("k").count()
    allPolicies.foreach { p =>
      Materialise.withSessionPolicy(spark, p) {
        for (eager <- Seq(false, true); spill <- Seq(false, true)) {
          // the ANALYZED plan: a cached copy of a plan reads as a leaf once
          // optimized, but every later analysis still walks the whole tree
          val plan = df.breakLineage(eager, spill).queryExecution.analyzed
          assert(plan.children.isEmpty,
            s"${p.name} eager=$eager spill=$spill:\n$plan")
        }
      }
    }
    // the scaffold frames of the distributed graph-metrics pass must not
    // nest their plans under the persist policy: nested plans run the
    // driver out of heap at scale
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("unique_id_l", "unique_id_r").withColumn("cluster_id", lit(1L))
    def verdictPlanNodes(p: Materialise.Policy): Seq[Int] =
      Materialise.withSessionPolicy(spark, p) {
        val (b, a) = DistributedBridges.graphEdgeNodeMetrics(edges)
        Seq(b, a).map(_.queryExecution.analyzed.collect { case n => n }.size)
      }
    assert(verdictPlanNodes(Materialise.PersistPolicy) ==
      verdictPlanNodes(Materialise.LocalCheckpointPolicy))
  }

  test("spilled lineage break: off-heap blocks under every policy, " +
      "round-trip + release intact") {
    allPolicies.foreach { p =>
      Materialise.withSessionPolicy(spark, p) {
        val df = spark.range(0, 1000).selectExpr("id", "id * 2 AS v")
        val eager = df.breakLineage(eager = true, spill = true)
        assert(eager.collect().length === 1000, s"eager under ${p.name}")
        val lazyCk = df.selectExpr("id").breakLineage(spill = true)
        assert(lazyCk.count() === 1000, s"lazy under ${p.name}")
        // the block-backed policies keep the leaf's blocks off-heap
        if (p != Materialise.ParquetPolicy)
          assert(leafRdd(eager).getStorageLevel === StorageLevel.DISK_ONLY,
            s"spilled level under ${p.name}")
        // release after consumption is safe (reclaims per policy)
        val succ = eager.selectExpr("sum(v) AS s").breakLineage(eager = true)
        Materialise.release(eager)
        assert(succ.collect().head.getLong(0) === (0L until 1000L).map(_ * 2).sum)
      }
    }
  }

  test("parquet policy round-trips an empty frame (schema preserved)") {
    val empty = Seq((1L, 2L)).toDF("unique_id_l", "unique_id_r")
      .filter("unique_id_l < 0")
    val back = Materialise.withSessionPolicy(spark, Materialise.ParquetPolicy) {
      empty.breakLineage(eager = true)
    }
    assert(back.columns.toSeq == Seq("unique_id_l", "unique_id_r"))
    assert(back.count() == 0)
  }

  test("unknown policy name fails loudly") {
    spark.conf.set(Materialise.ConfKey, "delta")
    try intercept[IllegalArgumentException](Materialise.policy(spark))
    finally spark.conf.unset(Materialise.ConfKey)
  }

  test("release reclaims a parquet-policy frame's scratch immediately") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "t")
    val mat = Materialise.withSessionPolicy(spark, Materialise.ParquetPolicy) {
      df.breakLineage(eager = true)
    }
    // locate the scratch dir straight off the materialised plan
    val leaf = mat.queryExecution.optimizedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]
    val path = new java.io.File(leaf.relation
      .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      .location.rootPaths.head.toUri.getPath)
    assert(path.exists, s"expected scratch files at $path")
    assert(mat.count() == 2)
    Materialise.release(mat)
    assert(!path.exists, "release must delete the scratch directory")
  }

  test("release mid-loop: successor unaffected, released frame fails LOUDLY") {
    // the invariant the iterative loops rely on (ConnectedComponents /
    // bridges release each superseded working frame): once the successor
    // holds its own blocks or files the predecessor may be reclaimed — and
    // any buggy late consumer of a frame with no lineage left must blow
    // up, never silently read an empty frame (ignoreMissingFiles would
    // turn that bug into wrong results; assert it is off for this session)
    assert(!spark.conf.get("spark.sql.files.ignoreMissingFiles").toBoolean)
    allPolicies.foreach { p =>
      Materialise.withSessionPolicy(spark, p) {
        val a = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
          .breakLineage(eager = true)
        val b = a.withColumn("v2", col("v") * 2).breakLineage(eager = true)
        Materialise.release(a)
        // successor has its own storage: actions and re-reads keep working
        assert(b.count() == 3, s"successor under ${p.name}")
        assert(b.agg(sum(col("v2"))).collect()(0).getLong(0) == 120L)
        p match {
          // persist keeps lineage and recomputes; checkpoint re-reads its
          // checkpoint files
          case Materialise.PersistPolicy | Materialise.CheckpointPolicy =>
            assert(a.count() == 3, s"released frame under ${p.name}")
          case _ =>
            val e = intercept[Exception](a.count())
            assert(failedLoudly(e), s"expected a loud missing-block/file " +
              s"failure under ${p.name}, got: ${e.getMessage.take(200)}")
        }
      }
    }
  }

  test("releaseConsumed after an eager successor is safe under every policy") {
    // the strong-release contract (`release` replaced `releaseConsumed`)
    // as the iterative loops use it: each step materialises its successor
    // eagerly, then releases the frame it superseded
    allPolicies.foreach { p =>
      Materialise.withSessionPolicy(spark, p) {
        var cur = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "v")
          .breakLineage(eager = true)
        for (_ <- 1 to 3) {
          val next = cur.withColumn("v", col("v") * 2).breakLineage(eager = true)
          Materialise.release(cur)
          cur = next
        }
        assert(cur.agg(sum(col("v"))).collect()(0).getLong(0) == 480L,
          s"eager successor broken after release under ${p.name}")
      }
    }
  }

  test("release drops every branch of a union and stops at a join") {
    val a = spark.range(0, 10).toDF("id").breakLineage(eager = true)
    val b = spark.range(10, 20).toDF("id").breakLineage(eager = true)
    Materialise.release(a.join(b, "id"))
    assert(cachedPartitions(a) > 0 && cachedPartitions(b) > 0,
      "a join is not a view: nothing under it may be released")
    Materialise.release(a.unionByName(b).filter(col("id") >= 0).coalesce(1))
    assert(cachedPartitions(a) == 0 && cachedPartitions(b) == 0,
      "every branch of the union must be released")
  }

  test("simulated executor loss between checkpoint and first read: parquet survives, local blocks fail loudly") {
    // why the cluster default is the parquet policy
    // (`optimising_spark.md:36-57`): localCheckpoint blocks live in
    // executor memory and die with the executor; parquet scratch lives on
    // (shared) storage. Simulate the loss by dropping the checkpointed
    // RDD's blocks after materialisation, before the next read.
    val rows = Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
    val pq = Materialise.withSessionPolicy(spark, Materialise.ParquetPolicy) {
      rows.breakLineage(eager = true)
    }
    // parquet: losing every cached block costs nothing — the next action
    // re-reads the scratch files
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    assert(pq.count() == 2)
    val lc = Materialise.withSessionPolicy(spark,
        Materialise.LocalCheckpointPolicy) {
      rows.breakLineage(eager = true)
    }
    assert(lc.count() == 2)
    // "executor loss": the checkpoint blocks vanish; lineage was truncated
    // at checkpoint time, so the frame is unrecoverable and must fail
    // LOUDLY (silent empty results would corrupt a solve)
    leafRdd(lc).unpersist(blocking = true)
    val e = intercept[Exception](lc.count())
    assert(Option(e.getMessage).exists(m =>
      m.contains("Checkpoint block") || m.contains("block") ||
        m.contains("Block")),
      s"expected a missing-block failure, got: ${e.getMessage.take(200)}")
  }

  test("release refuses paths it did not write") {
    // a user-loaded parquet relation must never be deleted, even though it
    // is structurally identical to a parquet-policy frame
    val dir = java.nio.file.Files.createTempDirectory("graft-user-parquet")
    val p = dir.toString + "/t"
    Seq((1L, "x")).toDF("id", "t").write.parquet(p)
    val loaded = spark.read.parquet(p)
    Materialise.release(loaded)
    assert(new java.io.File(p).exists, "user parquet must not be deleted")
    assert(loaded.count() == 1)
    // nor may a user's own checkpoint lose its blocks: it is an RDD leaf
    // exactly like a lineage break's, but graft did not create it
    val mine = Seq((1L, "x")).toDF("id", "t").localCheckpoint(eager = true)
    Materialise.release(mine)
    assert(cachedPartitions(mine) > 0, "user checkpoint must keep its blocks")
    assert(mine.count() == 1)
  }
}
