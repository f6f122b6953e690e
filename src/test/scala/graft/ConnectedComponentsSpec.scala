package graft

import graft.clustering.ConnectedComponents
import graft.operators.Decide
import scala.util.Random

/** CC vs a driver-side union-find oracle, incl. random graphs — mirrors
  * reference `tests/test_cc_random_graphs.py:13-21`. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def onPath[T](p: Decide.Path)(body: => T): T =
    Decide.forcing(Decide.Collect -> p)(body)
  private def distributed[T](body: => T): T =
    onPath(Decide.Collect.Distributed)(body)

  test("raw fast path: null endpoints dropped like the symmetric filter; " +
      "mixed id widths fall back to the coercing path") {
    // on both paths the null-endpoint edge must vanish entirely (node 42
    // has no non-null edge -> absent from output), as the distributed
    // level's neighbour filter drops it
    val e = Seq((java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L)),
        (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(42L)))
      .toDF("unique_id_l", "unique_id_r").localCheckpoint(true)
    // int src vs long dst: the edge list coerces both columns to long
    val m = Seq((1, 2L)).toDF("a", "b")
      .selectExpr("CAST(a AS INT) AS unique_id_l", "b AS unique_id_r")
      .localCheckpoint(true)
    for (p <- Decide.Collect.paths) onPath(p) {
      val got = ConnectedComponents.run(e).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L), s"$p")
      val out = ConnectedComponents.run(m)
      assert(out.schema.map(_.dataType).distinct ==
        Seq(org.apache.spark.sql.types.LongType), s"$p")
      val gotM = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotM == Map(1L -> 1L, 2L -> 1L), s"$p")
    }
  }

  test("simple chain and separate component") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("unique_id_l", "unique_id_r")
    val got = ConnectedComponents.run(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("adversarial: long path with decreasing ids meets low id late") {
    // path 5-6, 6-4, 4-7, 7-1 : min label 1 must traverse whole path
    val edges = Seq((5L, 6L), (6L, 4L), (4L, 7L), (7L, 1L)).toDF("unique_id_l", "unique_id_r")
    val got = distributed(ConnectedComponents.run(edges).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(1L))
  }

  test("jump-cap valve fails loudly instead of returning unconverged labels") {
    // a monotone path leaves pointer chains that need several jumps to
    // reach closure; with the cap forced to 1 the loop must THROW (a
    // silent return would hand back non-canonical labels)
    val n = 24
    val edges = (1 until n).map(i => (i.toLong, (i + 1).toLong))
      .toDF("unique_id_l", "unique_id_r")
    val ex = intercept[IllegalStateException] {
      distributed(ConnectedComponents.solve(edges, "unique_id_l",
        "unique_id_r", assumeDistinctPairs = false, maxJumps = 1).collect())
    }
    assert(ex.getMessage.contains("jump cap"))
    assert(ex.getMessage.contains("still moving"))
    // same graph under the default cap converges fine
    val got = distributed(ConnectedComponents.run(edges).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(1L))
  }

  test("forced DISK_ONLY spill mode: identical labels on the distributed path") {
    // forcing the spill decision makes every level's frames (symmetric,
    // pointer table, jump slices, contraction, compose) DISK_ONLY — the
    // adaptive mode the sf100 probe showed is mandatory once the live
    // block set approaches storage capacity (on-heap checkpoints starved
    // the propagation aggregate into AGGREGATE_OUT_OF_MEMORY at 135M
    // edges). Forcing it at test scale pins that the off-heap path is
    // value-identical, including through a contraction + recursion level.
    val rng = new Random(7)
    val edges = ((1 to 300).map(_ =>
      (rng.nextInt(120).toLong, rng.nextInt(120).toLong))
      ++ (200 until 260).map(i => (i.toLong, (i + 1).toLong)))
      .filter(e => e._1 != e._2)
    val expected = GraphOracle.components(edges)
    val got = Decide.forcing(Decide.Spill -> Decide.Spill.DiskOnly,
        Decide.Collect -> Decide.Collect.Distributed) {
      ConnectedComponents.run(edges.toDF("unique_id_l", "unique_id_r"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(got == expected)
  }

  test("random graphs match union-find oracle (driver and distributed paths)") {
    val rng = new Random(42)
    for (trial <- 1 to 4) {
      val n = 60 + trial * 20
      val m = n * 3 / 2
      val edges = (1 to m).map(_ =>
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)).filter(e => e._1 != e._2)
      val expected = GraphOracle.components(edges)
      // driver path (the unforced decision at this size)
      val gotDriver = ConnectedComponents.run(edges.toDF("unique_id_l", "unique_id_r"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotDriver == expected, s"driver path trial $trial")
      // distributed iterative path
      val gotDist = distributed(ConnectedComponents
        .run(edges.toDF("unique_id_l", "unique_id_r"))
        .collect()).map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotDist == expected, s"distributed path trial $trial")
    }
  }

  test("level cap fails loudly instead of returning unmerged labels") {
    // stars whose centre id EXCEEDS the leaf ids: the pointer forest has
    // several trees per component, so the first level's contraction is
    // non-empty and a second level is needed; with the cap forced to 1
    // the solve must THROW (a silent return would hand back labels that
    // split components)
    val stars = Seq((55L, 51L), (55L, 52L), (55L, 53L),
      (105L, 101L), (105L, 102L)).toDF("unique_id_l", "unique_id_r")
    val ex = intercept[IllegalStateException] {
      distributed(ConnectedComponents.solve(stars, "unique_id_l",
        "unique_id_r", assumeDistinctPairs = false, maxLevels = 1).collect())
    }
    assert(ex.getMessage.contains("level cap"), ex.getMessage)
    val got = distributed(ConnectedComponents.solve(stars, "unique_id_l",
        "unique_id_r", assumeDistinctPairs = false, maxLevels = 2).collect())
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(51L -> 51L, 52L -> 51L, 53L -> 51L, 55L -> 51L,
      101L -> 101L, 102L -> 101L, 105L -> 101L))
  }

  test("the driver path reads its input once: no explode, no node_id exchange") {
    import org.apache.spark.sql.execution.{GenerateExec, QueryExecution}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.functions.{col, udf}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    // an unmaterialised join pipeline whose every row evaluation is counted
    val before = CcInputEvaluations.n.get()
    val counted = udf { (x: Long) => CcInputEvaluations.n.incrementAndGet(); x }
      .asNondeterministic()
    val left = (1L to 6L).map(i => (i, i + 1)).toDF("k", "b")
    val right = (1L to 6L).map(i => (i, i)).toDF("k", "a")
    val edges = left.join(right, "k")
      .select(counted(col("a")).as("unique_id_l"), col("b").as("unique_id_r"))
    // 16 shuffle partitions keep a node_id-keyed role exchange hash
    // partitioned (at 4 it would collapse to a single partition)
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    spark.listenerManager.register(listener)
    val got = try {
      val labels = ConnectedComponents.run(edges).collect()
      // listener events arrive asynchronously and in order: once a marker
      // query is seen, every query of the solve has been seen
      spark.range(1).toDF("cc_marker").collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.toArray(Array.empty[QueryExecution]).exists(
          _.analyzed.output.map(_.name) == Seq("cc_marker")) &&
          System.nanoTime() < deadline)
        Thread.sleep(50)
      labels
    } finally {
      spark.listenerManager.unregister(listener)
      spark.conf.set("spark.sql.shuffle.partitions", partitions)
    }
    assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (1L to 7L).map(_ -> 1L).toMap)
    assert(CcInputEvaluations.n.get() - before == 6,
      "the input pipeline was evaluated more than once")
    val aqe = new org.apache.spark.sql.execution.adaptive
      .AdaptiveSparkPlanHelper {}
    val plans = seen.toArray(Array.empty[QueryExecution]).map(_.executedPlan)
    assert(plans.exists(_.toString.contains("cc_marker")))
    plans.foreach { plan =>
      assert(aqe.find(plan)(_.isInstanceOf[GenerateExec]).isEmpty,
        plan.toString)
      assert(aqe.find(plan) {
        case s: ShuffleExchangeExec => s.outputPartitioning match {
          case h: HashPartitioning => h.references.exists(_.name == "node_id")
          case _ => false
        }
        case _ => false
      }.isEmpty, plan.toString)
    }
  }
}

/** Counts evaluations of a test's input pipeline (local mode: tasks run in
  * this JVM). */
object CcInputEvaluations {
  val n = new java.util.concurrent.atomic.AtomicLong()
}
