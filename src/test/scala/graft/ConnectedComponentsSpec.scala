package graft

import graft.clustering.ConnectedComponents
import graft.operators.Decide
import org.scalacheck.Gen
import scala.util.Random

/** CC vs a driver-side union-find oracle, incl. random graphs — mirrors
  * reference `tests/test_cc_random_graphs.py:13-21`. */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("raw fast path: null endpoints dropped like the symmetric filter; " +
      "mixed id widths fall back to the coercing path") {
    // checkpointed input = raw driver path; the null-endpoint edge must
    // vanish entirely (node 42 has no non-null edge -> absent from output)
    val e = Seq((java.lang.Long.valueOf(1L), java.lang.Long.valueOf(2L)),
        (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(42L)))
      .toDF("unique_id_l", "unique_id_r").localCheckpoint(true)
    val got = ConnectedComponents.run(e).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L))
    // int src vs long dst: the raw path cannot type a single-column
    // schema, so run() must take the symmetric (coercing) path and still
    // produce the right clusters
    val m = Seq((1, 2L)).toDF("a", "b")
      .selectExpr("CAST(a AS INT) AS unique_id_l", "b AS unique_id_r")
      .localCheckpoint(true)
    val gotM = ConnectedComponents.run(m).collect()
      .map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong)).toMap
    assert(gotM == Map(1L -> 1L, 2L -> 1L))
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
    val got = ConnectedComponents.run(edges, smallGraphThreshold = 0L).collect()
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
      ConnectedComponents.solve(edges, "unique_id_l", "unique_id_r",
        maxIterations = 60, eager = false, smallGraphThreshold = 0L,
        assumeDistinctPairs = false, maxJumps = 1).collect()
    }
    assert(ex.getMessage.contains("jump cap"))
    assert(ex.getMessage.contains("still moving"))
    // same graph under the default cap converges fine
    val got = ConnectedComponents.run(edges, smallGraphThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
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
    val got = Decide.forcing(Decide.Spill -> Decide.Spill.DiskOnly) {
      ConnectedComponents
        .run(edges.toDF("unique_id_l", "unique_id_r"), smallGraphThreshold = 0L)
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
      // driver fast path (default threshold)
      val gotDriver = ConnectedComponents.run(edges.toDF("unique_id_l", "unique_id_r"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotDriver == expected, s"driver path trial $trial")
      // distributed iterative path (threshold 0 forces it)
      val gotDist = ConnectedComponents.run(edges.toDF("unique_id_l", "unique_id_r"),
        smallGraphThreshold = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotDist == expected, s"distributed path trial $trial")
    }
  }
}
