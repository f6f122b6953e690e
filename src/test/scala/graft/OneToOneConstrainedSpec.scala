package graft

import graft.clustering.ClusteringOps
import graft.operators.Decide
import graft.training.Training

class OneToOneConstrainedSpec extends SparkSpec {
  import spark.implicits._

  private val driver = Decide.Collect.Driver
  private val distributed = Decide.Collect.Distributed
  private def onPath[T](p: Decide.Path)(body: => T): T =
    Decide.forcing(Decide.Collect -> p)(body)

  test("constrained one-to-one chains across three duplicate-free datasets") {
    // a1-b1 (0.9), b1-c1 (0.8): cluster should grow to {a1,b1,c1}
    val edges = Seq((1L, 2L, 0.9), (2L, 3L, 0.8))
      .toDF("unique_id_l", "unique_id_r", "match_probability")
    val ds = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("node_id", "source_dataset")
    val got = ClusteringOps.oneToOneConstrained(edges, ds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet.size == 1, s"expected one cluster, got $got")
  }

  test("constraint blocks a merge that would duplicate a dataset") {
    // a1-b1 (0.9); b1-a2 (0.8): a2 cannot join {a1,b1} (two 'a' records)
    val edges = Seq((1L, 2L, 0.9), (2L, 10L, 0.8))
      .toDF("unique_id_l", "unique_id_r", "match_probability")
    val ds = Seq((1L, "a"), (2L, "b"), (10L, "a")).toDF("node_id", "source_dataset")
    val got = ClusteringOps.oneToOneConstrained(edges, ds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == got(2L))
    assert(got(10L) != got(1L))
  }

  test("reproduces the reference's published example 1 partitions " +
      "(test_cluster_using_single_best_links.py)") {
    // graphPlayground example 1: expected clusters {0,1,2} {3,4,5} {6,7}
    val edges = Seq(
      (0L, 1L, 0.90), (1L, 2L, 0.70), (3L, 5L, 0.85),
      (4L, 5L, 0.90), (6L, 5L, 0.80), (6L, 7L, 0.70))
      .toDF("unique_id_l", "unique_id_r", "match_probability")
    val ds = Seq((0L, "a"), (1L, "b"), (2L, "c"), (3L, "a"), (4L, "b"),
      (5L, "c"), (6L, "a"), (7L, "b"), (8L, "c"))
      .toDF("node_id", "source_dataset")
    val got = ClusteringOps.oneToOneConstrained(edges, ds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val partitions = got.groupBy(_._2).values.map(_.keySet).toSet
    assert(partitions == Set(Set(0L, 1L, 2L), Set(3L, 4L, 5L), Set(6L, 7L)),
      s"got $partitions")
    // node 8 has no edges -> stays out of the membership frame (singleton)
    assert(!got.contains(8L))
  }

  test("reproduces the reference's published example 2 partitions") {
    // graphPlayground example 2 (string ids, a cycle, a 'd' dataset):
    // expected clusters {1,6} {3,4,7}; 2 and 5 stay singletons
    val edges = Seq(
      ("1", "2", 0.92), ("2", "3", 0.91), ("3", "4", 0.99), ("4", "5", 0.88),
      ("5", "6", 0.90), ("6", "1", 0.96), ("4", "7", 0.91))
      .toDF("unique_id_l", "unique_id_r", "match_probability")
    val ds = Seq(("1", "a"), ("2", "b"), ("3", "a"), ("4", "b"),
      ("5", "a"), ("6", "b"), ("7", "d"))
      .toDF("node_id", "source_dataset")
    val got = ClusteringOps.oneToOneConstrained(edges, ds).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val partitions = got.groupBy(_._2).values.map(_.keySet).toSet
    assert(partitions == Set(Set("1", "6"), Set("3", "4", "7"),
      Set("2"), Set("5")), s"got $partitions")
  }

  test("mutual-best tie resolution is deterministic") {
    // b1's best is a1 (0.9 > 0.8); a2 left unmatched with c1? c1-a2 mutual
    val edges = Seq((1L, 2L, 0.9), (2L, 10L, 0.8), (10L, 20L, 0.7))
      .toDF("unique_id_l", "unique_id_r", "match_probability")
    val ds = Seq((1L, "a"), (2L, "b"), (10L, "a"), (20L, "c"))
      .toDF("node_id", "source_dataset")
    val got = ClusteringOps.oneToOneConstrained(edges, ds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == got(2L))
    assert(got(10L) == got(20L))
    assert(got(1L) != got(10L))
  }

  test("ties_method='drop' drops equal-probability links into one " +
      "duplicate-free dataset, keeps cross-dataset ties") {
    // a1 ties between b1 and b2 at 0.9 (same dataset 'b') -> both links
    // dropped; a1-c1 at 0.9 is a tie ACROSS datasets -> kept
    // (`clustering.py:210-217`'s worked example)
    val edges = Seq((1L, 2L, 0.9), (1L, 3L, 0.9), (1L, 4L, 0.9))
      .toDF("unique_id_l", "unique_id_r", "match_probability")
    val ds = Seq((1L, "a"), (2L, "b"), (3L, "b"), (4L, "c"))
      .toDF("node_id", "source_dataset")
    val dropped = ClusteringOps.oneToOneConstrained(edges, ds,
        tiesMethod = "drop").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // b1/b2 links gone entirely -> 2 and 3 absent from membership
    assert(!dropped.contains(2L) && !dropped.contains(3L))
    assert(dropped(1L) == dropped(4L))
    // default lowest_id instead keeps the tie and picks b1 (lowest id)
    val lowest = ClusteringOps.oneToOneConstrained(edges, ds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lowest(1L) == lowest(2L))
    // round 2 then merges c1 too (cluster {a,b} has no 'c' record);
    // only the second 'b' record stays blocked
    assert(lowest(4L) == lowest(1L))
    assert(lowest(3L) != lowest(1L))
  }

  test("duplicateFreeDatasets subset: unconstrained datasets may repeat " +
      "inside a cluster") {
    // two 'x' records chained through a 'a' record; with only 'a'
    // duplicate-free the whole chain merges, with all datasets
    // duplicate-free the second 'x' is blocked
    val edges = Seq((1L, 2L, 0.9), (2L, 3L, 0.8))
      .toDF("unique_id_l", "unique_id_r", "match_probability")
    val ds = Seq((1L, "x"), (2L, "a"), (3L, "x")).toDF("node_id", "source_dataset")
    val subset = ClusteringOps.oneToOneConstrained(edges, ds,
        duplicateFreeDatasets = Some(Seq("a"))).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(subset.values.toSet.size == 1, s"expected one cluster, got $subset")
    val all = ClusteringOps.oneToOneConstrained(edges, ds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(all(3L) != all(1L))
    // invalid method fails loudly with the reference's message
    val err = intercept[IllegalArgumentException](
      ClusteringOps.oneToOneConstrained(edges, ds, tiesMethod = "nope"))
    assert(err.getMessage.contains("ties_method must be one of"))
  }

  test("constrained driver fast path equals the distributed loop " +
      "(incl. drop ties and subset constraints)") {
    val rng = new scala.util.Random(99)
    // coarse probabilities manufacture genuine ties; ~10% null and ~10%
    // NaN probabilities and one node in seven with a null dataset stress
    // the null paths of both solvers and of the tie drop
    val raw = Seq.fill(60)((rng.nextInt(20).toLong, rng.nextInt(20).toLong,
        rng.nextInt(10) match {
          case 0 => None
          case 1 => Some(Double.NaN)
          case _ => Some((rng.nextInt(5) + 1) / 5.0)
        }))
      .filter { case (a, b, _) => a != b }
    val edges = raw.toDF("unique_id_l", "unique_id_r", "match_probability")
    val dsRows = (0L until 20L).map(n =>
        (n, if (n % 7 == 6) None else Some(s"d${n % 4}")))
    val ds = dsRows.toDF("node_id", "source_dataset")
    for (ties <- Seq("lowest_id", "drop");
         dup <- Seq(None, Some(Seq("d0", "d1")));
         rounds <- Seq(1, 10)) {
      val expect = GraphOracle.oneToOne(raw, GraphOracle.DatasetDisjoint(
        dsRows, dup, dropTies = ties == "drop"), rounds)
      for (p <- Seq(driver, distributed)) {
        val got = onPath(p) {
          ClusteringOps.oneToOneConstrained(edges, ds, maxRounds = rounds,
              tiesMethod = ties, duplicateFreeDatasets = dup)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        assert(got == expect,
          s"path $p ties=$ties dup=$dup maxRounds=$rounds: $got vs $expect")
      }
    }
  }

  test("property: random graphs + random duplicate-free subsets agree " +
      "between the driver path and the forced-distributed loop over " +
      "multiple merge rounds") {
    // The distributed loop maintains cluster states + candidate edges
    // INCREMENTALLY across rounds (sound iff constraint sets only grow);
    // the reference-example corpus above never runs deep enough to catch
    // a monotonicity slip. Force >= 3 merge rounds per trial with a
    // planted strictly-descending-probability path (mutual-best matches
    // exactly one path pair per round), then scatter random edges and a
    // random duplicate-free subset on top. Both paths must equal the
    // from-scratch round simulator.
    val rng = new scala.util.Random(1234)
    val allDs = Seq("a", "b", "c", "d")
    for (trial <- 1 to 5) {
      val n = 24 + trial * 8
      // planted path 1-2-3-...-8 with strictly decreasing p: pairs
      // (1,2), (3,4), (5,6), (7,8) match in SUCCESSIVE rounds (v3's best
      // is v2 until round 2, etc.) -> >= 4 merge rounds guaranteed
      val path = (1 until 8).map(i =>
        (i.toLong, (i + 1).toLong, Option(0.99 - 0.01 * i)))
      // random extra edges with distinct probabilities below the path's
      val extra = (1 to n * 2).map { k =>
        (rng.nextInt(n).toLong + 1L, rng.nextInt(n).toLong + 1L,
          Option(0.90 - k * 1e-4))
      }.filter(e => e._1 != e._2)
      val raw = path ++ extra
      val edges = raw.toDF("unique_id_l", "unique_id_r", "match_probability")
      val dsRows = (1 to n).map(i =>
        (i.toLong, Option(allDs(rng.nextInt(allDs.size)))))
      val ds = dsRows.toDF("node_id", "source_dataset")
      val dupFree = trial % 3 match {
        case 0 => None // every dataset constrains
        case 1 => Some(Seq("a", "b"))
        case _ => Some(Seq(allDs(rng.nextInt(allDs.size))))
      }
      val ties = if (trial % 2 == 0) "drop" else "lowest_id"
      // trial 3 stops after two of the planted path's rounds
      val rounds = if (trial == 3) 2 else 10
      val expect = GraphOracle.oneToOne(raw, GraphOracle.DatasetDisjoint(
        dsRows, dupFree, dropTies = ties == "drop"), rounds)
      for (p <- Seq(driver, distributed)) {
        val got = onPath(p) {
          ClusteringOps.oneToOneConstrained(edges, ds, maxRounds = rounds,
              duplicateFreeDatasets = dupFree, tiesMethod = ties)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        assert(got == expect, s"trial $trial (dupFree=$dupFree ties=$ties " +
          s"maxRounds=$rounds) on $p:\ngot=$got\nexpect=$expect")
      }
      assert(expect.exists { case (node, label) => node != label })
    }
  }

  test("blocking-adjusted lambda reverses deactivated bayes factors") {
    val people = Seq(
      (0L, "John", "Smith", "1990-01-01"),
      (1L, "John", "Smith", "1990-01-01"),
      (2L, "Mary", "Jones", "1985-05-05"),
      (3L, "Mary", "Jones", "1985-05-06"),
      (4L, "Pete", "Brown", "1970-12-31"),
      (5L, "Alice", "Brown", "1970-12-31")
    ).toDF("unique_id", "first_name", "surname", "dob")
    import graft.model._
    import graft.model.{LevelLibrary => ll}
    val s = LinkSettings(
      blockingRules = Seq(BlockingRule.blockOn("surname")),
      comparisons = Seq(
        Comparison("first_name", Seq(ll.nullLevel("first_name"),
          ll.exactMatch("first_name").withM(0.9).withU(0.05),
          ll.elseLevel.withM(0.1).withU(0.95))),
        Comparison("dob", Seq(ll.nullLevel("dob"),
          ll.exactMatch("dob").withM(0.9).withU(0.05),
          ll.elseLevel.withM(0.1).withU(0.95)))),
      probabilityTwoRandomRecordsMatch = 0.01)
    // train with a rule on dob -> dob comparison deactivated
    val r = Training.expectationMaximisation(Seq("t" -> people), s,
      BlockingRule.blockOn("dob"))
    assert(r.deactivated == Seq("dob"))
    // global lambda = session lambda with the dob exact-match bayes factor
    // (0.9/0.05 = 18) reversed -> strictly smaller
    assert(r.trainedLambdaGlobal < r.trainedLambda)
    val odds = (p: Double) => p / (1 - p)
    assert(math.abs(odds(r.trainedLambda) / odds(r.trainedLambdaGlobal) - 18.0) < 1e-6)
  }

  test("null match_probability sorts last, driver and distributed agree") {
    // node 2's real-probability edge to 3 beats its null edge to 1: the
    // distributed window ORDER BY p DESC puts nulls last, and the driver
    // replay mirrors null as -Inf instead of throwing an NPE
    val edges = Seq((1L, 2L, None), (2L, 3L, Some(0.5)))
      .toDF("unique_id_l", "unique_id_r", "match_probability")
    val ds = Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("node_id", "source_dataset")
    def run(p: Decide.Path) = onPath(p) {
      ClusteringOps.oneToOneConstrained(edges, ds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val onDriver = run(driver)
    val dist = run(distributed)
    assert(onDriver == dist, s"driver $onDriver vs distributed $dist")
    // round 1 merges the mutual-best real edge {2,3}; the null edge then
    // chains 1 in (no dataset conflict) — one cluster either way
    assert(onDriver.values.toSet.size == 1 &&
      onDriver.keySet == Set(1L, 2L, 3L))
  }

  test("ties_method drop discards null-probability edges on both paths") {
    // the distributed drop path's final semi-join equates on p, so a null
    // edge can never match a kept row — the driver replay must drop it too
    val edges = Seq[(Long, Long, Option[Double])]((1L, 2L, None))
      .toDF("unique_id_l", "unique_id_r", "match_probability")
    val ds = Seq((1L, "a"), (2L, "b")).toDF("node_id", "source_dataset")
    def run(p: Decide.Path) = onPath(p) {
      ClusteringOps.oneToOneConstrained(edges, ds, tiesMethod = "drop")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(run(driver) == Map.empty, "driver replay kept a null edge")
    assert(run(distributed) == Map.empty, "distributed path kept a null edge")
  }

  test("a null source_dataset never constrains, on both paths") {
    // node 2 exists only with a NULL dataset row: it behaves exactly like
    // a node absent from nodeDatasets — it constrains no merge but can
    // still be merged. The driver replay must mirror the distributed
    // loop's collect_set, which silently drops nulls.
    val edges = Seq((1L, 2L, 0.9), (1L, 3L, 0.4))
      .toDF("unique_id_l", "unique_id_r", "match_probability")
    val ds = Seq((1L, Some("a")), (2L, None), (3L, Some("c")))
      .toDF("node_id", "source_dataset")
    def run(p: Decide.Path) = onPath(p) {
      ClusteringOps.oneToOneConstrained(edges, ds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val onDriver = run(driver)
    val dist = run(distributed)
    assert(onDriver == dist, s"driver $onDriver vs distributed $dist")
    // round 1 merges mutual-best {1,2}; 3 chains in round 2 (no 'c' yet in
    // the cluster) — the null dataset never blocks either merge
    assert(onDriver == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }
}
