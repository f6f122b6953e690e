package graft

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.DataFrame
import graft.clustering.{ClusteringOps, ConnectedComponents}
import graft.model._
import graft.model.{LevelLibrary => ll}
import graft.operators.Decide
import graft.pipeline.CorpusOps
import graft.training.Training

/** Every decision kind of [[Decide]], forced each way on a tiny input,
  * against a brute-force or independent oracle. A kind without a check
  * fails the enumeration test. */
class DecisionSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` and returns the `graft` logger's DEBUG lines it caused. */
  def events[T](body: => T): (T, Seq[String]) = {
    val logger = LogManager.getLogger("graft").asInstanceOf[Logger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // a unique name: loggers key appenders by name, and calls nest
    val appender = new AbstractAppender(s"decisions-${System.nanoTime}",
        null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val level = logger.getLevel
    logger.addAppender(appender)
    // through the configuration, so a context reload keeps the level
    Configurator.setLevel("graft", Level.DEBUG)
    try {
      val out = body
      (out, seen.toArray(Array.empty[String]).toSeq)
    } finally {
      logger.removeAppender(appender)
      Configurator.setLevel("graft", level)
      appender.stop()
    }
  }

  /** Random multi-component graph plus a monotone path: the path needs
    * several pointer jumps and a contraction level to reach closure. */
  val graph: Seq[(Long, Long)] = {
    val rng = new scala.util.Random(11)
    ((1 to 120).map(_ => (rng.nextInt(60).toLong, rng.nextInt(60).toLong)) ++
      (100 until 140).map(i => (i.toLong, (i + 1).toLong)))
      .filter(e => e._1 != e._2)
  }

  def assertCc(): Unit =
    assert(ConnectedComponents.run(graph.toDF("unique_id_l", "unique_id_r"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      GraphOracle.components(graph))

  def forcedDistributed[T](pins: (Decide.Kind, Decide.Path)*)(body: => T): T =
    Decide.forcing((Decide.Collect -> Decide.Collect.Distributed) +: pins: _*)(
      body)

  /** Edges with coarse (tied) probabilities over nodes that carry one or
    * two datasets: the tie-drop takes its multi-dataset branch. */
  val o2oRaw: Seq[(Long, Long, Option[Double])] = {
    val rng = new scala.util.Random(5)
    Seq.fill(70)((rng.nextInt(30).toLong, rng.nextInt(30).toLong,
        Option((rng.nextInt(5) + 1) / 5.0)))
      .filter { case (a, b, _) => a != b }
  }
  val o2oEdges: DataFrame =
    o2oRaw.toDF("unique_id_l", "unique_id_r", "match_probability")
  val o2oDatasetRows: Seq[(Long, Option[String])] = (0 until 30).flatMap { i =>
    Seq(i.toLong -> Option(Seq("a", "b", "c")(i % 3))) ++
      (if (i % 7 == 0) Seq(i.toLong -> Option("d")) else Nil)
  }
  val o2oDatasets: DataFrame = o2oDatasetRows.toDF("node_id", "source_dataset")
  val o2oDuplicateFree = Seq("a", "b", "d")

  def oneToOneConstrained(): Map[Long, Long] =
    ClusteringOps.oneToOneConstrained(o2oEdges, o2oDatasets,
        duplicateFreeDatasets = Some(o2oDuplicateFree), tiesMethod = "drop")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  def oneToOne(): Map[Long, Long] = ClusteringOps.oneToOne(o2oEdges)
    .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Runs one-to-one under both merge rules against the round simulator,
    * asserting each run reported a forced `what` decision. */
  def assertOneToOne(what: String): Unit = {
    val rules = Seq(
      (GraphOracle.Singletons, () => oneToOne()),
      (GraphOracle.DatasetDisjoint(o2oDatasetRows, Some(o2oDuplicateFree),
        dropTies = true), () => oneToOneConstrained()))
    rules.foreach { case (rule, solve) =>
      val (got, seen) = events(solve())
      assert(got == GraphOracle.oneToOne(o2oRaw, rule, 10), s"under $rule")
      assert(seen.exists(s => s.contains(what) && s.endsWith("forced=true")),
        s"$rule reported no forced '$what' among:\n${seen.mkString("\n")}")
    }
  }

  /** Exact expected agreement-pattern counts of a planted model. */
  val mTrue = Array(Map(1 -> 0.9, 0 -> 0.1), Map(1 -> 0.8, 0 -> 0.2))
  val uTrue = Array(Map(1 -> 0.2, 0 -> 0.8), Map(1 -> 0.3, 0 -> 0.7))
  val lambdaTrue = 0.3
  def plantedPatterns: DataFrame = (for (g0 <- 0 to 1; g1 <- 0 to 1) yield {
    val p = lambdaTrue * mTrue(0)(g0) * mTrue(1)(g1) +
      (1 - lambdaTrue) * uTrue(0)(g0) * uTrue(1)(g1)
    (g0, g1, math.round(p * 1000000L))
  }).toDF("g0", "g1", "n").repartition(2)

  def assertEmRecovers(): Unit = {
    val mInit = Array(Map(1 -> 0.7, 0 -> 0.3), Map(1 -> 0.6, 0 -> 0.4))
    val (core, _) = Training.emOverPatterns(plantedPatterns, 2, Nil, mInit,
      uTrue, 0.1, fixU = true, maxIterations = 400, tolerance = 1e-7,
      fixM = false, fixLambda = false)
    assert(math.abs(core.lambda - lambdaTrue) < 1e-2, s"λ=${core.lambda}")
    for (i <- 0 to 1)
      assert(math.abs(core.m(i)(1) - mTrue(i)(1)) < 1e-2, s"m$i=${core.m(i)}")
  }

  val peopleRows: Seq[(Long, String, String, String)] = Seq(
    (0L, "John", "Smith", "london"), (1L, "Jon", "Smith", "london"),
    (2L, "Mary", "Jones", "leeds"), (3L, "Mary", "Jones", "york"),
    (4L, "Mary", "Jones", "leeds"))
  def people: DataFrame =
    peopleRows.toDF("unique_id", "first_name", "surname", "city")

  /** Blocked pairs on surname, against every same-surname pair. */
  def assertBlockedPairs(): Unit = {
    val got = graft.operators.Blocking.blockedIdPairs(people, linkSettings)
      .select("join_key_l", "join_key_r").as[(Long, Long)].collect().toSet
    assert(got == (for (a <- peopleRows; b <- peopleRows
      if a._1 < b._1 && a._3 == b._3) yield (a._1, b._1)).toSet)
  }

  def linkSettings: LinkSettings = LinkSettings(
    blockingRules = Seq(BlockingRule.blockOn("surname")),
    comparisons = Seq(
      Comparison("first_name", Seq(ll.nullLevel("first_name"),
        ll.exactMatch("first_name").withM(0.9).withU(0.1),
        ll.jaroWinkler("first_name", 0.9).withM(0.05).withU(0.1),
        ll.elseLevel.withM(0.05).withU(0.8))),
      Comparison("city", Seq(ll.nullLevel("city"),
        ll.exactMatch("city", tfAdjustment = true).withM(0.8).withU(0.2),
        ll.elseLevel.withM(0.2).withU(0.8)))),
    probabilityTwoRandomRecordsMatch = 0.01)

  def predictRows(): Seq[String] = new Linker(people, linkSettings).predict()
    .select("unique_id_l", "unique_id_r", "match_probability")
    .collect().map(_.toString).sorted.toSeq

  def tfidfRows(): Seq[String] = CorpusOps.tfidfTopK(
      Seq((1L, "a b b c"), (2L, "b c d d d"), (3L, "e a a")).toDF("id", "text"),
      "id", "text", 2)
    .collect().map(_.toString).sorted.toSeq

  /** One check per kind: runs the algorithms behind the kind with the
    * decision forced to the given path, asserts they match an oracle, and
    * returns event fragments that prove the path was exercised. */
  val checks: Map[Decide.Kind, Decide.Path => Seq[String]] = Map(
    Decide.Collect -> { p =>
      Decide.forcing(Decide.Collect -> p) {
        assertCc()
        assertOneToOne(s"what=one_to_one.edges path=${p.name}")
        assertEmRecovers()
      }
      Seq("cc.edges", "one_to_one.edges", "em.patterns")
        .map(w => s"what=$w path=${p.name}")
    },
    Decide.Broadcast -> { p =>
      val predicted = predictRows()
      val tfidf = tfidfRows()
      Decide.forcing(Decide.Broadcast -> p) {
        assert(predictRows() == predicted)
        assert(tfidfRows() == tfidf)
      }
      forcedDistributed(Decide.Broadcast -> p) {
        assertOneToOne(s"what=one_to_one.merges path=${p.name}")
      }
      // the split loop's semi-reduced lookup, broadcast or shuffled
      forcedDistributed(Decide.Broadcast -> p,
          Decide.JumpSplit -> Decide.JumpSplit.Split)(assertCc())
      Seq("linker.records", "tfidf.vocabulary", "one_to_one.pairs",
        "one_to_one.merges", "one_to_one.node_datasets",
        "drop_ties.node_datasets", "cc.jump_lookup")
        .map(w => s"what=$w path=${p.name}")
    },
    Decide.Spill -> { p =>
      forcedDistributed(Decide.Spill -> p)(assertCc())
      Seq(s"what=cc.neighbours path=${p.name}")
    },
    Decide.JumpSplit -> { p =>
      forcedDistributed(Decide.JumpSplit -> p)(assertCc())
      Seq(s"what=cc.jumps path=${p.name}")
    },
    Decide.Widen -> { p =>
      val predicted = predictRows()
      Decide.forcing(Decide.Widen -> p) {
        assertBlockedPairs()
        assert(predictRows() == predicted)
      }
      // CC's driver-held labels, and its loop frame, widened or at the
      // edge leaf's own count
      Decide.forcing(Decide.Widen -> p)(assertCc())
      forcedDistributed(Decide.Widen -> p)(assertCc())
      Seq("blocking.records", "cc.labels", "cc.partitions")
        .map(w => s"what=$w path=${p.name}")
    })

  test("every decision kind has a check") {
    assert(checks.keySet == Decide.kinds.toSet)
  }

  for (kind <- Decide.kinds; path <- kind.paths)
    test(s"${kind.name} forced to ${path.name} matches its oracle") {
      val check = checks.getOrElse(kind, fail(s"no check for $kind"))
      val (expected, seen) = events(check(path))
      expected.foreach(e => assert(seen.exists(s => s.contains(e) &&
        s.contains(s"kind=${kind.name}") && s.endsWith("forced=true")),
        s"no forced event '$e' among:\n${seen.mkString("\n")}"))
    }

  test("a decision is reported as one DEBUG event with kind and path") {
    val edges = spark.range(1, 6).selectExpr("id AS unique_id_l",
      "id + 1 AS unique_id_r")
    // the driver path reports exactly two decisions: the collect, and
    // the partitioning of the driver-held labels
    val (_, seen) = events(ConnectedComponents.run(edges).collect())
    assert(seen.size == 2, seen.mkString("\n"))
    assert(seen.head.startsWith("decision kind=collect what=cc.edges " +
      "path=driver measured=10 "), seen.head)
    assert(seen(1).startsWith("decision kind=widen what=cc.labels " +
      "path=repartition measured=1 "), seen(1))
    assert(seen.forall(_.endsWith("forced=false")))
  }

  test("CC's spill decision reads the edge leaf's measured bytes") {
    // MinHash candidate pairs: a self-join pipeline whose optimizer size
    // estimate is astronomically high; the spill decision must read the
    // bytes the counted edge leaf holds instead
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again!"),
      (3L, "entirely different text about spark catalyst optimizer rules"),
      (4L, "entirely different text about spark catalyst optimizer rules"),
      (5L, "nothing like the others at all, a unique snowflake document"))
      .toDF("doc_id", "text")
    val (kept, seen) = events(forcedDistributed() {
      graft.pipeline.DedupOps.dedupeByMinhash(docs, "doc_id", "text",
        threshold = 0.5).collect()
    })
    assert(kept.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L))
    val spill = seen.filter(_.contains("what=cc.neighbours"))
    assert(spill.size == 1, seen.mkString("\n"))
    val measured = BigInt("measured=(\\d+)".r
      .findFirstMatchIn(spill.head).get.group(1))
    val leaf = ConnectedComponents.edgeList(graft.pipeline.DedupOps
      .minhashDedupPairs(docs, "doc_id", "text", threshold = 0.5),
      "id_l", "id_r")
    leaf.count()
    val leafBytes = graft.operators.Materialise.materialisedSizeBytes(leaf)
      .getOrElse(fail("the counted leaf has no readable size"))
    graft.operators.Materialise.release(leaf)
    assert(leafBytes > 0)
    assert(measured == BigInt(leafBytes) * 2, spill.head)
    assert(measured < (BigInt(1) << 50), spill.head)
  }
}
