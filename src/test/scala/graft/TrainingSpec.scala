package graft

import org.apache.spark.sql.functions._
import graft.model._
import graft.model.{LevelLibrary => ll}
import graft.operators.Decide
import graft.training.Training
import graft.training.Training.Pattern

/** Statistical correctness of training — mirrors reference
  * `tests/test_correctness_of_convergence.py`: EM over patterns generated
  * from KNOWN parameters must recover them. */
class TrainingSpec extends SparkSpec {
  import spark.implicits._

  test("EM core recovers known m/u/lambda from exact expected counts") {
    // 2 comparisons x 2 levels; true params:
    val mTrue = Array(Map(1 -> 0.9, 0 -> 0.1), Map(1 -> 0.8, 0 -> 0.2))
    val uTrue = Array(Map(1 -> 0.2, 0 -> 0.8), Map(1 -> 0.3, 0 -> 0.7))
    val lamTrue = 0.3
    val n = 1000000L
    val patterns = for (g1 <- Seq(0, 1); g2 <- Seq(0, 1)) yield {
      val pMatch = lamTrue * mTrue(0)(g1) * mTrue(1)(g2)
      val pNon = (1 - lamTrue) * uTrue(0)(g1) * uTrue(1)(g2)
      Pattern(Array(g1, g2), math.round((pMatch + pNon) * n))
    }
    // perturbed init
    val mInit = Array(Map(1 -> 0.7, 0 -> 0.3), Map(1 -> 0.6, 0 -> 0.4))
    val core = Training.emCore(patterns, mInit, uTrue, 0.1,
      fixU = true, maxIterations = 3000, tolerance = 1e-8)
    assert(core.converged)
    assert(math.abs(core.lambda - lamTrue) < 1e-3, s"lambda=${core.lambda}")
    assert(math.abs(core.m(0)(1) - 0.9) < 1e-2, s"m0=${core.m(0)(1)}")
    assert(math.abs(core.m(1)(1) - 0.8) < 1e-2, s"m1=${core.m(1)(1)}")
  }

  // Independent planted-model oracle: pair gamma patterns drawn in plain
  // Scala from KNOWN m, u and λ — 3 comparisons with 3-4 levels, 5% null
  // gammas (-1) per comparison — so EM is checked against the truth it
  // was generated from, not against a second copy of its own arithmetic.
  private val plantedM = Array(Map(0 -> 0.05, 1 -> 0.15, 2 -> 0.8),
    Map(0 -> 0.1, 1 -> 0.1, 2 -> 0.2, 3 -> 0.6),
    Map(0 -> 0.15, 1 -> 0.25, 2 -> 0.6))
  private val plantedU = Array(Map(0 -> 0.7, 1 -> 0.25, 2 -> 0.05),
    Map(0 -> 0.6, 1 -> 0.25, 2 -> 0.1, 3 -> 0.05),
    Map(0 -> 0.8, 1 -> 0.15, 2 -> 0.05))
  private val plantedLambda = 0.25
  private def plantedPatterns(nPairs: Int, seed: Long): Seq[Pattern] = {
    val rnd = new java.util.Random(seed)
    def draw(dist: Map[Int, Double]): Int = {
      val x = rnd.nextDouble()
      val levels = dist.toSeq.sortBy(_._1)
      levels.scanLeft(0.0)(_ + _._2).tail.zip(levels)
        .collectFirst { case (cum, (g, _)) if x < cum => g }
        .getOrElse(levels.last._1)
    }
    val counts = scala.collection.mutable.Map.empty[Seq[Int], Long]
    for (_ <- 0 until nPairs) {
      val params = if (rnd.nextDouble() < plantedLambda) plantedM else plantedU
      val gammas = params.toSeq.map(d => if (rnd.nextDouble() < 0.05) -1 else draw(d))
      counts(gammas) = counts.getOrElse(gammas, 0L) + 1
    }
    counts.toSeq.sortBy(_._1.mkString(",")).map { case (g, n) =>
      Pattern(g.toArray, n) }
  }
  // init away from the truth: similar levels favoured by m, disfavoured by u
  private val plantedMInit = plantedM.map(d =>
    d.keys.map(g => g -> (g + 1.0) / d.keys.map(_ + 1.0).sum).toMap)
  private val plantedUInit = plantedU.map(d =>
    d.keys.map(g => g -> (d.size - g.toDouble) / d.keys.map(d.size - _.toDouble).sum).toMap)

  test("EM recovers a planted model's m and λ within 0.01, with u fixed " +
      "and with u free") {
    val patterns = plantedPatterns(200000, seed = 11L)
    for (fixU <- Seq(true, false)) {
      val core = Training.emCore(patterns, plantedMInit,
        if (fixU) plantedU else plantedUInit, 0.1, fixU = fixU,
        maxIterations = 2000, tolerance = 1e-9)
      assert(core.converged, s"fixU=$fixU")
      assert(math.abs(core.lambda - plantedLambda) < 0.01,
        s"fixU=$fixU λ=${core.lambda}")
      for (i <- plantedM.indices; (g, v) <- plantedM(i)) {
        assert(math.abs(core.m(i)(g) - v) < 0.01,
          s"fixU=$fixU m($i)($g)=${core.m(i)(g)} vs $v")
        if (!fixU) assert(math.abs(core.u(i)(g) - plantedU(i)(g)) < 0.01,
          s"u($i)($g)=${core.u(i)(g)} vs ${plantedU(i)(g)}")
      }
      if (fixU) assert(core.u.toSeq == plantedU.toSeq)
    }
  }

  test("EM's driver fold and distributed fold agree per parameter per " +
      "iteration on a planted model (TF terms and null terms included)") {
    val patterns = plantedPatterns(50000, seed = 12L)
    // a TF term on comparison 0's exact level; one pattern's term is null
    val tfSpecs = Seq(Training.TfSpec(0, Map(2 -> 1.0)))
    val rows = patterns.zipWithIndex.map { case (p, k) =>
      val term: java.lang.Double =
        if (p.gammas(0) != 2) Double.NaN
        else if (k == 0 || p.gammas(1) == 3) null
        else math.log(0.01 * (1 + k % 5)) / math.log(2.0)
      (p.gammas(0), p.gammas(1), p.gammas(2), term, p.count)
    }
    val df = rows.toDF("g0", "g1", "g2", "t0", "n").repartition(4).persist()
    def fit(path: Decide.Path) = Decide.forcing(Decide.Collect -> path)(
      Training.emOverPatterns(df, 3, tfSpecs,
        plantedMInit, plantedUInit, 0.1, fixU = false, maxIterations = 15,
        tolerance = 0.0, fixM = false, fixLambda = false))
    val (driver, driverObs) = fit(Decide.Collect.Driver)
    val (dist, distObs) = fit(Decide.Collect.Distributed)
    df.unpersist()
    assert(driver.iterations == 15 && dist.iterations == 15)
    driver.lambdaHistory.zip(dist.lambdaHistory).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-10, s"λ $a vs $b") }
    for ((hd, hs, what) <- Seq((driver.mHistory, dist.mHistory, "m"),
        (driver.uHistory, dist.uHistory, "u"));
        ((a, b), it) <- hd.zip(hs).zipWithIndex; i <- a.indices) {
      assert(a(i).keySet == b(i).keySet)
      a(i).foreach { case (g, v) =>
        assert(math.abs(v - b(i)(g)) <= 1e-10,
          s"$what iter $it comparison $i gamma $g: $v vs ${b(i)(g)}") }
    }
    // observed pair counts per (comparison, gamma), counted independently
    val expected = Array.tabulate(3)(i => Array.tabulate(plantedM(i).size)(g =>
      patterns.filter(_.gammas(i) == g).map(_.count).sum))
    assert(driverObs.map(_.toSeq).toSeq == expected.map(_.toSeq).toSeq)
    assert(distObs.map(_.toSeq).toSeq == expected.map(_.toSeq).toSeq)
  }

  test("EM stops at the first iteration whose max |Δparam| over m, u and λ " +
      "is below the tolerance (settings.py:116-122)") {
    val patterns = plantedPatterns(20000, seed = 13L)
    val tol = 1e-6
    // all families free, then λ alone (m and u fixed): each family's
    // change must count towards the stopping rule
    for (fixed <- Seq(false, true)) {
      def run(maxIterations: Int) = Training.emCore(patterns, plantedMInit,
        plantedUInit, 0.1, fixU = fixed, maxIterations, tol, fixM = fixed)
      val core = run(1000)
      // each recorded delta is the max |change| between consecutive
      // parameter sets of the trajectories
      val recomputed = (0 until core.iterations).map { k =>
        val dm = for (i <- plantedM.indices; (g, v) <- core.mHistory(k)(i))
          yield math.abs(core.mHistory(k + 1)(i)(g) - v)
        val du = for (i <- plantedU.indices; (g, v) <- core.uHistory(k)(i))
          yield math.abs(core.uHistory(k + 1)(i)(g) - v)
        (dm ++ du :+ math.abs(core.lambdaHistory(k + 1) - core.lambdaHistory(k))).max
      }
      assert(core.history == recomputed, s"fixed=$fixed")
      assert(core.converged && core.iterations == core.history.size)
      assert(core.iterations > 1 && core.history.last < tol, s"fixed=$fixed")
      assert(core.history.init.forall(_ >= tol),
        s"an earlier iteration was already below $tol: ${core.history}")
      assert(core.mHistory.size == core.iterations + 1)
      // one iteration short of that point: the cap stops it, unconverged
      val capped = run(core.iterations - 1)
      assert(!capped.converged && capped.iterations == core.iterations - 1)
      assert(capped.history == core.history.init)
    }
  }

  def people = Seq(
    // pairs (2k, 2k+1) are duplicates sharing surname + dob + email
    (0L, "John", "Smith", "1990-01-01", "js@x.com"),
    (1L, "Jon", "Smith", "1990-01-01", "js@x.com"),
    (2L, "Mary", "Smith", "1985-05-05", "mj@y.com"),
    (3L, "Mary", "Smith", "1985-05-05", "mj@y.com"),
    (4L, "Pete", "Jones", "1970-12-31", "pb@z.com"),
    (5L, "Peter", "Jones", "1970-12-31", "pb@z.com"),
    (6L, "Alice", "Jones", "2000-07-07", "as@w.com"),
    (7L, "Bob", "Brown", "1999-09-09", "bb@v.com"),
    (8L, "Carol", "Brown", "1998-08-08", "cc@u.com"),
    (9L, "Dave", "Brown", "1997-07-07", "dd@t.com")
  ).toDF("unique_id", "first_name", "surname", "dob", "email")

  def settings = LinkSettings(
    linkType = LinkType.DedupeOnly,
    blockingRules = Seq(BlockingRule.blockOn("surname")),
    comparisons = Seq(
      Comparison("first_name", Seq(ll.nullLevel("first_name"),
        ll.exactMatch("first_name"), ll.elseLevel)),
      Comparison("dob", Seq(ll.nullLevel("dob"),
        ll.exactMatch("dob"), ll.elseLevel)),
      Comparison("email", Seq(ll.nullLevel("email"),
        ll.exactMatch("email"), ll.elseLevel))),
    probabilityTwoRandomRecordsMatch = 0.1)

  test("estimateU sets u from random-pair gamma shares") {
    val trained = Training.estimateU(Seq("t" -> people), settings, maxPairs = 1000)
    val dob = trained.comparisonByName("dob")
    val exact = dob.activeLevels.head
    val els = dob.activeLevels.last
    // random pairs rarely share dob: u(exact) small, u(else) large
    assert(exact.u.isDefined && els.u.isDefined)
    assert(exact.u.get < 0.2, s"u_exact=${exact.u}")
    assert(els.u.get > 0.8)
    // m untouched
    assert(dob.activeLevels.head.m.isEmpty)
  }

  test("estimateMFromLabelColumn sets m from labelled matches") {
    // label: duplicates share email
    val trained = Training.estimateMFromLabelColumn(
      Seq("t" -> people), settings.copy(comparisons = settings.comparisons.take(2)),
      "email")
    val dob = trained.comparisonByName("dob")
    // all email-pairs share dob -> m(exact) high
    assert(dob.activeLevels.head.m.get > 0.9)
  }

  test("lambda from deterministic rules") {
    val trained = Training.estimateLambdaFromDeterministicRules(
      Seq("t" -> people), settings,
      Seq(BlockingRule.blockOn("dob")), recall = 0.9)
    // 3 dob-sharing pairs / 0.9 / 45 possible
    val expected = (3 / 0.9) / 45.0
    assert(math.abs(trained.probabilityTwoRandomRecordsMatch - expected) < 1e-9)
  }

  test("EM session deactivates blocked comparison and trains the rest") {
    val result = Training.expectationMaximisation(
      Seq("t" -> people),
      Training.estimateU(Seq("t" -> people), settings, maxPairs = 1000),
      BlockingRule.blockOn("surname"))
    assert(result.deactivated.isEmpty) // surname is not a comparison column
    assert(result.iterations >= 1)
    val emailM = result.settings.comparisonByName("email")
      .activeLevels.head.m
    assert(emailM.isDefined)
    // EM with a dob-based rule must deactivate the dob comparison
    val r2 = Training.expectationMaximisation(Seq("t" -> people),
      settings, BlockingRule.blockOn("dob"))
    assert(r2.deactivated == Seq("dob"))
  }

  test("fix_m / fix_lambda freeze their parameter families through EM") {
    val mInit = Array(Map(1 -> 0.7, 0 -> 0.3), Map(1 -> 0.6, 0 -> 0.4))
    val uInit = Array(Map(1 -> 0.2, 0 -> 0.8), Map(1 -> 0.3, 0 -> 0.7))
    val patterns = for (g1 <- Seq(0, 1); g2 <- Seq(0, 1))
      yield Pattern(Array(g1, g2), 100L + 50L * g1 + 30L * g2)
    val fixedM = Training.emCore(patterns, mInit, uInit, 0.2,
      fixU = false, maxIterations = 20, tolerance = 0.0, fixM = true)
    assert(fixedM.m.toSeq == mInit.toSeq)      // m untouched
    assert(fixedM.u.toSeq != uInit.toSeq)      // u trained
    assert(fixedM.lambda != 0.2)               // lambda trained
    val fixedLam = Training.emCore(patterns, mInit, uInit, 0.2,
      fixU = true, maxIterations = 20, tolerance = 0.0, fixLambda = true)
    assert(fixedLam.lambdaHistory.forall(_ == 0.2))
    assert(fixedLam.m.toSeq != mInit.toSeq)
  }

  test("estimateU seed draws a different but reproducible sample") {
    val many = (0L until 400L).map(i =>
      (i, s"n$i", s"s${i % 40}", s"d${i % 11}", s"e${i % 13}"))
      .toDF("unique_id", "first_name", "surname", "dob", "email")
    def uOf(seed: Option[Long]) =
      Training.estimateU(Seq("t" -> many), settings, maxPairs = 500L,
          seed = seed)
        .comparisonByName("email").activeLevels.head.u.get
    assert(uOf(None) == uOf(None))            // unseeded: stable
    assert(uOf(Some(7L)) == uOf(Some(7L)))    // seeded: stable per seed
    assert(uOf(Some(7L)) != uOf(Some(8L)))    // different seed, new sample
  }

  test("EM above the pattern cap runs the distributed M-step and matches " +
      "the driver path parameter-for-parameter") {
    // high-cardinality TF column (email, 53 distinct values): with
    // withTermFrequencies the agreement-pattern key extends by the TF term,
    // so the pattern frame is big enough that a cap of 1 forces the
    // distributed path while the default (2M) keeps the driver path
    val many = (0 until 200).map(i =>
      (i.toLong, s"n${i % 6}", s"s${i % 8}", s"d${i % 4}", s"e${i % 53}"))
      .toDF("unique_id", "first_name", "surname", "dob", "email")
    val s = LinkSettings(
      linkType = LinkType.DedupeOnly,
      blockingRules = Seq(BlockingRule.blockOn("surname")),
      comparisons = Seq(
        Comparison("dob", Seq(ll.nullLevel("dob"),
          ll.exactMatch("dob"), ll.elseLevel)),
        Comparison("email", Seq(ll.nullLevel("email"),
          ll.exactMatch("email", tfAdjustment = true), ll.elseLevel))),
      probabilityTwoRandomRecordsMatch = 0.05)
    // tolerance 0 -> both paths run exactly maxIterations iterations, so
    // the comparison is never sensitive to a convergence-boundary flip
    def run() = Training.expectationMaximisation(Seq("t" -> many), s,
      BlockingRule.blockOn("surname"), fixU = false, maxIterations = 6,
      tolerance = 0.0, withTermFrequencies = true)
    val driver = run()
    val dist = Decide.forcing(Decide.Collect -> Decide.Collect.Distributed)(run())
    assert(driver.iterations == 6 && dist.iterations == 6)
    driver.lambdaHistory.zip(dist.lambdaHistory).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"λ $a vs $b") }
    def compareHist(a: Seq[Array[Map[Int, Double]]],
        b: Seq[Array[Map[Int, Double]]], what: String): Unit =
      a.zip(b).zipWithIndex.foreach { case ((ma, mb), it) =>
        ma.zip(mb).foreach { case (ta, tb) =>
          assert(ta.keySet == tb.keySet)
          ta.foreach { case (g, v) =>
            assert(math.abs(v - tb(g)) < 1e-9,
              s"$what iter $it gamma $g: $v vs ${tb(g)}") }
        }
      }
    compareHist(driver.mHistory, dist.mHistory, "m")
    compareHist(driver.uHistory, dist.uHistory, "u")
    // trained sessions merged back identically (incl. unobserved handling)
    driver.settings.comparisons.zip(dist.settings.comparisons).foreach {
      case (ca, cb) => ca.levels.zip(cb.levels).foreach { case (la, lb) =>
        assert(la.m.isDefined == lb.m.isDefined)
        for (va <- la.m; vb <- lb.m)
          assert(math.abs(va - vb) < 1e-9, s"${ca.outputColumnName} m")
        for (va <- la.u; vb <- lb.u)
          assert(math.abs(va - vb) < 1e-9, s"${ca.outputColumnName} u")
      }
    }
  }

  test("populateLambdaFromTrainedValues adopts the session's global lambda") {
    val linker = new Linker(people, settings)
    val before = linker.settings.probabilityTwoRandomRecordsMatch
    val result = linker.training
      .estimateParametersUsingExpectationMaximisation(
        BlockingRule.blockOn("surname"),
        populateLambdaFromTrainedValues = true)
    // single session, no deactivated comparisons (surname is not a
    // comparison column): the median-of-reciprocals degenerates to the
    // session's own back-adjusted global lambda
    assert(math.abs(linker.settings.probabilityTwoRandomRecordsMatch -
      result.trainedLambdaGlobal) < 1e-12)
    assert(linker.settings.probabilityTwoRandomRecordsMatch != before)
  }

  test("populateLambdaFromTrainedValues takes 1/median(1/p) over ALL " +
      "accumulated EM sessions, reversing with trained medians") {
    // two sessions with different blocking rules; each deactivates one
    // comparison, so the reversal path (trained-median Bayes factors)
    // exercises both branches of linker.py:383-457
    val linker = new Linker(people, settings)
    val r1 = linker.training.estimateParametersUsingExpectationMaximisation(
      BlockingRule.blockOn("dob"))
    val r2 = linker.training.estimateParametersUsingExpectationMaximisation(
      BlockingRule.blockOn("email"))
    linker.training.populateProbabilityTwoRandomRecordsMatchFromTrainedValues()
    // replay the reference formula by hand against the final settings
    def recip(lam: Double, deactivated: Seq[String]): Double = {
      var bf = lam / (1 - lam)
      deactivated.foreach { name =>
        val lv = linker.settings.comparisonByName(name)
          .activeLevelsWithGamma.maxBy(_._2)._1
        val levelBf =
          if (lv.trainedM.exists(_.observed) && lv.trainedU.exists(_.observed))
            Model.medianObserved(lv.trainedM) / Model.medianObserved(lv.trainedU)
          else math.pow(2.0, lv.matchWeight)
        bf = bf / levelBf
      }
      (1 + bf) / bf
    }
    val expected = 1.0 / Model.median(Seq(
      recip(r1.trainedLambda, r1.deactivated),
      recip(r2.trainedLambda, r2.deactivated)))
    assert(math.abs(linker.settings.probabilityTwoRandomRecordsMatch -
      expected) < 1e-12,
      s"got ${linker.settings.probabilityTwoRandomRecordsMatch}, " +
        s"expected $expected")
    // and it is genuinely a multi-session value: neither session's own
    // global lambda alone
    assert(r1.deactivated == Seq("dob") && r2.deactivated == Seq("email"))
  }
}
