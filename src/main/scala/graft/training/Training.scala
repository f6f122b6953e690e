package graft.training

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.operators._
import graft.pipeline.TextOps

/**
 * Model-parameter estimation, mirroring the reference's training surface:
 *
 *  - [[estimateU]]: u probabilities from random-pair sampling
 *    (reference `splink/internals/estimate_u.py:330-560`)
 *  - [[EMSession]]: m (and optionally u) via expectation-maximisation over
 *    pairs blocked on a training rule
 *    (`expectation_maximisation.py:225-311`, `em_training_session.py:76-177`)
 *  - [[estimateMFromLabelColumn]]: m from a ground-truth label column
 *    (`m_training.py:26-102`)
 *  - [[estimateLambdaFromDeterministicRules]]: prior λ from
 *    high-precision rules + assumed recall
 *    (`linker_components/training.py:35-161`)
 *
 * Scale design: the cluster only ever computes comparison-vector COUNTS
 * (`groupBy(gammas).count` — the agreement-pattern rewrite from
 * `expectation_maximisation.py:28-42`). EM's per-iteration work is one
 * fold over those patterns ([[emPass]]: E-step scores plus the M-step's
 * sufficient statistics). Up to `Decide.Patterns` (heap-clamped) it
 * runs on the driver over the collected patterns, so iterations cost zero
 * Spark jobs; above the cap the same fold runs inside each partition of
 * the persisted pattern frame and the statistics are tree-reduced — one
 * job per iteration. The reference re-runs a SQL E-step per iteration;
 * folding patterns is numerically the same.
 */
object Training {

  /** Rows to sample so that n*(n-1)/2 ~= targetPairs
    * (`estimate_u.py:301-327`). */
  def rowsForPairCount(targetPairs: Long): Long =
    math.ceil(0.5 * (math.sqrt(8.0 * targetPairs + 1) + 1)).toLong

  /**
   * Estimate u probabilities: sample records deterministically, take the
   * cartesian self-join (random pairs are assumed non-matches), and set
   * each level's u to its share of non-null gammas.
   *
   * @param numChunks   the sampled cartesian is processed in hash chunks of
   *                    the right side (`estimate_u.py:443-517`)
   * @param minObsPerLevel stop consuming chunks once every active level has
   *                    at least this many observations (reference default
   *                    100, `linker_components/training.py:163-200`)
   */
  def estimateU(inputs: Seq[(String, DataFrame)], settings: LinkSettings,
      maxPairs: Long = 1000000L, numChunks: Int = 10,
      minObsPerLevel: Long = 100L, seed: Option[Long] = None): LinkSettings = {
    val concat = VerticalConcat(inputs, settings)
    val total = concat.count()
    val needed = rowsForPairCount(maxPairs)
    // deterministic hash sample; an explicit seed salts the key so callers
    // can draw an independent sample (`training.py:166` seed) — the
    // unseeded path stays byte-identical run to run
    val sampleKey = seed match {
      case Some(s) => concat_ws("",
        col(settings.uniqueIdColumn).cast("string"), lit(s.toString))
      case None => col(settings.uniqueIdColumn).cast("string")
    }
    // repartition-to-role before the persist (`spark/database_api.py:263`,
    // `__splink__df_concat_with_tf_sample` ÷4): the filter keeps input
    // partitioning, so a sparse sample would otherwise cache as many
    // near-empty partitions feeding the cartesian below
    val sampled = Repartition(
      if (needed >= total) concat
      else concat.filter(TextOps.hashSample(sampleKey, needed.toDouble / total)),
      Repartition.ConcatWithTfSample).persist()
    val uSettings = settings.copy(
      blockingRules = Seq(BlockingRule.CustomBlockingRule("1=1")))
    val pairs = Blocking.blockedIdPairs(sampled, uSettings)
    val withTf = TermFrequency.joinAll(sampled, settings.tfColumns)

    // chunked accumulation with early exit: chunk k = hash bucket of the
    // right join key; stop when every active level is observed enough
    val merged = scala.collection.mutable.Map.empty[String, Map[Int, Long]]
    def enough: Boolean = settings.comparisons.forall { c =>
      val byGamma = merged.getOrElse(c.outputColumnName, Map.empty)
      c.activeLevelsWithGamma.forall { case (_, g) =>
        byGamma.getOrElse(g, 0L) >= minObsPerLevel }
    }
    val chunkCol = pmod(hash(col("join_key_r")), lit(numChunks))
    // the records side is a SAMPLE of concat: measuring the raw concat
    // (file-source stats) covers it — fits ⇒ the sample fits. The pair
    // frame is a near-cartesian, so keeping it unshuffled matters most
    // of anywhere in the library.
    val broadcastRecs = Decide.broadcastByStats("estimate_u.records", concat)
    var k = 0
    while (k < numChunks && !(k > 0 && enough)) {
      val cv = ComparisonVectors.compute(
        pairs.filter(chunkCol === k), withTf, uSettings,
        broadcastRecords = broadcastRecs)
      gammaCounts(cv, settings).foreach { case (name, byGamma) =>
        val acc = merged.getOrElse(name, Map.empty)
        merged(name) = (acc.keySet ++ byGamma.keySet).map(g =>
          g -> (acc.getOrElse(g, 0L) + byGamma.getOrElse(g, 0L))).toMap
      }
      k += 1
    }
    sampled.unpersist()
    applyLevelProbabilities(settings, merged.toMap, setM = false,
      sessionDesc = "estimate u by random sampling")
  }

  /** Map(comparison -> Map(gamma -> count)) over one comparison-vector
    * frame, from ONE aggregate: every pair stacks a (comparison index,
    * gamma) row per comparison and the stack is grouped once, so the
    * output is bounded by the total level count. */
  private def gammaCounts(cv: DataFrame, settings: LinkSettings)
      : Map[String, Map[Int, Long]] = {
    val cg = explode(array(settings.comparisons.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("c"), col(c.gammaColumnName).as("g")) }: _*))
    val byIdx = cv.select(cg.as("cg")).groupBy(col("cg.c"), col("cg.g")).count()
      .collect().groupBy(_.getInt(0))
    settings.comparisons.zipWithIndex.map { case (c, i) =>
      c.outputColumnName -> byIdx.getOrElse(i, Array.empty)
        .map(r => r.getInt(1) -> r.getLong(2)).toMap
    }.toMap
  }

  /** Record per-level probabilities (share of non-null gammas) as a
    * training session for m or u. */
  private def applyLevelProbabilities(settings: LinkSettings,
      counts: Map[String, Map[Int, Long]], setM: Boolean,
      sessionDesc: String): LinkSettings =
    recordSession(settings, sessionDesc, settings.comparisons.map { c =>
      val byGamma = counts.getOrElse(c.outputColumnName, Map.empty)
      val totalObs = byGamma.collect { case (g, n) if g >= 0 => n }.sum.toDouble
      val share: Int => Double = g => byGamma(g) / totalObs
      c.outputColumnName -> TrainedLevels(
        g => totalObs > 0 && byGamma.getOrElse(g, 0L) > 0,
        m = if (setM) Some(share) else None,
        u = if (setM) None else Some(share))
    }.toMap)

  /** One session's trained values for one comparison: per gamma whether the
    * session observed the level, and the m and/or u it trained (None = that
    * family was not trained and records nothing). */
  private case class TrainedLevels(observed: Int => Boolean,
      m: Option[Int => Double], u: Option[Int => Double])

  /** Write one training session back into the settings: every non-null
    * level of a comparison named in `trained` records the session's value;
    * the live value becomes the median across all recorded sessions
    * (`comparison_level.py:355-399`, `linker.py:459-467`), so a later
    * session refines, never overwrites. A level the session never observed
    * records the unobserved sentinel with observed = false, which keeps it
    * out of the median (LEVEL_NOT_OBSERVED_TEXT,
    * `em_training_session.py:336-353`). */
  private def recordSession(settings: LinkSettings, sessionDesc: String,
      trained: Map[String, TrainedLevels]): LinkSettings =
    settings.copy(comparisons = settings.comparisons.map { c =>
      trained.get(c.outputColumnName).fold(c) { t =>
        mapActiveLevels(c) { (lv, g) =>
          val obs = t.observed(g)
          def value(f: Int => Double) =
            if (obs) f(g) else Model.UnobservedSentinel
          val withM = t.m.fold(lv)(f =>
            lv.addTrainedM(value(f), sessionDesc, observed = obs))
          t.u.fold(withM)(f =>
            withM.addTrainedU(value(f), sessionDesc, observed = obs))
        }
      }
    })

  /** `c` with `f(level, gamma)` applied to each of its non-null levels. */
  private def mapActiveLevels(c: Comparison)(
      f: (ComparisonLevel, Int) => ComparisonLevel): Comparison =
    c.copy(levels = c.levels.map(lv => if (lv.isNull) lv else f(lv,
      c.activeLevelsWithGamma.collectFirst { case (l2, g) if l2 == lv => g }.get)))

  /**
   * Estimate m probabilities from a ground-truth label column: pairs
   * blocked on label equality are true matches; each level's m is its share
   * of non-null gammas among them.
   */
  def estimateMFromLabelColumn(inputs: Seq[(String, DataFrame)],
      settings: LinkSettings, labelColumn: String): LinkSettings = {
    val concat = VerticalConcat(inputs, settings)
    val mSettings = settings.copy(
      blockingRules = Seq(BlockingRule.blockOn(labelColumn)))
    val pairs = Blocking.blockedIdPairs(concat, mSettings)
    val cv = ComparisonVectors.compute(pairs,
      TermFrequency.joinAll(concat, settings.tfColumns), mSettings,
      broadcastRecords = Decide.broadcastByStats("training.records", concat))
    applyLevelProbabilities(settings, gammaCounts(cv, settings), setM = true,
      sessionDesc = s"estimate m from label column $labelColumn")
  }

  /**
   * Estimate m from a pairwise labels TABLE (`m_from_labels.py:26-102`):
   * the labelled pairs are taken as true matches (match_probability 1), so
   * each level's m is its share of non-null gammas among them.
   *
   * @param labels frame with `<uid>_l`, `<uid>_r` (and the composite parts
   *               when linking multiple frames) — see [[operators.Labels]]
   */
  def estimateMFromPairwiseLabels(inputs: Seq[(String, DataFrame)],
      settings: LinkSettings, labels: DataFrame): LinkSettings = {
    val concat = VerticalConcat(inputs, settings)
    val pairs = Labels.idPairs(labels, settings)
    val cv = ComparisonVectors.compute(pairs,
      TermFrequency.joinAll(concat, settings.tfColumns), settings,
      broadcastRecords = Decide.broadcastByStats("training.records", concat))
    applyLevelProbabilities(settings, gammaCounts(cv, settings), setM = true,
      sessionDesc = "estimate m from pairwise labels")
  }

  /**
   * λ from deterministic high-precision rules + assumed recall
   * (`linker_components/training.py:35-161`):
   * λ = (observed_pairs / recall) / possible_pairs.
   */
  def estimateLambdaFromDeterministicRules(inputs: Seq[(String, DataFrame)],
      settings: LinkSettings, rules: Seq[BlockingRule],
      recall: Double): LinkSettings = {
    require(recall > 0 && recall <= 1, "recall must be in (0,1]")
    val concat = VerticalConcat(inputs, settings)
    val detSettings = settings.copy(blockingRules = rules)
    val observed = Blocking.blockedIdPairs(concat, detSettings).count()
    val n = concat.count().toDouble
    val possible = settings.linkType match {
      case LinkType.DedupeOnly | LinkType.LinkAndDedupe => n * (n - 1) / 2.0
      case LinkType.LinkOnly =>
        val sizes = inputs.map(_._2.count().toDouble)
        sizes.combinations(2).map(p => p.head * p.last).sum
    }
    val lam = math.min(1.0, (observed / recall) / possible)
    settings.copy(probabilityTwoRandomRecordsMatch = math.max(lam, Model.ProbFloor))
  }

  /** Default m/u for untrained levels (reference heuristic shape,
    * `comparison_level.py:97-130`: match weights interpolated from +10 for
    * the most-similar level down to -5 for ELSE over a uniform u). */
  def withDefaultMU(settings: LinkSettings): LinkSettings = {
    val updated = settings.comparisons.map { c =>
      val n = c.activeLevels.size
      def targetWeight(g: Int): Double =
        if (n <= 1) 0.0 else -5.0 + 15.0 * g / (n - 1)
      // realise each level's target weight symmetrically: m ~ 2^(w/2),
      // u ~ 2^(-w/2), both normalised to valid distributions — ratios keep
      // the interpolated ordering with strongly positive exact-match weight
      val ms = (0 until n).map(g => math.pow(2.0, targetWeight(g) / 2))
      val us = (0 until n).map(g => math.pow(2.0, -targetWeight(g) / 2))
      val (mSum, uSum) = (ms.sum, us.sum)
      mapActiveLevels(c) { (lv, g) =>
        val withM = if (lv.m.isDefined) lv else lv.withM(ms(g) / mSum)
        if (withM.u.isDefined) withM else withM.withU(us(g) / uSum)
      }
    }
    settings.copy(comparisons = updated)
  }

  // ------------------------------------------------------------------ EM

  /** One gamma pattern and its pair count. `tfTerms(j)` is the j-th active
    * TF comparison's `log2(effective term frequency)` for this pattern
    * (NaN when the pattern is not at that comparison's TF level or the
    * value is null); TF-aware EM groups by (gammas, tf terms) so the
    * agreement-pattern shrink survives — cardinality is bounded by the TF
    * column's vocabulary, never the pair count (the reference's
    * `estimate_without_term_frequencies=False` default re-predicts every
    * PAIR per iteration instead, `expectation_maximisation.py:49-63`).
    * The E-step recombines each term with the CURRENT u of its level, so
    * free-u runs stay faithful to the reference's per-iteration re-predict. */
  case class Pattern(gammas: Array[Int], count: Long,
      tfTerms: Array[Double] = Array.empty)

  /** Driver-side constants of one active TF comparison inside EM: its
    * index in the active array and adjustment weight per TF-level gamma.
    * The j-th spec pairs with `Pattern.tfTerms(j)`. */
  case class TfSpec(activeIdx: Int, weightByGamma: Map[Int, Double])

  /** Converged driver-side EM state. */
  case class EMCore(m: Array[Map[Int, Double]], u: Array[Map[Int, Double]],
      lambda: Double, iterations: Int, converged: Boolean, history: Seq[Double],
      // per-iteration trajectories, index 0 = initial values — the same
      // records the reference keeps (`em_training_session.py`
      // `_lambda_history_records` / `_iteration_history_records`) and
      // asserts against splink2's published traces
      lambdaHistory: Seq[Double] = Nil,
      mHistory: Seq[Array[Map[Int, Double]]] = Nil,
      uHistory: Seq[Array[Map[Int, Double]]] = Nil)

  /** M-step sufficient statistics of one E-step pass: per (comparison,
    * gamma) the p·n and (1-p)·n numerators and the observed pair count, per
    * comparison the denominators over non-null gammas, Σp·n and Σn. A gamma
    * at or past `width(i)` (no parameter of its own) enters the
    * denominators only. Additive, so per-partition passes merge by summing. */
  private final class EMStats(width: Array[Int]) extends Serializable {
    val mNum, uNum = width.map(w => new Array[Double](w))
    val observed = width.map(w => new Array[Long](w))
    val mDen, uDen = new Array[Double](width.length)
    var pn = 0.0
    var n = 0L

    def merge(o: EMStats): EMStats = {
      for (i <- width.indices; g <- 0 until width(i)) {
        mNum(i)(g) += o.mNum(i)(g); uNum(i)(g) += o.uNum(i)(g)
        observed(i)(g) += o.observed(i)(g)
      }
      for (i <- width.indices) { mDen(i) += o.mDen(i); uDen(i) += o.uDen(i) }
      pn += o.pn; n += o.n
      this
    }

    /** Re-estimated shares over the gammas of `keys`; a comparison with no
      * weight at all gets the unobserved sentinel. */
    def shares(num: Array[Array[Double]], den: Array[Double],
        keys: Array[Map[Int, Double]]): Array[Map[Int, Double]] =
      Array.tabulate(width.length)(i => keys(i).keys.map(g => g -> (
        if (den(i) == 0) Model.UnobservedSentinel
        else if (g < 0 || g >= width(i)) 0.0
        else math.max(num(i)(g) / den(i), 0.0))).toMap)
  }

  /**
   * EM's per-iteration work, written once (`expectation_maximisation.py:
   * 45-118`): the E-step scores each pattern p = λ·Πm / (λ·Πm + (1-λ)·Πu),
   * a null gamma (-1) contributing factor 1, every factor floored at
   * [[Model.ProbFloor]] and an unknown gamma read as the unobserved
   * sentinel; each active TF comparison then multiplies the match odds by
   * 2^(w·(log2 u_level - log2 tf)) with the CURRENT u of the level (the
   * reference re-predicts per iteration). Sums the M-step statistics in
   * pattern order.
   */
  private def emPass(patterns: Iterator[Pattern], m: Array[Map[Int, Double]],
      u: Array[Map[Int, Double]], lambda: Double, tfSpecs: Seq[TfSpec])
      : EMStats = {
    def floored(t: Map[Int, Double], g: Int) =
      math.max(t.getOrElse(g, Model.UnobservedSentinel), Model.ProbFloor)
    val stats = new EMStats(Array.tabulate(m.length)(i =>
      (m(i).keys ++ u(i).keys).foldLeft(-1)(math.max) + 1))
    patterns.foreach { p =>
      var pm = lambda
      var pu = 1 - lambda
      for (i <- p.gammas.indices if p.gammas(i) >= 0) {
        pm *= floored(m(i), p.gammas(i))
        pu *= floored(u(i), p.gammas(i))
      }
      for (j <- tfSpecs.indices if j < p.tfTerms.length && !p.tfTerms(j).isNaN) {
        val (i, t) = (tfSpecs(j).activeIdx, p.tfTerms(j))
        tfSpecs(j).weightByGamma.get(p.gammas(i)).foreach { w =>
          val log2u = math.log(floored(u(i), p.gammas(i))) / math.log(2.0)
          pm *= math.pow(2.0, w * (log2u - t))
        }
      }
      val prob = pm / (pm + pu)
      val (wm, wu) = (prob * p.count, (1 - prob) * p.count)
      for (i <- p.gammas.indices if p.gammas(i) >= 0) {
        val g = p.gammas(i)
        stats.mDen(i) += wm
        stats.uDen(i) += wu
        if (g < stats.mNum(i).length) {
          stats.mNum(i)(g) += wm
          stats.uNum(i)(g) += wu
          stats.observed(i)(g) += p.count
        }
      }
      stats.pn += wm
      stats.n += p.count
    }
    stats
  }

  /**
   * The EM fixed-point loop (`expectation_maximisation.py:225-311`): each
   * iteration runs `pass` under the current parameters, re-estimates m
   * (weights p·n), u (weights (1-p)·n) and λ (Σp·n / Σn) from its
   * statistics unless fixed, and stops at the first iteration whose max
   * |param change| over m, u and λ is below `tolerance`
   * (`settings.py:116-122`). Returns the converged state and the last
   * pass's statistics (one extra pass when no iteration ran).
   */
  private def emLoop(
      pass: (Array[Map[Int, Double]], Array[Map[Int, Double]], Double) => EMStats,
      mInit: Array[Map[Int, Double]], uInit: Array[Map[Int, Double]],
      lambdaInit: Double, fixU: Boolean, maxIterations: Int, tolerance: Double,
      fixM: Boolean, fixLambda: Boolean): (EMCore, EMStats) = {
    val nComp = mInit.length
    var (m, u, lambda) = (mInit, uInit, lambdaInit)
    val history = scala.collection.mutable.ArrayBuffer.empty[Double]
    val lambdaHistory = scala.collection.mutable.ArrayBuffer(lambdaInit)
    val mHistory = scala.collection.mutable.ArrayBuffer(mInit)
    val uHistory = scala.collection.mutable.ArrayBuffer(uInit)
    var last: EMStats = null
    var converged = false
    while (history.size < maxIterations && !converged) {
      last = pass(m, u, lambda)
      val newM = if (fixM) m else last.shares(last.mNum, last.mDen, m)
      val newU = if (fixU) u else last.shares(last.uNum, last.uDen, u)
      val newLambda = if (fixLambda) lambda else last.pn / last.n.toDouble
      val deltas =
        (for (i <- 0 until nComp; g <- m(i).keys)
          yield math.abs(newM(i)(g) - m(i)(g))) ++
        (for (i <- 0 until nComp; g <- u(i).keys)
          yield math.abs(newU(i)(g) - u(i)(g))) :+
        math.abs(newLambda - lambda)
      val maxDelta = deltas.max
      history += maxDelta
      m = newM; u = newU; lambda = newLambda
      lambdaHistory += lambda
      mHistory += m
      uHistory += u
      converged = maxDelta < tolerance
    }
    if (last == null) last = pass(m, u, lambda)
    (EMCore(m, u, lambda, history.size, converged, history.toSeq,
      lambdaHistory.toSeq, mHistory.toSeq, uHistory.toSeq), last)
  }

  /** EM over patterns held on the driver (pure driver math, zero Spark
    * jobs): [[emLoop]] folding [[emPass]] over `patterns`. */
  def emCore(patterns: Seq[Pattern], mInit: Array[Map[Int, Double]],
      uInit: Array[Map[Int, Double]], lambdaInit: Double, fixU: Boolean,
      maxIterations: Int, tolerance: Double,
      tfSpecs: Seq[TfSpec] = Nil, fixM: Boolean = false,
      fixLambda: Boolean = false): EMCore =
    emLoop((m, u, lam) => emPass(patterns.iterator, m, u, lam, tfSpecs),
      mInit, uInit, lambdaInit, fixU, maxIterations, tolerance, fixM,
      fixLambda)._1

  /**
   * EM over a persisted agreement-pattern frame: `nGammas` int gamma
   * columns, then one double TF-term column per `tfSpecs` entry (null
   * reads as NaN), then the long pair count. Up to `Decide.Patterns`
   * the frame is collected and folded on the driver; above it (a TF
   * vocabulary too large to collect) [[emPass]] runs inside each partition
   * and the statistics are tree-reduced, one Spark job per iteration, so
   * only per-level sums reach the driver. Returns the converged state and
   * the observed pair count per (comparison, gamma).
   */
  private[graft] def emOverPatterns(patternDf: DataFrame, nGammas: Int,
      tfSpecs: Seq[TfSpec], mInit: Array[Map[Int, Double]],
      uInit: Array[Map[Int, Double]], lambdaInit: Double, fixU: Boolean,
      maxIterations: Int, tolerance: Double, fixM: Boolean,
      fixLambda: Boolean): (EMCore, Array[Array[Long]]) = {
    val nTf = tfSpecs.size
    val toPattern = (r: Row) => Pattern(Array.tabulate(nGammas)(r.getInt),
      r.getLong(nGammas + nTf),
      Array.tabulate(nTf)(j =>
        if (r.isNullAt(nGammas + j)) Double.NaN else r.getDouble(nGammas + j)))
    val pass: (Array[Map[Int, Double]], Array[Map[Int, Double]], Double) => EMStats =
      if (Decide.collect("em.patterns", patternDf.count(),
          Decide.Patterns) == Decide.Collect.Driver) {
        val local = patternDf.collect().map(toPattern).toSeq
        (m, u, lam) => emPass(local.iterator, m, u, lam, tfSpecs)
      } else {
        val rows = patternDf.rdd.map(toPattern)
        (m, u, lam) => rows.mapPartitions(it =>
          Iterator(emPass(it, m, u, lam, tfSpecs))).treeReduce(_ merge _)
      }
    val (core, last) = emLoop(pass, mInit, uInit, lambdaInit, fixU,
      maxIterations, tolerance, fixM, fixLambda)
    (core, last.observed)
  }

  /** Result of one EM training session.
    * @param trainedLambda λ of the BLOCKED pair population the session saw
    * @param trainedLambdaGlobal λ mapped back to the full population by
    *        reversing the deactivated comparisons' exact-match Bayes
    *        factors (`linker.py:383-457`) */
  case class EMResult(settings: LinkSettings, iterations: Int,
      converged: Boolean, history: Seq[Double],
      trainedLambda: Double, trainedLambdaGlobal: Double,
      deactivated: Seq[String],
      // session trajectories (index 0 = initial): λ per iteration, m per
      // (active comparison, gamma) per iteration, active comparison names
      lambdaHistory: Seq[Double] = Nil,
      mHistory: Seq[Array[Map[Int, Double]]] = Nil,
      uHistory: Seq[Array[Map[Int, Double]]] = Nil,
      activeComparisons: Seq[String] = Nil)

  private def prob2odds(p: Double): Double = {
    val c = math.min(math.max(p, 1e-12), 1 - 1e-12)
    c / (1 - c)
  }
  private def odds2prob(o: Double): Double = o / (1 + o)

  /** Bayes factor of a comparison's most-similar (exact) level — blocked
    * pairs agree on the blocked columns, so the session prior is the
    * global prior times these factors (`em_training_session.py:136-163`). */
  private def exactBayesFactor(c: Comparison): Double = {
    val top = c.activeLevelsWithGamma.maxBy(_._2)._1
    math.pow(2.0, top.matchWeight)
  }

  /**
   * EM over pairs blocked on `trainingRule`. Comparisons whose input
   * columns appear in the rule are deactivated for the session (their
   * gammas are fixed by construction, `em_training_session.py:136-163`);
   * their m/u stay untouched. Trained m (and u unless `fixU`) of active
   * comparisons are merged back into the returned settings.
   */
  def expectationMaximisation(inputs: Seq[(String, DataFrame)],
      settings: LinkSettings, trainingRule: BlockingRule,
      fixU: Boolean = true, maxIterations: Int = 25,
      tolerance: Double = 1e-4, maxPairs: Option[Long] = None,
      withTermFrequencies: Boolean = false, fixM: Boolean = false,
      fixLambda: Boolean = false): EMResult = {
    val concatFull = VerticalConcat(inputs, settings)
    // pair-cap sampling (`em_sampling.py:64-236`): probe a record fraction
    // q, estimate total pairs p_hat = count/q^2; when above the cap keep
    // a sqrt(max_pairs/p_hat) fraction of records on both sides.
    val concat = maxPairs match {
      case None => concatFull
      case Some(cap) =>
        val q = 0.1
        val uidStr = col(settings.uniqueIdColumn).cast("string")
        val probe = concatFull.filter(TextOps.hashSample(uidStr, q))
        val probePairs = Blocking.blockedIdPairs(probe,
          settings.copy(blockingRules = Seq(trainingRule))).count()
        val estimated = probePairs / (q * q)
        if (estimated <= cap) concatFull
        else concatFull.filter(TextOps.hashSample(uidStr,
          math.sqrt(cap / estimated)))
    }
    val ruleCols = Blocking.ruleColumns(trainingRule).toSet
    val (deactivated, active) = settings.comparisons.partition(
      c => c.inputColumns.exists(ruleCols.contains))

    val emSettings = settings.copy(blockingRules = Seq(trainingRule),
      comparisons = settings.comparisons)
    val pairs = Blocking.blockedIdPairs(concat, emSettings)
    // the EM's per-iteration input: at the flagship scale the pair frame
    // dwarfs the records, so the record joins broadcast by the same size
    // decision as predict's (measured on the possibly-sampled concat plan,
    // whose file-source stats are real; the sample filter only shrinks it)
    val cv = ComparisonVectors.compute(pairs,
      TermFrequency.joinAll(concat, settings.tfColumns), emSettings,
      broadcastRecords = Decide.broadcastByStats("training.records", concat))

    // agreement-pattern shrink: |pairs| rows -> |patterns| rows. With term
    // frequencies (reference default) the key extends by each TF
    // comparison's log2(tf) term, so patterns stay a groupBy shrink
    // (cardinality bounded by TF vocabulary) and the E-step can recombine
    // the term with the iteration's current u — never a per-pair pull.
    val tfComparisons =
      if (withTermFrequencies)
        active.zipWithIndex.filter(_._1.hasTfLevels)
      else Nil
    val tfSpecs = tfComparisons.map { case (c, i) =>
      TfSpec(i, c.tfWeightsByGamma) }
    val keyCols = active.map(c => col(c.gammaColumnName)) ++
      tfComparisons.zipWithIndex.map { case ((c, _), j) =>
        c.tfTermColumn.as(s"__tft$j") }
    val patternDf = cv.groupBy(keyCols: _*)
      .agg(count(lit(1)).as("n")).persist()

    // driver-side parameter tables
    val mInit = active.map { c =>
      c.activeLevelsWithGamma.map { case (lv, g) =>
        g -> lv.m.getOrElse(1.0 / c.activeLevels.size) }.toMap
    }.toArray
    val uInit = active.map { c =>
      c.activeLevelsWithGamma.map { case (lv, g) =>
        g -> lv.u.getOrElse(1.0 / c.activeLevels.size) }.toMap
    }.toArray
    // session prior = global prior odds x exact-level Bayes factor of each
    // deactivated comparison (the blocked population is enriched in matches)
    val blockingBf = deactivated.map(exactBayesFactor).product
    val lambdaInit = math.min(math.max(
      odds2prob(prob2odds(settings.probabilityTwoRandomRecordsMatch) * blockingBf),
      1e-8), 1 - 1e-8)
    val (core, observed) =
      try emOverPatterns(patternDf, active.size, tfSpecs, mInit, uInit,
        lambdaInit, fixU, maxIterations, tolerance, fixM, fixLambda)
      finally patternDf.unpersist()

    // a FIXED parameter family records no trained session — fixed values
    // feeding the cross-session median would skew it toward the initial
    // guess (`fix_m_probabilities` / `fix_u_probabilities`,
    // training.py:235-237)
    val trained = recordSession(settings,
      s"EM, blocked on ${trainingRule.describe}",
      active.zipWithIndex.map { case (c, i) =>
        c.outputColumnName -> TrainedLevels(g => observed(i)(g) > 0,
          m = if (fixM) None else Some(core.m(i)),
          u = if (fixU) None else Some(core.u(i)))
      }.toMap)
    val lambdaGlobal = odds2prob(prob2odds(core.lambda) / blockingBf)
    EMResult(trained, core.iterations, core.converged, core.history,
      core.lambda, lambdaGlobal, deactivated.map(_.outputColumnName),
      core.lambdaHistory, core.mHistory, core.uHistory,
      active.map(_.outputColumnName))
  }
}
