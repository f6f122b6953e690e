package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Materialise.Ops
import graft.model._
import graft.operators._
import graft.clustering.ConnectedComponents

/**
 * Top-level linkage API, mirroring the reference `Linker`
 * (reference: `splink/internals/linker.py:77-174` and the
 * `linker_components` facade modules). Holds the (mutable, training-updated)
 * model settings plus cached intermediate frames.
 *
 * Materialisation policy: the concat-with-tf frame and blocked id pairs are
 * the reference's named intermediates (`__splink__df_concat_with_tf`,
 * `__splink__blocked_id_pairs`); we persist them once per linker, which is
 * what the reference's cache-by-name achieves (`database_api.py:136-178`).
 */
class Linker(val inputs: Seq[(String, DataFrame)], initialSettings: LinkSettings) {
  def this(df: DataFrame, settings: LinkSettings) =
    this(Seq("__input" -> df), settings)

  @volatile var settings: LinkSettings = initialSettings
  val spark: SparkSession = inputs.head._2.sparkSession
  graft.functions.funcs.registerAll(spark)
  // fail fast on typo'd settings columns with the reference's error
  // framing (`settings_validation/log_invalid_columns.py`) — schema-only,
  // no Spark job
  SettingsValidation.validate(inputs, settings)

  /** `__splink__df_concat` (`vertically_concatenate.py:23-71`). */
  lazy val concat: DataFrame = VerticalConcat(inputs, settings)

  /** `__splink__df_concat_with_tf` (`vertically_concatenate.py:74-81`),
    * persisted as the TF joins leave it: it is the record side of the
    * pair joins, not the side pair expansion runs on, so its partition
    * count is not chosen here. Computed once and cached until
    * [[invalidateCache]]. */
  @volatile private var concatWithTfCache: Option[DataFrame] = None
  def concatWithTf: DataFrame = concatWithTfCache.getOrElse(synchronized {
    concatWithTfCache.getOrElse {
      val base = TermFrequency.joinAll(concat, settings.tfColumns)
      val df = if (settings.tfColumns.nonEmpty) base.persist() else base
      concatWithTfCache = Some(df)
      df
    }
  })

  // blocked pairs registered (or pre-computed) for predict, reference
  // `table_management.register_blocked_pairs_for_predict`
  @volatile private var registeredBlockedPairs: Option[DataFrame] = None

  /** Materialise the blocked candidate pairs that `predict()` would score
    * and cache them for it (`inference.py:124-158`
    * compute_blocked_pairs_for_predict): lets blocking be computed — or
    * written out and re-registered on another cluster — separately from
    * scoring. */
  def computeBlockedPairsForPredict(): DataFrame = {
    val pairs = blockedIdPairs().breakLineage(eager = true)
    registeredBlockedPairs = Some(pairs)
    pairs
  }

  /** Register a pre-computed blocked-pairs frame; `predict()` then scores
    * exactly this table instead of running the model's blocking rules
    * (`table_management.py:95-141`). A subsequent registration replaces
    * the previous one. */
  def registerBlockedPairsForPredict(pairs: DataFrame): DataFrame = {
    val required = Seq(Cols.MatchKey, "join_key_l", "join_key_r")
    val missing = required.filterNot(pairs.columns.contains)
    require(missing.isEmpty,
      s"blocked pairs frame must carry ${required.mkString(", ")}; " +
        s"missing: ${missing.mkString(", ")}")
    registeredBlockedPairs = Some(pairs)
    pairs
  }

  /** Drop every cached/registered intermediate so the next call recomputes
    * from the (possibly changed) inputs (`table_management.py:142-166`
    * invalidate_cache + delete_tables_created_by_splink_from_db — Spark
    * lineage makes re-execution automatic once the persisted copies are
    * released).
    *
    * Like the reference, which deletes only the tables it created, this
    * frees only what graft materialised: the copy
    * [[computeBlockedPairsForPredict]] made has its blocks or scratch
    * files dropped under every policy, while a frame the caller
    * registered keeps its own cache (a registered frame that reads one
    * of graft's lineage breaks through plain views has that break
    * released). A computed pairs frame the caller still holds is dead
    * afterwards: reading it fails loudly under the localCheckpoint and
    * parquet policies, recomputes under persist and re-reads its
    * checkpoint files under checkpoint. */
  def invalidateCache(): Unit = synchronized {
    concatWithTfCache.foreach(_.unpersist())
    concatWithTfCache = None
    registeredBlockedPairs.foreach(Materialise.release)
    registeredBlockedPairs = None
    tfLookups.clear()
  }

  /** Run arbitrary SQL with the linker's tables registered as temp views
    * (`misc.py:52` query_sql): each input frame under its dataset name,
    * plus `__splink__df_concat` and `__splink__df_concat_with_tf` (quote
    * them with backticks in the query). */
  def querySql(sql: String): DataFrame = {
    inputs.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    concat.createOrReplaceTempView("__splink__df_concat")
    concatWithTf.createOrReplaceTempView("__splink__df_concat_with_tf")
    spark.sql(sql)
  }

  /** Suggest blocking rules for this model's own comparison columns under
    * a comparison budget ([[graft.operators.BlockingAdvisor]]): the
    * candidate lattice is the model's comparison output columns (the
    * fields the user already decided are match-relevant), profiled in one
    * grouping-sets pass over the concatenated input. Returns ready-to-use
    * rules ranked by completeness then loosest-affordable; apply with
    * `settings.copy(blockingRules = ...)` or compare against the current
    * rules via the blocking-analysis surface. */
  def suggestBlockingRules(budget: Long, maxRules: Int = 5,
      maxArity: Int = 2): Seq[graft.operators.BlockingAdvisor.Advice] = {
    // only comparison columns that exist as plain input columns qualify
    // (expression-derived comparisons have no direct equi-key); cap at the
    // advisor's 16-expr lattice limit (first 16 in model order) and return
    // empty rather than throwing when nothing qualifies
    val cols = settings.comparisons.map(_.outputColumnName)
      .filter(concat.columns.contains).distinct.take(16)
    if (cols.isEmpty) Nil
    else graft.operators.BlockingAdvisor.recommend(concat, cols, budget,
      maxRules, maxArity)
  }

  /** Blocked candidate id pairs (`blocking.py:603-695`). Two-frame
    * link_only jobs take the direct left-x-right join fast path. */
  def blockedIdPairs(): DataFrame = {
    val twoFrames =
      if (settings.linkType == LinkType.LinkOnly && inputs.size == 2) {
        val withSd = inputs.map { case (name, df) =>
          if (df.columns.contains(settings.sourceDatasetColumn)) df
          else df.withColumn(settings.sourceDatasetColumn,
            org.apache.spark.sql.functions.lit(name))
        }
        // order by dataset name so join_key_l < join_key_r convention holds
        val sorted = inputs.map(_._1).zip(withSd).sortBy(_._1)
        Some((sorted.head._2, sorted.last._2))
      } else None
    Blocking.blockedIdPairs(concat, settings, twoFrames)
  }

  /** Whether the record frame BROADCASTS into the pairs-to-records joins
    * (the 100M+-pairs-from-modest-records regime, where the pair frame must
    * never shuffle), decided by [[graft.operators.Decide.broadcastByStats]]
    * on the INPUT relation's optimizer stats. */
  private lazy val broadcastRecordsOk: Boolean =
    Decide.broadcastByStats("linker.records", concat)

  /** Comparison-vector frame for the model's blocking rules — or for a
    * registered/pre-computed blocked-pairs table when one exists
    * (`inference.py:353-360`: predict scores exactly the registered
    * table). */
  def comparisonVectors(): DataFrame =
    ComparisonVectors.compute(registeredBlockedPairs.getOrElse(blockedIdPairs()),
      concatWithTf, settings, broadcastRecords = broadcastRecordsOk)

  /** The flagship scoring query (`linker_components/inference.py:294-444`). */
  def predict(thresholdMatchProbability: Option[Double] = None,
      thresholdMatchWeight: Option[Double] = None): DataFrame =
    Predict.score(comparisonVectors(), settings,
      thresholdMatchWeight, thresholdMatchProbability)

  /** Deterministic (rules-only) linking: blocked pairs without scoring
    * (`linker_components/inference.py` deterministic_link). */
  def deterministicLink(): DataFrame =
    ComparisonVectors.pairsFromIds(blockedIdPairs(), concatWithTf, settings,
      broadcastRecords = broadcastRecordsOk)

  /** Cluster a scored pairs frame (`linker_components/clustering.py:43-179`). */
  def clusterPairwisePredictionsAtThreshold(predictions: DataFrame,
      threshold: Double): DataFrame = {
    val uid = settings.uniqueIdColumn
    val edges = predictions.select(
      col(Cols.l(uid)).as("node_l"), col(Cols.r(uid)).as("node_r"),
      col(Cols.MatchProbability))
    ConnectedComponents.clusterAtThreshold(
      concat, edges.withColumnRenamed("node_l", s"${uid}_l")
        .withColumnRenamed("node_r", s"${uid}_r"), uid, threshold)
  }

  /** Score every intra-cluster record pair, optionally excluding pairs
    * already present in a scored-edges frame — the reference's
    * `_score_missing_cluster_edges` (`linker_components/inference.py:574-744`).
    * Completes a cluster's edge list (e.g. for cluster studio): CC only
    * guarantees a spanning set of scored edges per cluster; the rest of
    * the within-cluster pairs were never blocked, so score them now by
    * blocking on cluster membership itself.
    *
    * `dfClusters` must carry `cluster_id`, the unique-id column, and (for
    * multi-frame link types) the source-dataset column. Scales like any
    * other blocked predict: one shuffle keyed on `_cluster_id`, pair
    * expansion bounded by the largest cluster (same bound cluster studio
    * itself has).
    */
  def scoreMissingClusterEdges(dfClusters: DataFrame,
      dfPredict: Option[DataFrame] = None,
      thresholdMatchProbability: Option[Double] = None,
      thresholdMatchWeight: Option[Double] = None): DataFrame = {
    val uid = settings.uniqueIdColumn
    val sd = settings.sourceDatasetColumn
    val multiFrame = settings.linkType != LinkType.DedupeOnly
    val joinCols = if (multiFrame) Seq(uid, sd) else Seq(uid)
    // adjoin cluster ids onto the per-record frame (reference
    // `__splink__df_clusters_renamed`): clusters drive, records attach
    val clustered = dfClusters
      .select(col("cluster_id").as("_cluster_id") +: joinCols.map(col): _*)
      .join(concatWithTf, joinCols, "left")
    // block on same-cluster membership under the standard link-type pair
    // ordering (`l._cluster_id = r._cluster_id` rule in the reference)
    val pairs = Blocking.blockedIdPairs(clustered, settings.copy(
      blockingRules = Seq(BlockingRule.blockOn("_cluster_id"))))
    // drop pairs already present in the supplied edges frame: both frames
    // use the same uid_l < uid_r ordering convention, so a directional
    // (join_key_l, join_key_r) anti-join is exact
    val missing = dfPredict match {
      case Some(pred) =>
        def edgeKey(c: String => String) =
          if (multiFrame)
            concat_ws("-__-", col(c(sd)), col(c(uid)).cast("string"))
          else col(c(uid))
        val seen = pred.select(edgeKey(Cols.l).as("join_key_l"),
          edgeKey(Cols.r).as("join_key_r"))
        pairs.join(seen, Seq("join_key_l", "join_key_r"), "left_anti")
      case None => pairs
    }
    Predict.score(ComparisonVectors.compute(missing, concatWithTf, settings,
        broadcastRecords = broadcastRecordsOk),
      settings, thresholdMatchWeight, thresholdMatchProbability)
  }

  /** Training facade (`linker_components/training.py`): each call updates
    * this linker's settings in place and returns them. */
  object training {
    import graft.training.Training

    /** EM sessions recorded on this linker: (session's final λ in the
      * blocked population, deactivated comparison names). Accumulated
      * across calls like the reference's `_em_training_sessions`. */
    private val emSessions =
      scala.collection.mutable.ArrayBuffer.empty[(Double, Seq[String])]

    /** The reference's populate_probability_two_random_records_match_
      * from_trained_values (`linker.py:383-457`): for EVERY accumulated EM
      * session, reverse the blocked population's enrichment by dividing the
      * session λ's Bayes factor by each deactivated comparison's exact-level
      * factor — using the CURRENT trained m/u medians when the level has
      * estimated values, its default factor otherwise — then adopt
      * 1/median(1/p) over the per-session estimates as the model prior. */
    def populateProbabilityTwoRandomRecordsMatchFromTrainedValues()
        : LinkSettings = {
      require(emSessions.nonEmpty,
        "populateProbabilityTwoRandomRecordsMatchFromTrainedValues needs at " +
          "least one EM training session on this linker")
      val recips = emSessions.toSeq.map { case (lam, deactivated) =>
        val clamped = math.min(math.max(lam, 1e-12), 1 - 1e-12)
        var bf = clamped / (1 - clamped)
        deactivated.foreach { name =>
          val c = settings.comparisonByName(name)
          val lv = c.activeLevelsWithGamma.maxBy(_._2)._1
          val levelBf =
            if (lv.trainedM.exists(_.observed) && lv.trainedU.exists(_.observed))
              math.max(Model.medianObserved(lv.trainedM), Model.ProbFloor) /
                math.max(Model.medianObserved(lv.trainedU), Model.ProbFloor)
            else math.pow(2.0, lv.matchWeight)
          bf = bf / levelBf
        }
        (1 + bf) / bf  // 1/p for p = bf/(1+bf)
      }
      settings = settings.copy(
        probabilityTwoRandomRecordsMatch = 1.0 / Model.median(recips))
      settings
    }

    /** u from random sampling (`estimate_u.py:330-560`); `seed` draws an
      * independent deterministic sample (`training.py:166`). */
    def estimateU(maxPairs: Long = 1000000L,
        seed: Option[Long] = None): LinkSettings = {
      settings = Training.estimateU(inputs, settings, maxPairs, seed = seed)
      settings
    }

    /** λ from deterministic rules (`linker_components/training.py:35-161`). */
    def estimateProbabilityTwoRandomRecordsMatch(
        deterministicRules: Seq[BlockingRule], recall: Double): LinkSettings = {
      settings = Training.estimateLambdaFromDeterministicRules(
        inputs, settings, deterministicRules, recall)
      settings
    }

    /** m (and optionally u) via EM over a training blocking rule
      * (`expectation_maximisation.py:225-311`). `withTermFrequencies`
      * mirrors the reference's `estimate_without_term_frequencies=False`
      * default: the E-step includes per-pattern TF adjustments recombined
      * with the iteration's current u. */
    def estimateParametersUsingExpectationMaximisation(
        trainingRule: BlockingRule, fixU: Boolean = true,
        withTermFrequencies: Boolean = false, fixM: Boolean = false,
        fixLambda: Boolean = false,
        populateLambdaFromTrainedValues: Boolean = false)
        : Training.EMResult = {
      val result = Training.expectationMaximisation(inputs, settings,
        trainingRule, fixU, settings.maxIterations, settings.emConvergence,
        withTermFrequencies = withTermFrequencies, fixM = fixM,
        fixLambda = fixLambda)
      settings = result.settings
      emSessions += ((result.trainedLambda, result.deactivated))
      // populate_probability_two_random_records_match_from_trained_values
      // (training.py:238 -> linker.py:383-457): the prior becomes
      // 1/median(1/p) over ALL accumulated sessions' back-adjusted λs,
      // re-reversed against the settings as trained so far
      if (populateLambdaFromTrainedValues)
        populateProbabilityTwoRandomRecordsMatchFromTrainedValues()
      result
    }

    /** m from a ground-truth label column (`m_training.py:26-102`). */
    def estimateMFromLabelColumn(labelColumn: String): LinkSettings = {
      settings = Training.estimateMFromLabelColumn(inputs, settings, labelColumn)
      settings
    }

    /** m from a pairwise labels table (`m_from_labels.py:26-102`). */
    def estimateMFromPairwiseLabels(labels: DataFrame): LinkSettings = {
      settings = Training.estimateMFromPairwiseLabels(inputs, settings, labels)
      settings
    }
  }

  /** Score exactly the pairs in a labels table through the model
    * (`block_from_labels.py` + predict), keeping `clerical_match_score`
    * when present (missing scores count as definite matches). */
  def scorePairsFromLabels(labels: DataFrame): DataFrame = {
    val prepared = Labels.prepared(labels, settings)
    val cv = ComparisonVectors.compute(
      Labels.idPairs(prepared, settings), concatWithTf, settings,
      broadcastRecords = broadcastRecordsOk)
    val scored = Predict.score(cv, settings)
    val uid = settings.uniqueIdColumn
    val sd = settings.sourceDatasetColumn
    val keys = Seq(Cols.l(uid), Cols.r(uid)) ++
      (if (prepared.columns.contains(Cols.l(sd))) Seq(Cols.l(sd), Cols.r(sd))
       else Nil)
    val scoreCols = keys.map(col) :+
      (if (prepared.columns.contains("clerical_match_score"))
        // per-row NULL = unmarked pair = definite match, same as the
        // whole-column default (`block_from_labels.py` score handling)
        coalesce(col("clerical_match_score").cast("double"), lit(1.0))
          .as("clerical_match_score")
      else lit(1.0).as("clerical_match_score"))
    scored.join(prepared.select(scoreCols: _*), keys, "inner")
  }

  /** Chunked predict (`chunking.py:12-42`,
    * `linker_components/inference.py:294-444`): blocked pairs are split by
    * a deterministic hash of the left join key and scored chunk by chunk —
    * bounds peak shuffle/memory for huge pair counts; results are unioned.
    * Chunked output == unchunked output (reference `tests/test_chunking.py`). */
  def predictChunked(numChunks: Int,
      thresholdMatchProbability: Option[Double] = None): DataFrame = {
    require(numChunks >= 1)
    // reference `inference.py:352-364`: chunked predict cannot be used
    // once blocked pairs were registered — Splink no longer owns chunking
    if (registeredBlockedPairs.nonEmpty) throw new IllegalStateException(
      "predictChunked cannot be used when blocked pairs have been " +
        "registered with registerBlockedPairsForPredict / " +
        "computeBlockedPairsForPredict; call predict() to score the " +
        "registered table, or invalidateCache() first")
    // materialise the blocked pairs ONCE: a lazy frame here would re-run
    // the whole blocking join for every chunk's filter
    val pairs = blockedIdPairs().persist()
    val chunkCol = pmod(hash(col("join_key_l")), lit(numChunks))
    // eager per-chunk checkpoints = chunks score one after another, which
    // is the entire point of chunking (bound peak shuffle/memory); lazy
    // checkpoints would all materialise inside the caller's first action
    val chunks = (0 until numChunks).map { k =>
      val cv = ComparisonVectors.compute(pairs.filter(chunkCol === k),
        concatWithTf, settings, broadcastRecords = broadcastRecordsOk)
      Predict.score(cv, settings, None, thresholdMatchProbability)
        .breakLineage(true)
    }
    pairs.unpersist()
    chunks.reduce(_.unionByName(_))
  }

  /** Grid-chunked predict (`inference.py:298-420` `num_chunks_left` x
    * `num_chunks_right`): the INPUT RECORDS are hash-split on both sides
    * and each (left-chunk, right-chunk) combination re-runs blocking over
    * its subsets — unlike [[predictChunked]], which materialises the full
    * blocked-pairs table once, this bounds the BLOCKING join's memory per
    * chunk as well as the scoring's. The uid-ordering filter assigns
    * every pair to exactly one combination, so the union equals an
    * unchunked predict. */
  def predictChunked(numChunksLeft: Int, numChunksRight: Int,
      thresholdMatchProbability: Option[Double]): DataFrame = {
    require(numChunksLeft >= 1 && numChunksRight >= 1)
    if (registeredBlockedPairs.nonEmpty) throw new IllegalStateException(
      "predictChunked cannot be used when blocked pairs have been " +
        "registered with registerBlockedPairsForPredict / " +
        "computeBlockedPairsForPredict; call predict() to score the " +
        "registered table, or invalidateCache() first")
    if (numChunksLeft == 1 && numChunksRight == 1)
      return predict(thresholdMatchProbability)
    def chunkOf(n: Int) = pmod(hash(Blocking.joinKeyCol(settings)), lit(n))
    val chunks = for {
      i <- 0 until numChunksLeft
      j <- 0 until numChunksRight
    } yield {
      val pairs = Blocking.blockedIdPairsBetween(
        concatWithTf.filter(chunkOf(numChunksLeft) === i),
        concatWithTf.filter(chunkOf(numChunksRight) === j), settings)
      Predict.score(
        ComparisonVectors.compute(pairs, concatWithTf, settings,
          broadcastRecords = broadcastRecordsOk),
        settings, None, thresholdMatchProbability)
        .breakLineage(true) // eager: chunks run one after another
    }
    chunks.reduce(_.unionByName(_))
  }

  /** Block + score new records against the existing corpus without
    * re-linking the corpus to itself
    * (`find_matches_to_new_records.py:14-51`). */
  def findMatchesToNewRecords(newRecords: DataFrame,
      thresholdMatchProbability: Option[Double] = None): DataFrame = {
    // l = existing corpus, r = new records (a request batch, never
    // widened); no uid-ordering filter
    val idPairs = Blocking.pairsUnderRules(
      Blocking.narrow(concat, settings).widened("find_matches.corpus"),
      Blocking.narrow(newRecords, settings), Blocking.rules(settings), None)
    val newWithTf = withTfValues(newRecords)
    // both sides must fit: the corpus by the linker's own decision, the
    // caller-supplied new-records frame measured directly (external frames
    // with unknown stats estimate high and correctly decline)
    val pairsDf = ComparisonVectors.pairsFromIdsTwoFrames(
      idPairs, concatWithTf, newWithTf, settings,
      broadcastRecords = broadcastRecordsOk &&
        Decide.broadcastByStats("find_matches.new_records", newRecords))
    Predict.score(ComparisonVectors.addGammas(pairsDf, settings), settings,
      None, thresholdMatchProbability)
  }

  /** Score every record against itself (`linker.py:493-552`) — input for
    * the unlinkables diagnostic. */
  def selfLink(): DataFrame = {
    val records = concatWithTf.withColumn("__join_key",
      Blocking.joinKeyCol(settings))
    val projection = lit("self").as(Cols.MatchKey) +:
      ComparisonVectors.pairProjection(settings, records.columns.toSeq)
    val pairs = records.alias("l")
      .join(records.alias("r"), col("l.__join_key") === col("r.__join_key"))
      .select(projection: _*)
    Predict.score(ComparisonVectors.addGammas(pairs, settings), settings)
  }

  /** Evaluation facade (`linker_components/evaluation.py`). */
  object evaluation {
    import graft.evaluation.Evaluation

    def truthSpaceFromLabelColumn(labelColumn: String): DataFrame = {
      val scored = predict()
      Evaluation.truthSpaceTable(
        Evaluation.withClericalFromLabelColumn(scored, labelColumn))
    }

    def unlinkables(): DataFrame = Evaluation.unlinkables(selfLink())

    def comparisonVectorDistribution(): DataFrame =
      Evaluation.comparisonVectorDistribution(comparisonVectors(), settings)

    def completeness(columns: Seq[String] = Nil): DataFrame =
      Evaluation.completeness(concat, settings, columns)

    def predictionErrorsFromLabelColumn(labelColumn: String,
        threshold: Double): DataFrame =
      Evaluation.predictionErrors(predict(), labelColumn, threshold)

    /** Truth-space table against a pairwise labels table
      * (`accuracy.py` labels-table path): the labelled pairs are scored
      * through the model; clerical truth = score >= thresholdActual. */
    def truthSpaceFromLabelsTable(labels: DataFrame,
        thresholdActual: Double = 0.5): DataFrame = {
      val scored = scorePairsFromLabels(labels)
        .withColumn("clerical_match",
          (col("clerical_match_score") >= thresholdActual).cast("int"))
      Evaluation.truthSpaceTable(scored)
    }

    /** FP/FN lists at a prediction threshold against a pairwise labels
      * table (`linker_components/evaluation.py:37-351`). */
    def predictionErrorsFromLabelsTable(labels: DataFrame,
        thresholdActual: Double = 0.5,
        thresholdPredict: Double = 0.5): DataFrame =
      scorePairsFromLabels(labels)
        .withColumn("clerical_match",
          (col("clerical_match_score") >= thresholdActual).cast("int"))
        .withColumn("predicted",
          (col(Cols.MatchProbability) >= thresholdPredict).cast("int"))
        .filter(col("predicted") =!= col("clerical_match"))
        .withColumn("error_type",
          when(col("predicted") === 1, lit("FP")).otherwise(lit("FN")))
  }

  /** Clustering facade beyond plain CC. */
  object clustering {
    import graft.clustering.ClusteringOps
    def clusterOneToOne(predictions: DataFrame, threshold: Double): DataFrame = {
      val uid = settings.uniqueIdColumn
      ClusteringOps.oneToOne(
        predictions.filter(col(Cols.MatchProbability) >= threshold),
        Cols.l(uid), Cols.r(uid))
    }
    def clusterAtMultipleThresholds(predictions: DataFrame,
        thresholds: Seq[Double]): DataFrame = {
      val uid = settings.uniqueIdColumn
      ClusteringOps.atMultipleThresholds(predictions, thresholds,
        Cols.l(uid), Cols.r(uid))
    }
  }

  /** Visualisation facade (`linker_components/visualisations.py`): every
    * chart the reference renders, as Vega-Lite [[graft.charts.ChartSpec]]s
    * or standalone HTML dashboards over this linker's model and queries. */
  object visualisations {
    import graft.charts.{Charts, ChartSpec, Dashboards}
    import graft.evaluation.Evaluation

    def matchWeightsChart(): ChartSpec = Charts.matchWeightsChart(settings)

    def mUParametersChart(): ChartSpec = Charts.muParametersChart(settings)

    def parameterEstimateComparisonsChart(): ChartSpec =
      Charts.parameterEstimateComparisonsChart(settings)

    def matchWeightsHistogram(predictions: DataFrame): ChartSpec =
      Charts.matchWeightsHistogramChart(
        Evaluation.matchWeightHistogram(predictions))

    def unlinkablesChart(): ChartSpec =
      Charts.unlinkablesChart(evaluation.unlinkables())

    def completenessChart(columns: Seq[String] = Nil): ChartSpec =
      Charts.completenessChart(evaluation.completeness(columns))

    def cumulativeNumComparisonsFromBlockingRulesChart(): ChartSpec =
      Charts.cumulativeComparisonsChart(
        Evaluation.cumulativeComparisonsPerRule(concat, settings))

    def tfAdjustmentChart(column: String, nMostFreq: Int = 10): ChartSpec =
      Charts.tfAdjustmentChart(
        Evaluation.tfChartData(concat, Seq(column), nMostFreq))

    def rocChartFromLabelColumn(labelColumn: String): ChartSpec =
      Charts.rocChart(evaluation.truthSpaceFromLabelColumn(labelColumn))

    def precisionRecallChartFromLabelColumn(labelColumn: String): ChartSpec =
      Charts.precisionRecallChart(
        evaluation.truthSpaceFromLabelColumn(labelColumn))

    def accuracyChartFromLabelColumn(labelColumn: String): ChartSpec =
      Charts.accuracyChart(evaluation.truthSpaceFromLabelColumn(labelColumn))

    def thresholdSelectionToolFromLabelColumn(labelColumn: String): ChartSpec =
      Charts.thresholdSelectionTool(
        evaluation.truthSpaceFromLabelColumn(labelColumn))

    /** Waterfall for one scored pair picked by its ids. */
    def waterfallChart(predictions: DataFrame, uidL: Any, uidR: Any): ChartSpec = {
      val uid = settings.uniqueIdColumn
      Charts.waterfallChart(
        Evaluation.waterfallData(
          predictions.filter(col(Cols.l(uid)) === lit(uidL) &&
            col(Cols.r(uid)) === lit(uidR)), settings))
    }

    def comparisonViewerDashboard(predictions: DataFrame, outPath: String,
        exampleRowsPerCategory: Int = 2,
        minimumComparisonVectorCount: Long = 0L): String = {
      val html = Dashboards.comparisonViewerHtml(predictions, settings,
        exampleRowsPerCategory, minimumComparisonVectorCount)
      Dashboards.saveHtml(html, outPath)
      html
    }

    /** Labelling-tool candidates (`labelling_tool.py:20-71`): one record
      * compared against EVERY input record (full block — the candidate
      * set must not depend on the model's blocking rules), kept above
      * `matchWeightThreshold`. The single record sits on the broadcast
      * side of the cross join, so this is one scan of the inputs. */
    def labellingToolComparisons(uniqueId: Any,
        sourceDataset: Option[String] = None,
        matchWeightThreshold: Double = -4.0): DataFrame = {
      val uid = settings.uniqueIdColumn
      val rec0 = concatWithTf.filter(col(uid) === lit(uniqueId))
      val rec = sourceDataset.fold(rec0)(sd =>
        rec0.filter(col(settings.sourceDatasetColumn) === lit(sd)))
      compareRecords(concatWithTf, rec)
        .filter(col(Cols.MatchWeight) > matchWeightThreshold)
    }

    /** Offline labelling-tool HTML (`labelling_tool.py:73-130`): label
      * each candidate pair match / not match / unsure and export the
      * labels as a pairwise-labels JSON usable by
      * [[training.estimateMFromPairwiseLabels]]. */
    def labellingToolForRecord(uniqueId: Any, outPath: String,
        sourceDataset: Option[String] = None,
        matchWeightThreshold: Double = -4.0): String = {
      val html = Dashboards.labellingToolHtml(
        labellingToolComparisons(uniqueId, sourceDataset,
          matchWeightThreshold), settings)
      Dashboards.saveHtml(html, outPath)
      html
    }

    def clusterStudioDashboard(predictions: DataFrame,
        clusteredNodes: DataFrame, outPath: String,
        samplingMethod: String = "by_cluster_size",
        sampleSize: Int = 10, sampleSeed: Long = 42L): String = {
      val uid = settings.uniqueIdColumn
      val edges = predictions
        .withColumnRenamed(Cols.l(uid), "unique_id_l")
        .withColumnRenamed(Cols.r(uid), "unique_id_r")
      val nodes = clusteredNodes.withColumnRenamed(uid, "node_id")
      val ids = Evaluation.sampleClusters(nodes.select("node_id", "cluster_id"),
        edges, samplingMethod, sampleSize, sampleSeed)
      val html = Dashboards.clusterStudioHtml(nodes, edges, ids)
      Dashboards.saveHtml(html, outPath)
      html
    }
  }

  // user-registered TF lookup tables, keyed by column
  // (`table_management.register_term_frequency_lookup`): columns
  // (<col>, tf_<col>), consulted by realtime scoring when the input
  // records do not carry tf values themselves
  private val tfLookups =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Register a user-supplied term-frequency lookup for `column`
    * (reference `table_management.register_term_frequency_lookup`). The
    * table must carry `(column, tf_column)`. */
  def registerTermFrequencyLookup(table: DataFrame, column: String): Unit =
    tfLookups(column) = table

  /** Derive a TF table for `column` from the linker's own input data AND
    * register it for realtime / within / between scoring (reference
    * `table_management.compute_tf_table`, which caches the result where
    * `predict_within` / `predict_between` find it). */
  def computeTfTable(column: String): DataFrame = {
    val t = TermFrequency.table(concat, column)
    tfLookups(column) = t
    t
  }

  /** Attach `tf_<col>` values to a record frame with the reference's
    * three-tier precedence (`inference.py:815-860` score_pairs docs):
    * tf columns already present on the input records win; else a
    * registered lookup table; else frequencies derived from the linker's
    * own corpus. No static broadcast hint — lookups are unbounded at
    * scale; the planner broadcasts whichever side is small. */
  private def withTfValues(records: DataFrame): DataFrame =
    settings.tfColumns.foldLeft(records) { (acc, c) =>
      if (acc.columns.contains(Cols.tf(c)) || !acc.columns.contains(c)) acc
      else {
        val lookup = tfLookups.getOrElse(c, computeTfTable(c))
        acc.join(lookup, Seq(c), "left")
      }
    }

  /** Score the full cartesian product of two record frames against the
    * trained model — NO blocking rules applied (`inference.py:815-900`
    * `score_pairs`). TF values resolve per [[withTfValues]]. With
    * `includeFoundByBlockingRules`, emits the reference's boolean
    * `found_by_blocking_rules` column: would ANY prediction blocking rule
    * have generated this pair (`accuracy.py:293-309`). */
  def scorePairs(left: DataFrame, right: DataFrame,
      includeFoundByBlockingRules: Boolean = false): DataFrame = {
    val l = withTfValues(left)
    val projection = ComparisonVectors.pairProjection(settings,
      l.columns.toSeq)
    // the flag evaluates on the two-sided join (l./r. aliases), BEFORE the
    // pair projection narrows to comparison columns — blocking-rule columns
    // need not be comparison columns
    val flag =
      if (!includeFoundByBlockingRules) Seq.empty
      else Seq((settings.blockingRules match {
        case Nil => lit(true)
        case rules =>
          rules.map(r => coalesce(r.condition, lit(false))).reduce(_ || _)
      }).as("found_by_blocking_rules"))
    val pairs = l.alias("l").crossJoin(withTfValues(right).alias("r"))
      .select(projection ++ flag: _*)
    Predict.score(ComparisonVectors.addGammas(pairs, settings), settings)
  }

  /** Compare two small record frames against the trained model without any
    * blocking — realtime scoring (`realtime.py:44-159`); TF-aware alias of
    * [[scorePairs]]. */
  def compareRecords(left: DataFrame, right: DataFrame): DataFrame =
    scorePairs(left, right)

  /** Strict TF attach for [[predictWithin]] / [[predictBetween]]
    * (`inference.py:1047-1090` `_require_registered_term_frequencies`):
    * hardcoded `tf_<col>` input columns pass through, registered lookups
    * broadcast-join on, and anything else FAILS — these primitives never
    * derive term frequencies from the supplied records (frequencies seen
    * at training time are the model's, not the new batch's). */
  private def withRequiredTf(df: DataFrame, s2: LinkSettings): DataFrame = {
    val missing = s2.tfColumns.filterNot(c =>
      df.columns.contains(Cols.tf(c)) || tfLookups.contains(c))
    if (missing.nonEmpty) throw new IllegalArgumentException(
      "predictWithin / predictBetween require term-frequency tables to be " +
        "registered (or tf_<col> columns to be present on the supplied " +
        "records). Missing term-frequency information for column(s): " +
        s"${missing.mkString(", ")}. Register them with " +
        "computeTfTable(col) or registerTermFrequencyLookup(table, col), " +
        "or include hardcoded tf_<col> columns on the supplied records.")
    s2.tfColumns.foldLeft(df) { (acc, c) =>
      if (acc.columns.contains(Cols.tf(c))) acc
      else acc.join(tfLookups(c), Seq(c), "left")
    }
  }

  private def overridden(linkTypeOverride: Option[LinkType],
      blockingRulesOverride: Option[Seq[BlockingRule]]): LinkSettings =
    settings.copy(
      linkType = linkTypeOverride.getOrElse(settings.linkType),
      blockingRules = blockingRulesOverride.getOrElse(settings.blockingRules))

  /** Blocked, scored predictions WITHIN a new collection of records using
    * the trained model (`inference.py:1156-1250` `predict_within`): the
    * input shape mirrors the Linker constructor, candidates come from the
    * trained blocking rules (overridable), and TF resolves strictly per
    * [[withRequiredTf]]. */
  def predictWithin(records: Seq[(String, DataFrame)],
      linkTypeOverride: Option[LinkType] = None,
      blockingRulesOverride: Option[Seq[BlockingRule]] = None,
      thresholdMatchProbability: Option[Double] = None,
      thresholdMatchWeight: Option[Double] = None): DataFrame = {
    val s2 = overridden(linkTypeOverride, blockingRulesOverride)
    val concat2 = VerticalConcat(records, s2)
    val idPairs = Blocking.blockedIdPairs(concat2, s2)
    val cv = ComparisonVectors.compute(idPairs, withRequiredTf(concat2, s2), s2,
      broadcastRecords =
        Decide.broadcastByStats("predict_within.records", concat2))
    Predict.score(cv, s2, thresholdMatchWeight, thresholdMatchProbability)
  }

  /** Single-frame convenience for [[predictWithin]]. */
  def predictWithin(df: DataFrame): DataFrame =
    predictWithin(Seq("__input" -> df))

  /** Blocked, scored predictions BETWEEN two new collections — candidates
    * join left x right only, never within a side (`inference.py:1252-1430`
    * `predict_between`, the incremental-linkage primitive; left/right are
    * ROLES, not source datasets). Under `link_only` pairs must additionally
    * come from different source datasets. TF resolves strictly per
    * [[withRequiredTf]]. */
  def predictBetween(left: Seq[(String, DataFrame)],
      right: Seq[(String, DataFrame)],
      linkTypeOverride: Option[LinkType] = None,
      blockingRulesOverride: Option[Seq[BlockingRule]] = None,
      thresholdMatchProbability: Option[Double] = None,
      thresholdMatchWeight: Option[Double] = None): DataFrame = {
    val s2 = overridden(linkTypeOverride, blockingRulesOverride)
    val lc = VerticalConcat(left, s2)
    val rc = VerticalConcat(right, s2)
    // the reference's two_dataset_link_only trick: an inner join BETWEEN
    // the role tables generates no within-side pairs by construction; the
    // link_only source condition is then the only extra filter needed
    val extraFilter = s2.linkType match {
      case LinkType.LinkOnly if lc.columns.contains(s2.sourceDatasetColumn) =>
        Some(col(s"l.${s2.sourceDatasetColumn}") =!=
          col(s"r.${s2.sourceDatasetColumn}"))
      case _ => None
    }
    val idPairs = Blocking.pairsUnderRules(
      Blocking.narrow(lc, s2).widened("predict_between.left"),
      Blocking.narrow(rc, s2).widened("predict_between.right"),
      Blocking.rules(s2), extraFilter)
    val pairsDf = ComparisonVectors.pairsFromIdsTwoFrames(idPairs,
      withRequiredTf(lc, s2), withRequiredTf(rc, s2), s2,
      broadcastRecords =
        Decide.broadcastByStats("predict_between.left", lc, sides = 2) &&
        Decide.broadcastByStats("predict_between.right", rc, sides = 2))
    Predict.score(ComparisonVectors.addGammas(pairsDf, s2), s2,
      thresholdMatchWeight, thresholdMatchProbability)
  }

  /** Single-frame convenience for [[predictBetween]]. */
  def predictBetween(left: DataFrame, right: DataFrame): DataFrame =
    predictBetween(Seq("__left" -> left), Seq("__right" -> right))

  /** Persist the current (trained) model as reference-style settings JSON
    * (`linker.misc.save_model_to_json`) — includes the per-session trained
    * m/u history, so a reloaded model medians identically. */
  def saveModelToJson(path: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      graft.model.SettingsJson.toJson(settings))
}

object Linker {
  /** Rebuild a linker from a saved model JSON
    * (`Linker(..., settings_dict_path)` in the reference). */
  def fromModelJson(inputs: Seq[(String, DataFrame)], path: String): Linker =
    new Linker(inputs, graft.model.SettingsJson.fromJson(
      java.nio.file.Files.readString(java.nio.file.Paths.get(path))))

  def fromModelJson(df: DataFrame, path: String): Linker =
    fromModelJson(Seq("df" -> df), path)
}
