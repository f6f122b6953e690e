package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.GraftSqlBridge
import graft.model._

/**
 * Vertical concatenation of input frames (reference:
 * `splink/internals/vertically_concatenate.py:23-71`): union all inputs,
 * adding a literal `source_dataset` column when linking multiple frames.
 * For cross-dataset linking the unique id is made globally unique with the
 * composite `source_dataset || '-__-' || unique_id`
 * (`unique_id_concat.py:5-43`).
 */
object VerticalConcat {
  def apply(inputs: Seq[(String, DataFrame)], settings: LinkSettings): DataFrame = {
    require(inputs.nonEmpty)
    if (inputs.size == 1 && settings.linkType == LinkType.DedupeOnly) inputs.head._2
    else {
      val withSd = inputs.map { case (name, df) =>
        if (df.columns.contains(settings.sourceDatasetColumn)) df
        else df.withColumn(settings.sourceDatasetColumn, lit(name))
      }
      withSd.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Composite uid for multi-frame linking (`unique_id_concat.py:8-43`). */
  def compositeUid(settings: LinkSettings): Column =
    concat_ws("-__-", col(settings.sourceDatasetColumn),
      col(settings.uniqueIdColumn).cast("string"))
}

/**
 * Term-frequency tables (reference `term_frequencies.py:32-55`): for each
 * configured column, value -> relative frequency, left-joined back onto the
 * concat table (`term_frequencies.py:79-109`). TF tables are tiny relative
 * to the input (distinct values), so the join-back is a broadcast hash join
 * — an improvement over the reference, which leaves join strategy to the
 * backend.
 */
object TermFrequency {
  /** `SELECT col, count(*)/total AS tf_col FROM df WHERE col IS NOT NULL GROUP BY col`.
    * The grand total is a 1-row broadcast cross-join, not an empty-frame
    * window (which would collapse the TF table to one partition). */
  def table(df: DataFrame, column: String): DataFrame = {
    val counts = df.filter(col(column).isNotNull)
      .groupBy(col(column))
      .agg(count(lit(1)).as("value_count"))
    val total = counts.agg(sum("value_count").as("__total"))
    counts.crossJoin(broadcast(total))
      .select(col(column),
        (col("value_count").cast("double") / col("__total")).as(Cols.tf(column)))
  }

  /** Left-join each TF table onto the concat frame. NO static broadcast
    * hint: a TF table's size is the column's distinct-value count, which
    * is unknowable before the aggregate runs — tiny for categorical
    * columns, multi-GB for a name column over a 100 TB corpus, where a
    * forced broadcast would OOM. AQE sizes the materialised aggregate at
    * runtime and converts to a broadcast join exactly when it fits
    * (DynamicJoinSelection), which is the hint's benefit without its
    * unbounded-size failure mode. */
  def joinAll(df: DataFrame, columns: Seq[String]): DataFrame =
    columns.foldLeft(df) { (acc, c) =>
      acc.join(table(df, c), Seq(c), "left")
    }
}

/**
 * Candidate-pair generation under blocking rules (reference
 * `blocking.py:193-226, 747-830`). Output is the narrow id-pairs frame
 * `(match_key, join_key_l, join_key_r)` — deliberately NOT the full wide
 * pair rows: the blocking self-join then shuffles only (uid, blocking keys),
 * and full attributes are fetched by two equi-joins afterwards
 * (`comparison_vector_values.py:98-115`). At 100TB this keeps the heaviest
 * shuffle narrow.
 *
 * Multi-rule semantics (`blocking.py:158-191`): rule k only emits pairs not
 * already captured by rules 1..k-1, via `AND NOT (coalesce(rule_1, false)
 * OR ...)`; results are unioned with `match_key = k` — avoiding a global
 * distinct over all pairs.
 */
object Blocking {
  import BlockingRule._

  /** Columns a rule's condition references (base, unqualified names). */
  def ruleColumns(rule: BlockingRule): Seq[String] = {
    val e = rule.conditionExpression
    e.collect {
      case a: UnresolvedAttribute if a.nameParts.size >= 2 &&
        (a.nameParts.head == "l" || a.nameParts.head == "r") => a.nameParts(1)
      case a: UnresolvedAttribute if a.nameParts.size == 1 => a.name
    }.distinct
  }

  /** The uid column used for pair ordering / join keys: composite for
    * multi-frame link types (`blocking.py:698-744`). */
  def joinKeyCol(settings: LinkSettings): Column = settings.linkType match {
    // native type: `uid_l < uid_r` must use the column's own ordering, not
    // a lexicographic string ordering
    case LinkType.DedupeOnly => col(settings.uniqueIdColumn)
    case _ => VerticalConcat.compositeUid(settings)
  }

  /** Link-type WHERE clause over aliases l/r (`blocking.py:662-695`). */
  def linkTypeFilter(settings: LinkSettings): Column = {
    val uidL = col("l.__join_key"); val uidR = col("r.__join_key")
    settings.linkType match {
      case LinkType.DedupeOnly | LinkType.LinkAndDedupe => uidL < uidR
      case LinkType.LinkOnly =>
        col(s"l.${settings.sourceDatasetColumn}") < col(s"r.${settings.sourceDatasetColumn}")
    }
  }

  /** Shared prelude of the blocked-pair entry points: registers the kernel
    * functions custom rules may reference by SQL name (idempotent, for
    * Linker-less callers), defaults an empty rule list to `1=1`, and
    * builds the projection that narrows a side to `__join_key` plus the
    * columns the rules need. Narrowing also widens before the self-join:
    * pair expansion is quadratic per block and must not run on a tiny
    * scan's task count (no-op at scale). */
  private def rulesAndNarrow(spark: SparkSession, settings: LinkSettings)
      : (Seq[BlockingRule], DataFrame => DataFrame) = {
    graft.functions.funcs.registerAll(spark)
    val rules = if (settings.blockingRules.nonEmpty) settings.blockingRules
      else Seq(CustomBlockingRule("1=1"))
    val neededCols = (rules.flatMap(ruleColumns) ++
      (settings.linkType match {
        case LinkType.DedupeOnly => Seq.empty
        case _ => Seq(settings.sourceDatasetColumn)
      })).distinct
    def narrow(df: DataFrame) = Repartition.ensureMinParallel(df.select(
      (joinKeyCol(settings).as("__join_key") +:
        neededCols.filter(df.columns.contains).map(col)): _*))
    (rules, narrow)
  }

  /**
   * Generate blocked id pairs from the concat frame.
   *
   * Two-dataset `link_only` fast path (`vertically_concatenate.py:121-163`,
   * `blocking.py:636-659`): when exactly two input frames are provided and
   * no within-frame pairs are wanted, join the two frames directly instead
   * of self-joining the concat — half the join input, no source-dataset
   * inequality filter.
   *
   * @return DataFrame(match_key: string, join_key_l, join_key_r)
   */
  def blockedIdPairs(concat: DataFrame, settings: LinkSettings,
      twoFrames: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (rules, narrow) = rulesAndNarrow(concat.sparkSession, settings)
    (settings.linkType, twoFrames) match {
      case (LinkType.LinkOnly, Some((left, right))) =>
        pairsUnderRules(narrow(left), narrow(right), rules, None)
      case _ =>
        val n = narrow(concat)
        pairsUnderRules(n, n, rules, Some(linkTypeFilter(settings)))
    }
  }

  /** Blocked pairs BETWEEN two record subsets under the standard
    * link-type ordering — the reference's per-chunk blocking
    * (`inference.py:368-420`): with both sides restricted to a hash
    * chunk, the blocking join's memory is bounded by the chunk sizes,
    * not the corpus. The uid-ordering filter still applies, so a pair
    * lands in exactly one (left-chunk, right-chunk) combination. */
  def blockedIdPairsBetween(left: DataFrame, right: DataFrame,
      settings: LinkSettings): DataFrame = {
    val (rules, narrow) = rulesAndNarrow(left.sparkSession, settings)
    pairsUnderRules(narrow(left), narrow(right), rules,
      Some(linkTypeFilter(settings)))
  }

  /**
   * Per-rule join with NOT-previous dedupe and match_key union, over
   * already-projected l/r frames carrying `__join_key`. `extraFilter` is
   * the link-type WHERE clause (None when joining two distinct frames,
   * e.g. find-matches-to-new-records, `blocking.py:698-744`).
   *
   * Salting (`BlockOnRule.salts` > 1, reference
   * `spark/database_api.py` salting + `optimising_spark.md:78`): the rule's
   * join is split into `salts` unioned joins, each restricted to one hash
   * bucket of the left side — s smaller tasks instead of one giant task on
   * a hot key. (AQE skew-join handles most cases; salting is the explicit
   * escape hatch.)
   */
  def pairsUnderRules(left: DataFrame, right: DataFrame,
      rules: Seq[BlockingRule], extraFilter: Option[Column]): DataFrame = {
    val anyExplodes = rules.exists(_.arraysToExplode.nonEmpty)
    val perRule = rules.zipWithIndex.map { case (rule, i) =>
      // NOT-previous is only exact against NON-exploding earlier rules: an
      // exploding rule's condition on the unexploded arrays is whole-array
      // equality, not element overlap, so pairs sharing just some elements
      // would escape the filter and be emitted under two match keys. With
      // any exploding rule in play, cross-rule dedupe instead falls through
      // to the min(match_key) groupBy below (`blocking.py:814-827`).
      val notPrev = rules.take(i).filter(_.arraysToExplode.isEmpty).map(pr =>
        !coalesce(pr.condition, lit(false))) // AND NOT any earlier rule
      val (lhs, rhs) =
        if (rule.arraysToExplode.nonEmpty) {
          def explodeAll(df: DataFrame) = rule.arraysToExplode.foldLeft(df) {
            (d, c) => d.withColumn(c, explode(col(c)))
          }
          (explodeAll(left).alias("l"), explodeAll(right).alias("r"))
        } else (left.alias("l"), right.alias("r"))
      val cond = (rule.condition +: (extraFilter.toSeq ++ notPrev)).reduce(_ && _)
      val salts = rule match {
        case BlockOnRule(_, s, _) if s > 1 => s
        case _ => 1
      }
      def project(j: DataFrame) = j.select(lit(i.toString).as(Cols.MatchKey),
        col("l.__join_key").as("join_key_l"),
        col("r.__join_key").as("join_key_r"))
      val selected =
        if (salts == 1) project(lhs.join(rhs, cond, "inner"))
        else (0 until salts).map { k =>
          project(lhs.join(rhs,
            cond && pmod(hash(col("l.__join_key")), lit(salts)) === k, "inner"))
        }.reduce(_.unionByName(_))
      // exploded rules can emit the same pair many times (`blocking.py:398-407`);
      // the per-rule distinct pre-shrinks the union feeding the global dedupe
      if (rule.arraysToExplode.nonEmpty) selected.distinct() else selected
    }
    val unioned = perRule.reduce(_.unionByName(_))
    if (!anyExplodes || rules.size == 1) unioned
    else
      // one narrow (3-column) global groupBy, only in the exploding multi-
      // rule case — the reference pays the same materialised dedupe
      unioned.groupBy(col("join_key_l"), col("join_key_r"))
        .agg(min(col(Cols.MatchKey).cast("int")).as("__mk"))
        .select(col("__mk").cast("string").as(Cols.MatchKey),
          col("join_key_l"), col("join_key_r"))
  }
}

/**
 * Pairwise labels-table workflows (reference `block_from_labels.py:12-92`,
 * `lower_id_on_lhs.py`): a clerical-review labels table carries
 * `<uid>_l`, `<uid>_r` (plus `<source_dataset>_l/_r` for multi-frame
 * models) and optionally `clerical_match_score`. The pairs become blocked
 * id pairs with `match_key = 'from_labels'` and flow through the normal
 * comparison-vector + scoring machinery.
 */
object Labels {

  private def joinKey(labels: DataFrame, settings: LinkSettings,
      side: String => String): Column = {
    val sd = side(settings.sourceDatasetColumn)
    if (labels.columns.contains(sd))
      concat_ws("-__-", col(sd), col(side(settings.uniqueIdColumn)).cast("string"))
    else if (settings.linkType != LinkType.DedupeOnly)
      // multi-frame records join on the composite '<sd>-__-<uid>' key; a
      // bare-uid label key would inner-join to zero rows with no error
      throw new IllegalArgumentException(
        s"labels table must carry '$sd' for link type ${settings.linkType} " +
          "(records use composite source_dataset+uid join keys)")
    else col(side(settings.uniqueIdColumn))
  }

  /** Normalise so the LOWER join key is on the left, swapping every paired
    * `_l`/`_r` column together (`lower_id_on_lhs.py:47`) — label tables come
    * from review tools in arbitrary orientation, but blocked pairs are
    * canonically ordered. */
  def prepared(labels: DataFrame, settings: LinkSettings): DataFrame = {
    val swap = joinKey(labels, settings, Cols.l) > joinKey(labels, settings, Cols.r)
    val cols = labels.columns.map { c =>
      if (c.endsWith("_l") && labels.columns.contains(c.dropRight(2) + "_r"))
        when(swap, col(c.dropRight(2) + "_r")).otherwise(col(c)).as(c)
      else if (c.endsWith("_r") && labels.columns.contains(c.dropRight(2) + "_l"))
        when(swap, col(c.dropRight(2) + "_l")).otherwise(col(c)).as(c)
      else col(c)
    }
    labels.select(cols.toSeq: _*)
  }

  /** Labels as a blocked-id-pairs frame (match_key, join_key_l, join_key_r).
    * Distinct: a pair labelled twice must be scored once — the score join
    * back onto the labels would otherwise fan out quadratically. */
  def idPairs(labels: DataFrame, settings: LinkSettings): DataFrame = {
    val p = prepared(labels, settings)
    p.select(lit("from_labels").as(Cols.MatchKey),
      joinKey(p, settings, Cols.l).as("join_key_l"),
      joinKey(p, settings, Cols.r).as("join_key_r"))
      .distinct()
  }
}

/**
 * Comparison-vector computation (reference
 * `comparison_vector_values.py:41-132`): join blocked id pairs back to the
 * records on both sides, project every model column as `col_l`/`col_r`,
 * then evaluate each comparison's CASE to a `gamma_<name>` small-int.
 */
object ComparisonVectors {

  /** The l/r projection list for the pairwise frame
    * (`settings.py:366-378`, `comparison_level.py:560-570`). */
  def pairProjection(settings: LinkSettings, concatCols: Seq[String]): Seq[Column] = {
    val uid = settings.uniqueIdColumn
    val base = Seq(
      col(s"l.$uid").as(Cols.l(uid)),
      col(s"r.$uid").as(Cols.r(uid)))
    val sd = if (concatCols.contains(settings.sourceDatasetColumn))
      Seq(col(s"l.${settings.sourceDatasetColumn}").as(Cols.l(settings.sourceDatasetColumn)),
        col(s"r.${settings.sourceDatasetColumn}").as(Cols.r(settings.sourceDatasetColumn)))
    else Seq.empty
    val dataCols = settings.allInputColumns.filter(concatCols.contains).flatMap { c =>
      Seq(col(s"l.$c").as(Cols.l(c)), col(s"r.$c").as(Cols.r(c)))
    }
    val tfCols = settings.tfColumns.filter(c => concatCols.contains(Cols.tf(c))).flatMap { c =>
      Seq(col(s"l.${Cols.tf(c)}").as(Cols.l(Cols.tf(c))),
        col(s"r.${Cols.tf(c)}").as(Cols.r(Cols.tf(c))))
    }
    val extra = settings.additionalColumnsToRetain.filter(concatCols.contains).flatMap { c =>
      Seq(col(s"l.$c").as(Cols.l(c)), col(s"r.$c").as(Cols.r(c)))
    }
    base ++ sd ++ dataCols ++ tfCols ++ extra
  }

  /** Pairs with all l/r columns, from id pairs + records. */
  def pairsFromIds(idPairs: DataFrame, concatWithTf: DataFrame,
      settings: LinkSettings, broadcastRecords: Boolean = false): DataFrame =
    pairsFromIdsTwoFrames(idPairs, concatWithTf, concatWithTf, settings,
      broadcastRecords)

  /** Same, joining the l and r sides back to DIFFERENT record frames
    * (find-matches-to-new-records shape).
    *
    * `broadcastRecords` is the linkage regime's key plan decision: the
    * pair frame is usually ORDERS OF MAGNITUDE larger than the record
    * frame (the reference's headline workload is 100M+ pairs from a few
    * million records), so when the records fit executor memory,
    * broadcasting BOTH record sides means the pair frame is generated and
    * consumed inside one stage and never shuffled at all. Left to AQE's
    * default 10MB threshold, a few-million-row record table flips these
    * joins to sort-merge and the whole pair frame pays two full
    * exchanges + spilling sorts (measured 4x wall on the sf10 flagship
    * predict). Callers decide by SIZE (see `Linker.broadcastRecordsOk`);
    * at genuine billions-of-records scale the hint stays false and the
    * sort-merge path is the right one. */
  def pairsFromIdsTwoFrames(idPairs: DataFrame, leftRecords: DataFrame,
      rightRecords: DataFrame, settings: LinkSettings,
      broadcastRecords: Boolean = false): DataFrame = {
    val joinKey = Blocking.joinKeyCol(settings)
    def side(df: DataFrame) = {
      val keyed = df.withColumn("__join_key", joinKey)
      if (broadcastRecords) broadcast(keyed) else keyed
    }
    val lrec = side(leftRecords)
    val rrec = side(rightRecords)
    val projection = col(Cols.MatchKey) +:
      pairProjection(settings, lrec.columns.toSeq)
    idPairs.alias("b")
      .join(lrec.alias("l"), col("b.join_key_l") === col("l.__join_key"))
      .join(rrec.alias("r"), col("b.join_key_r") === col("r.__join_key"))
      .select(projection: _*)
  }

  /** Add gamma columns to a pairwise l/r frame. Registers the kernel
    * functions first: gamma CASE expressions parse names like
    * `jaro_winkler` from SQL, and callers that reach this through
    * `Training` (not a `Linker`, whose constructor registers) would
    * otherwise fail resolution. Registration is idempotent. */
  def addGammas(pairs: DataFrame, settings: LinkSettings): DataFrame = {
    graft.functions.funcs.registerAll(pairs.sparkSession)
    val gammas = settings.comparisons.map(c => c.gammaColumnName -> c.gammaColumn)
    pairs.withColumns(gammas.toMap)
  }

  def compute(idPairs: DataFrame, concatWithTf: DataFrame,
      settings: LinkSettings, broadcastRecords: Boolean = false): DataFrame =
    addGammas(
      pairsFromIds(idPairs, concatWithTf, settings, broadcastRecords),
      settings)

  /** Parquet-compressed -> unsafe-row expansion factor applied to
    * optimizer stats by [[recordsBroadcastOk]]. */
  val RecordsBroadcastExpansion: Int = 4

  /** The shared SIZE decision behind `broadcastRecords` (see
    * [[pairsFromIdsTwoFrames]]): whether a record frame's expanded rows
    * fit `spark.graft.recordsBroadcastBytes` (default 256MB). Optimizer
    * stats are multiplied by [[RecordsBroadcastExpansion]] for the
    * parquet-compressed -> unsafe-row expansion — string-heavy inputs
    * that compress well past 4x should lower the byte ceiling, because
    * an UNDERestimate here does not merely slow the join down: it drives
    * a driver collect and one hashed relation per executor past their
    * memory budgets (OOM, not a plan regression). Callers should measure
    * the RAW input
    * relation (file sources report real bytes) —
    * persisted/checkpointed frames estimate unknown-HIGH and correctly
    * decline, so a sampled/filtered derivative is covered by measuring
    * its parent (fits ⇒ the subset fits). When the measured frame covers
    * only ONE of two sides that will both broadcast (e.g.
    * `predictBetween`'s role frames, measured separately), pass
    * `sides = 2`: the ceiling is split across the sides so the combined
    * executor footprint stays inside the single configured budget. The
    * usual `concat` callers keep `sides = 1` — concat IS the union of
    * every broadcast side, so it already measures the combined total. */
  def recordsBroadcastOk(records: DataFrame, sides: Int = 1): Boolean = {
    val limit = records.sparkSession.conf
      .getOption("spark.graft.recordsBroadcastBytes")
      .map(_.toLong).getOrElse(256L << 20) / math.max(1, sides)
    val est =
      try records.queryExecution.optimizedPlan.stats.sizeInBytes *
        RecordsBroadcastExpansion
      catch { case _: Exception => BigInt(Long.MaxValue) }
    est <= limit
  }
}

/**
 * Fellegi-Sunter scoring (reference `predict.py:42-132, 203-229`): per
 * comparison map gamma -> log2 Bayes factor (model params folded to
 * literals on the driver), sum with the prior, convert to probability with
 * an overflow-safe sigmoid.
 */
object Predict {

  /** match_weight column from gamma columns (prior + sum of per-comparison
    * weights + TF adjustments). */
  def matchWeightColumn(settings: LinkSettings): Column = {
    val parts = settings.comparisons.map(_.matchWeightColumn) ++
      settings.comparisons.filter(_.hasTfLevels).map(_.tfAdjustmentColumn)
    parts.foldLeft(lit(settings.priorMatchWeight))(_ + _)
  }

  /** p = 1 / (1 + 2^-mw) — total and overflow-safe in IEEE double math:
    * mw very negative -> 2^-mw = Inf -> p = 0; very positive -> 2^-mw = 0
    * -> p = 1 (the reference splits into two CASE branches for backends
    * where Inf is an error, `predict.py:214-229`; a single branch keeps the
    * expression referenced once and the plan small). */
  def sigmoid(mw: Column): Column =
    lit(1.0) / (lit(1.0) + pow(lit(2.0), -mw))

  /**
   * Score a comparison-vector frame. Adds `match_weight` and
   * `match_probability`; when `retainIntermediates`, also per-comparison
   * `bf_<name>` Bayes factors.
   */
  def score(cv: DataFrame, settings: LinkSettings,
      thresholdMatchWeight: Option[Double] = None,
      thresholdMatchProbability: Option[Double] = None): DataFrame = {
    val withBf =
      if (settings.retainIntermediateCalculations)
        settings.comparisons.foldLeft(cv) { (df, c) =>
          df.withColumn(Cols.bf(c.outputColumnName), pow(lit(2.0), c.matchWeightColumn))
        }
      else cv
    val mw = matchWeightColumn(settings)
    val scored = withBf
      .withColumn(Cols.MatchWeight, mw)
      .withColumn(Cols.MatchProbability, sigmoid(col(Cols.MatchWeight)))
    val afterW = thresholdMatchWeight
      .map(t => scored.filter(col(Cols.MatchWeight) >= t)).getOrElse(scored)
    thresholdMatchProbability
      .map(t => afterW.filter(col(Cols.MatchProbability) >= t)).getOrElse(afterW)
  }
}
