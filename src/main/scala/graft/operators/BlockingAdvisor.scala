package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.BlockingRule.BlockOnRule

/**
 * Candidate blocking-rule generation under a comparison budget — closing
 * the loop the reference leaves open: its blocking analysis
 * (`blocking_analysis.py:418-780`: count_comparisons_from_blocking_rule,
 * cumulative_comparisons_to_be_scored_from_blocking_rules_chart) measures
 * rules the user already wrote, and its docs teach "choose blocking rules
 * whose comparison counts are affordable, from expressions with high
 * completeness" as a manual loop. Here the whole candidate lattice
 * (singleton expressions and conjunctions up to `maxArity`) is profiled in
 * ONE aggregation pass via GROUPING SETS — Catalyst expands every
 * candidate grouping into a single shuffle, so probing 45 candidate rules
 * over a 100 TB table costs one scan + one exchange, not 45.
 *
 * Per-candidate metrics (all DuckDB-replayable, see q_blocking_advisor):
 *  - `n_comparisons`: sum over non-null blocks of n*(n-1)/2 — the exact
 *    dedupe-pair count the reference's count_comparisons reports for
 *    `link_type='dedupe_only'` before filters
 *  - `largest_block` / `n_blocks`: skew and selectivity of the key
 *  - `completeness`: fraction of rows with every key expression non-null
 *    (a row with a null key can never be blocked by the rule — equality
 *    is null-rejecting — so low completeness means silently lost recall)
 *
 * Null semantics: a group whose key tuple contains a null contributes to
 * NO metric except the completeness denominator, exactly matching the
 * `l.k = r.k` join behaviour (`blocking.py` rules never match on null).
 */
object BlockingAdvisor {

  /** Profile every candidate conjunction of `exprs` up to `maxArity`.
    *
    * @param exprs candidate key expressions (column names or SQL
    *        fragments, e.g. `"substr(name, 1, 2)"`) — each evaluated once
    *        in a pre-projection shared by all candidates
    * @return one row per candidate: (rule, n_columns, n_comparisons,
    *         n_blocks, largest_block, completeness); `rule` is the
    *         `block_on(...)` rendering of the conjunction
    */
  def profile(df: DataFrame, exprs: Seq[String], maxArity: Int = 2)
      : DataFrame =
    profileWithGid(df, exprs, maxArity).drop("gid")

  /** [[profile]] over a portable-hash row sample, for candidate lattices
    * too wide for exact profiling (the exact path caps at 16 exprs /
    * arity 2 because GROUPING SETS multiplies every input row by the
    * candidate count; sampling divides the row side back down — the same
    * trade [[graft.evaluation.Evaluation.countComparisonsFromRules]]
    * makes for `record_sample_proportion`, with the same estimators).
    *
    * Estimator semantics (hash sampling ≈ per-row Bernoulli(f)):
    *  - `n_comparisons`: per-block n'(n'-1)/2 scaled by 1/f² — unbiased
    *    (E[n'(n'-1)] = f²·n(n-1))
    *  - `largest_block`: observed max scaled by 1/f — consistent for the
    *    large blocks that matter for skew decisions
    *  - `n_blocks`: the OBSERVED sampled block count, NOT scaled — blocks
    *    smaller than ~1/f rows are invisible to the sample and no
    *    unbiased correction exists without the block-size distribution
    *  - `completeness`: a row-level ratio, unbiased as-is
    *
    * @param idExpr row-identity expression fed to the portable hash (an
    *        id column, never one of the key exprs — hashing a key would
    *        bias block sizes); the sample is replayable by any engine
    *        with md5
    * @param sampleFraction fraction of rows to keep, in (0, 1];
    *        quantised to 1/10000ths exactly like the reference's
    *        `record_sample_proportion`
    *
    * Note: wide lattices are profiled in multiple bounded passes (see
    * [[chunkSets]]) precisely so the Expand stage always compiles AND
    * stays JIT-able — a thousands-wide single GROUPING SETS would bust
    * janino's 64KB method limit and silently run interpreted.
    */
  def profileSampled(df: DataFrame, exprs: Seq[String], idExpr: String,
      sampleFraction: Double, maxArity: Int = 2): DataFrame = {
    require(sampleFraction > 0 && sampleFraction <= 1,
      s"sampleFraction must be in (0, 1]; got $sampleFraction")
    val modulus = 10000L
    val threshold = math.min(modulus,
      math.max(1L, math.ceil(sampleFraction * modulus).toLong))
    val f = threshold.toDouble / modulus
    val sampled =
      if (threshold >= modulus) df
      else df.filter(graft.pipeline.TextOps.portableHash(
        expr(idExpr).cast("string")) % modulus < threshold)
    val prof = profileWithGid(sampled, exprs, maxArity,
      maxExprs = 32, maxSets = 5000)
    prof.select(
      col("rule"),
      col("n_columns"),
      round(col("n_comparisons") / (f * f)).cast("long").as("n_comparisons"),
      col("n_blocks"),
      round(col("largest_block") / f).cast("long").as("largest_block"),
      col("completeness"))
  }

  /** All candidate index sets, singletons first, for `m` expressions. */
  private def candidateSets(m: Int, maxArity: Int): Seq[Seq[Int]] =
    (1 to math.min(maxArity, m)).flatMap(a => (0 until m).combinations(a))

  // grouping_id bit for column i is the (m-1-i)-th bit (leftmost grouping
  // column = most significant); a SET bit means the column is rolled up
  // (inactive) for that grouping set
  private def gidOf(m: Int, s: Seq[Int]): Long =
    (0 until m).filterNot(s.contains).map(j => 1L << (m - 1 - j)).sum

  // Expand-stage codegen budget, calibrated on Spark 4.1 ExpandExec
  // (BlockingAdvisorSpec pins the max-arity method size): the generated
  // expand_doConsume bytecode is ~ sets * (14*(cols+1) + 30) for string
  // keys. Two cliffs:
  // janino rejects methods > 64KB outright (24 cols / 300 sets fails,
  // ERROR + silent interpreted fallback), and HotSpot never JIT-compiles
  // methods past ~8000 bytecodes (-XX:HugeMethodLimit), so even a
  // "successfully" generated 16-col / 136-set Expand (~31KB) runs as
  // interpreted bytecode. Passes are sized so the whole stage stays
  // JIT-compiled; each pass groups only the columns its sets reference.
  private val ExpandByteBudget = 7000L
  private val ExpandColCap = 12

  /** Greedily partition the candidate sets into passes whose Expand stage
    * fits [[ExpandByteBudget]] and references at most [[ExpandColCap]]
    * key columns (the lexicographic candidate order clusters shared
    * columns, so most passes reuse one column block). */
  private def chunkSets(sets: Seq[Seq[Int]]): Seq[Seq[Seq[Int]]] = {
    def estBytes(nSets: Int, nCols: Int): Long =
      nSets.toLong * (14L * (nCols + 1) + 30L)
    val passes = Seq.newBuilder[Seq[Seq[Int]]]
    var cur = Vector.empty[Seq[Int]]
    var curCols = Set.empty[Int]
    for (s <- sets) {
      val cols = curCols ++ s
      if (cur.nonEmpty && (cols.size > ExpandColCap ||
          estBytes(cur.size + 1, cols.size) > ExpandByteBudget)) {
        passes += cur; cur = Vector(s); curCols = s.toSet
      } else { cur = cur :+ s; curCols = cols }
    }
    if (cur.nonEmpty) passes += cur
    passes.result()
  }

  /** [[profile]] plus the grouping id — the collision-proof candidate key
    * ([[recommend]] maps gid back to the expr set; rendered labels can
    * collide when one candidate expr is itself the comma-join of others).
    * The lattice is profiled in one GROUPING SETS pass per [[chunkSets]]
    * chunk (usually one); each pass re-reads the input but keeps its
    * Expand + aggregate inside JIT-compiled whole-stage codegen, which
    * beats one giant interpreted Expand — the Expand multiplies rows by
    * its set count either way, so the extra scans are the cheap part. */
  private def profileWithGid(df: DataFrame, exprs: Seq[String], maxArity: Int,
      maxExprs: Int = 16, maxSets: Int = Int.MaxValue)
      : DataFrame = {
    require(exprs.nonEmpty, "BlockingAdvisor.profile: no candidate exprs")
    require(exprs.distinct == exprs,
      s"BlockingAdvisor.profile: duplicate candidate exprs in $exprs")
    val m = exprs.length
    require(m <= maxExprs,
      s"BlockingAdvisor.profile: $m candidate exprs expand to " +
        s"too many grouping sets; probe at most $maxExprs per call")
    val sets: Seq[Seq[Int]] = candidateSets(m, maxArity)
    require(sets.size <= maxSets,
      s"BlockingAdvisor: ${sets.size} candidate " +
        s"sets exceed the $maxSets-set cap; lower maxArity or split the " +
        "expression list")
    val keyed = df.select(exprs.zipWithIndex.map { case (e, i) =>
      expr(e).as(s"__k$i") }: _*)
    chunkSets(sets).map(profilePass(keyed, exprs, _))
      .reduce(_.unionByName(_))
  }

  /** One GROUPING SETS pass over the columns `passSets` references.
    * Output rows carry the GLOBAL gid (bit positions over the full expr
    * list), so unioned passes share one collision-proof key space. */
  private def profilePass(keyed: DataFrame, exprs: Seq[String],
      passSets: Seq[Seq[Int]]): DataFrame = {
    val m = exprs.length
    val passCols: Seq[Int] = passSets.flatten.distinct.sorted
    val pm = passCols.length
    val localIdx: Map[Int, Int] = passCols.zipWithIndex.toMap
    val keyCols: Seq[Column] = passCols.map(i => col(s"__k$i"))
    // pass-local grouping id: bit (pm-1-j) set = pass column j inactive
    def localGid(s: Seq[Int]): Long =
      passCols.filterNot(s.contains).map(j => 1L << (pm - 1 - localIdx(j))).sum
    val grouped = keyed
      .groupingSets(passSets.map(_.map(i => keyCols(localIdx(i)))), keyCols: _*)
      .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
    // a block is usable iff every ACTIVE key of its grouping set is
    // non-null (null keys never match under equi-blocking); inactive
    // columns are null by construction and must not disqualify the row
    val usable = passCols.map { i =>
      (shiftright(col("gid"), pm - 1 - localIdx(i))
        .bitwiseAND(lit(1L)) === lit(1L)) ||
        col(s"__k$i").isNotNull
    }.reduce(_ && _)
    val perRule = grouped
      .withColumn("__usable", usable)
      .groupBy(col("gid"))
      .agg(
        // integer div, not `/` (double): exact at any block size
        coalesce(sum(when(col("__usable"),
            expr("n * (n - 1L) div 2")).otherwise(lit(0L))), lit(0L))
          .as("n_comparisons"),
        coalesce(max(when(col("__usable"), col("n"))), lit(0L))
          .as("largest_block"),
        count(when(col("__usable"), lit(1))).as("n_blocks"),
        coalesce(sum(when(col("__usable"), col("n")).otherwise(lit(0L))),
          lit(0L)).as("__covered"),
        sum(col("n")).as("__total"))
    val completeness = round(col("__covered").cast("double") /
      greatest(col("__total"), lit(1L)).cast("double"), 9)
    // local gid -> (label, n_columns, global gid): a chained literal CASE
    // over the pass's sets — bounded by the byte budget, so it always
    // stays inside the same codegen stage (no join, no janino risk)
    val label = passSets.tail.foldLeft(
      when(col("gid") === localGid(passSets.head),
        lit(ruleLabel(exprs, passSets.head)))) {
      case (acc, s) =>
        acc.when(col("gid") === localGid(s), lit(ruleLabel(exprs, s)))
    }
    val nCols = passSets.tail.foldLeft(
      when(col("gid") === localGid(passSets.head),
        lit(passSets.head.length))) {
      case (acc, s) => acc.when(col("gid") === localGid(s), lit(s.length))
    }
    val globalGid = passSets.tail.foldLeft(
      when(col("gid") === localGid(passSets.head),
        lit(gidOf(m, passSets.head)))) {
      case (acc, s) => acc.when(col("gid") === localGid(s), lit(gidOf(m, s)))
    }
    perRule.select(
      label.as("rule"),
      nCols.as("n_columns"),
      col("n_comparisons"),
      col("n_blocks"),
      col("largest_block"),
      completeness.as("completeness"),
      globalGid.as("gid"))
  }

  private def ruleLabel(exprs: Seq[String], set: Seq[Int]): String =
    s"block_on(${set.map(exprs).mkString(", ")})"

  /** Recommend up to `maxRules` candidate rules whose individual
    * comparison count fits `budget`, preferring high completeness (recall
    * kept), then the LOOSEST affordable rule (more comparisons = fewer
    * missed matches), with the rule label as the deterministic tie-break.
    * Rules whose count is zero (a key that never repeats, or all-null)
    * are never recommended — they block nothing.
    *
    * The budget composes with multi-rule semantics: the engine dedupes
    * pairs across rules (NOT-previous, `Blocking.pairsUnderRules`), so the
    * scored total of the returned rules is AT MOST the sum of their
    * individual counts — the recommendation over-estimates, never
    * under-estimates, the real cost. */
  def recommend(df: DataFrame, exprs: Seq[String], budget: Long,
      maxRules: Int = 5, maxArity: Int = 2): Seq[Advice] = {
    val picked = profileWithGid(df, exprs, maxArity)
      .filter(col("n_comparisons") > 0 && col("n_comparisons") <= budget)
      .orderBy(desc("completeness"), desc("n_comparisons"), asc("rule"))
      .limit(maxRules)
      .collect()
    // gid -> expr set: the grouping id is the collision-proof key (labels
    // can collide when one candidate expr is the comma-join of others,
    // e.g. exprs "a", "b", "a, b" both render block_on(a, b))
    val byGid = candidateSets(exprs.length, maxArity)
      .map(s => gidOf(exprs.length, s) -> s.map(exprs)).toMap
    picked.toSeq.map { r =>
      Advice(BlockOnRule(byGid(r.getAs[Long]("gid"))),
        r.getAs[Long]("n_comparisons"), r.getAs[Long]("largest_block"),
        r.getAs[Double]("completeness"))
    }
  }

  /** One recommended rule with the metrics that justified it. */
  case class Advice(rule: BlockOnRule, nComparisons: Long,
      largestBlock: Long, completeness: Double)

  /** Greedy rule-SET selection under an EXACT cumulative budget: take the
    * [[recommend]] ranking, then verify each prefix with the engine's own
    * NOT-previous multi-rule pair count
    * ([[graft.evaluation.Evaluation.cumulativeComparisonsPerRule]], the
    * reference's cumulative chart semantics) — pairs emitted by an earlier
    * rule are not double-charged, so the cumulative total of the chosen
    * set is at most the SUM of the individual counts (and at least their
    * MAX: the total is the union of the rules' pair sets, which is never
    * smaller than any member's own count — which is also why
    * [[recommend]]'s per-rule budget pre-filter is a sound prune, never a
    * lost candidate). One counting job per accepted-or-rejected
    * candidate, each a narrow id-pair count, never a scored pipeline.
    *
    * @return (chosen rules with their individual metrics, exact scored
    *         total of the chosen set under multi-rule dedupe)
    */
  def recommendSet(df: DataFrame, exprs: Seq[String], budget: Long,
      maxRules: Int = 5, maxArity: Int = 2): (Seq[Advice], Long) = {
    require(df.columns.contains("unique_id"),
      "recommendSet counts pairs through the blocking engine, which " +
        "needs a 'unique_id' column on the input (profile/recommend need " +
        "only the key expressions)")
    val ranked = recommend(df, exprs, budget, maxRules = Int.MaxValue,
      maxArity = maxArity)
    val chosen = scala.collection.mutable.ArrayBuffer.empty[Advice]
    var total = 0L
    for (cand <- ranked if chosen.size < maxRules) {
      val trial = (chosen :+ cand).map(_.rule)
      val settings = graft.model.LinkSettings(
        linkType = graft.model.LinkType.DedupeOnly,
        blockingRules = trial.toSeq,
        comparisons = Nil)
      val cum = graft.evaluation.Evaluation
        .cumulativeComparisonsPerRule(df, settings)
        .agg(sum(col("row_count")).cast("long")).head().getLong(0)
      if (cum <= budget) { chosen += cand; total = cum }
    }
    (chosen.toSeq, total)
  }
}
