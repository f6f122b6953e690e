package graft.clustering

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.operators.Decide
import graft.operators.Materialise
import graft.operators.Materialise.Ops
import org.apache.spark.sql.expressions.Window

/**
 * Clustering beyond plain connected components: one-to-one (mutual best
 * link) clustering and multi-threshold clustering (reference:
 * `splink/internals/one_to_one_clustering.py:103-336`,
 * `clustering.py:347-449`), plus graph metrics
 * (`graph_metrics.py:28-113`).
 */
object ClusteringOps {

  /**
   * One-to-one clustering with no dataset constraint: each round links
   * every pair of nodes that are each other's highest-probability
   * neighbour (`one_to_one_clustering.py:229-234`'s rank-1-both-sides
   * rule), ties broken toward the lowest neighbour id, and a matched node
   * takes no further link. This is the one-to-one solver under the
   * [[Singletons]] merge rule. Only matched nodes are returned, each pair
   * labelled by its lower id, with the input's id type.
   */
  def oneToOne(edges: DataFrame, srcCol: String = "unique_id_l",
      dstCol: String = "unique_id_r",
      probCol: String = "match_probability",
      maxRounds: Int = 10)
      : DataFrame = {
    val clusters = solve(edgeFrame(edges, srcCol, dstCol, probCol),
      Singletons, maxRounds)
    // a Singletons cluster is one node or a matched pair labelled by its
    // lower id: the pairs are the rows whose node is not its own label,
    // plus those labels
    val pairs = clusters.filter(col("node_id") =!= col("cluster_id"))
    pairs.unionByName(
      pairs.select(col("cluster_id").as("node_id"), col("cluster_id")))
  }

  /**
   * One-to-one clustering with the duplicate-free-dataset constraint
   * (`one_to_one_clustering.py:103-336`): the one-to-one solver under the
   * [[DatasetDisjoint]] merge rule, so a cluster never holds two records
   * of a dataset listed as duplicate-free. Every node with an edge is
   * labelled; unmerged nodes are their own cluster.
   *
   * Ties are handled per the reference's `ties_method`
   * (`linker_components/clustering.py:186-236`): `"lowest_id"` (default)
   * breaks equal-probability ties toward the lowest node id inside the
   * rank; `"drop"` removes, up front, every link where one record has
   * equal-probability links to MULTIPLE records of one duplicate-free
   * dataset (ties across different datasets are kept, mirroring
   * `one_to_one_clustering.py:14-100`).
   *
   * @param nodeDatasets frame (node_id, source_dataset)
   * @param duplicateFreeDatasets datasets that must stay duplicate-free
   *        inside a cluster; None = every dataset in `nodeDatasets`
   */
  def oneToOneConstrained(edges: DataFrame, nodeDatasets: DataFrame,
      srcCol: String = "unique_id_l", dstCol: String = "unique_id_r",
      probCol: String = "match_probability", maxRounds: Int = 10,
      duplicateFreeDatasets: Option[Seq[String]] = None,
      tiesMethod: String = "lowest_id")
      : DataFrame = {
    require(Seq("lowest_id", "drop").contains(tiesMethod),
      "ties_method must be one of 'drop', or 'lowest_id'")
    val rule = DatasetDisjoint(nodeDatasets, duplicateFreeDatasets)
    val e0 = edgeFrame(edges, srcCol, dstCol, probCol)
    val candidates =
      if (tiesMethod == "lowest_id") e0
      else {
        // dropTies materialises its output, so the edge frame is dead
        val kept = dropTies(e0, rule)
        Materialise.release(e0)
        kept
      }
    solve(candidates, rule, maxRounds)
  }

  /** The loop-owned edge frame (na, nb, p) the solver reads, self-loops
    * dropped. Spilled: it stays alive across several joins and
    * aggregates, and on-heap blocks at 13M+ rows were measured as 462s of
    * task GC (46% of run time) on the forced-distributed sf10 entry. */
  private def edgeFrame(edges: DataFrame, srcCol: String, dstCol: String,
      probCol: String): DataFrame =
    edges.select(col(srcCol).as("na"), col(dstCol).as("nb"),
        col(probCol).cast("double").as("p"))
      .filter(col("na") =!= col("nb"))
      .breakLineage(spill = true)

  /** Which two clusters a mutual-best round may merge. A rule keeps one
    * state per cluster: `states` builds it for single nodes, `merged`
    * aggregates the states of the clusters one merge joins, and `allowed`
    * says whether two states may merge. Both rules are monotone — a state
    * only grows, and two clusters that may not merge never may later —
    * which is what lets the distributed loop drop a disallowed candidate
    * edge for good. The driver solver reads the same states through
    * `state`, `combine` and `allows`. */
  private[clustering] sealed trait MergeRule {
    /** (r, s): one state per node of `nodes` (node_id). */
    def states(nodes: DataFrame): DataFrame
    def merged(s: Column): Column
    def allowed(a: Column, b: Column): Column
    type S
    def state(row: Row): S
    def combine(a: S, b: S): S
    def allows(a: S, b: S): Boolean
  }

  /** Both clusters are single nodes: a matched node takes no further link
    * (the state is the cluster size). */
  private[clustering] case object Singletons extends MergeRule {
    def states(nodes: DataFrame): DataFrame =
      nodes.select(col("node_id").as("r"), lit(1L).as("s"))
    def merged(s: Column): Column = sum(s)
    def allowed(a: Column, b: Column): Column = a === 1L && b === 1L
    type S = Long
    def state(row: Row): Long = row.getLong(1)
    def combine(a: Long, b: Long): Long = a + b
    def allows(a: Long, b: Long): Boolean = a == 1L && b == 1L
  }

  /** The two clusters hold no record of a common duplicate-free dataset
    * (the state is the cluster's set of duplicate-free datasets). A null
    * `source_dataset` constrains nothing. */
  private[clustering] final case class DatasetDisjoint(
      nodeDatasets: DataFrame, duplicateFreeDatasets: Option[Seq[String]])
      extends MergeRule {
    def duplicateFree(dataset: Column): Column = duplicateFreeDatasets match {
      case Some(ds) => dataset.isin(ds: _*)
      case None => lit(true)
    }
    def states(nodes: DataFrame): DataFrame = {
      // the node table is modest next to the edge frames in the
      // 100M+-pairs regime: when it fits, the node side never shuffles
      val constraining = broadcastIfFits("one_to_one.node_datasets",
        nodeDatasets.select(col("node_id"), col("source_dataset"))
          .filter(col("source_dataset").isNotNull &&
            duplicateFree(col("source_dataset"))))
      nodes.alias("n")
        .join(constraining.alias("d"), col("n.node_id") === col("d.node_id"),
          "left")
        .groupBy(col("n.node_id").as("r"))
        .agg(collect_set(col("d.source_dataset")).as("s"))
    }
    def merged(s: Column): Column = array_distinct(flatten(collect_list(s)))
    def allowed(a: Column, b: Column): Column = !arrays_overlap(a, b)
    type S = Set[String]
    def state(row: Row): Set[String] = row.getSeq[String](1).toSet
    def combine(a: Set[String], b: Set[String]): Set[String] = a ++ b
    def allows(a: Set[String], b: Set[String]): Boolean = !a.exists(b)
  }

  /** The one-to-one solver: rounds of mutual-best merges under `rule` over
    * the loop-owned edge frame `e0` (na, nb, p), labelling every node of
    * `e0` (node_id, cluster_id) with the lowest node id of its cluster.
    * Each round, every cluster picks its best neighbour cluster among the
    * merges `rule` allows — the rule filters candidates BEFORE the rank
    * (`one_to_one_clustering.py:203-246`), so a disallowed merge does not
    * use up a cluster's best link — by p desc, then lowest id, with null
    * and NaN p ranking last; mutual picks merge. Long ids within the
    * collect budget solve on the driver. */
  private def solve(e0: DataFrame, rule: MergeRule, maxRounds: Int)
      : DataFrame = {
    val longIds = Seq("na", "nb").forall(c => e0.schema(c).dataType == LongType)
    if (longIds && Decide.collect("one_to_one.edges", e0.count(),
        Decide.GraphEdges) == Decide.Collect.Driver)
      driverSolve(e0, rule, maxRounds)
    else distributedSolve(e0, rule, maxRounds)
  }

  /** [[solve]] on the driver: index arrays with incrementally combined
    * cluster states, so a round costs O(E). */
  private def driverSolve(e0: DataFrame, rule: MergeRule, maxRounds: Int)
      : DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    // null/NaN probability = -Inf, as the distributed rank coalesces them
    val edges = e0.collect().map { r =>
      val p = if (r.isNullAt(2)) Double.NaN else r.getDouble(2)
      (r.getLong(0), r.getLong(1), if (p.isNaN) Double.NegativeInfinity else p)
    }
    // the collect fully consumed the loop-owned edge frame
    Materialise.release(e0)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val byNode = rule.states(nodes.toSeq.toDF("node_id")).collect()
      .map(r => r.getLong(0) -> rule.state(r)).toMap
    val state = nodes.iterator.map(byNode).toBuffer
    val rep = Array.tabulate(n)(identity) // node index -> rep node index
    val eIdx = edges.map { case (a, b, p) => (idx(a), idx(b), p) }
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      round += 1
      // best allowed neighbour cluster per cluster: p desc, then lowest
      // rep node id (the distributed rank's ORDER BY p DESC, rb ASC)
      val best = scala.collection.mutable.LongMap.empty[(Double, Int)]
      def offer(ra: Int, rb: Int, p: Double): Unit = best.get(ra.toLong) match {
        case Some((bp, bi)) =>
          if (p > bp || (p == bp && nodes(rb) < nodes(bi)))
            best(ra.toLong) = (p, rb)
        case None => best(ra.toLong) = (p, rb)
      }
      eIdx.foreach { case (ai, bi, p) =>
        val (ra, rb) = (rep(ai), rep(bi))
        if (ra != rb && rule.allows(state(ra), state(rb))) {
          offer(ra, rb, p); offer(rb, ra, p)
        }
      }
      // mutual pairs; ka = lower-node-id rep absorbs kb
      val merges = best.iterator.collect {
        case (ra, (_, rb)) if nodes(ra.toInt) < nodes(rb) &&
            best.get(rb.toLong).exists(_._2 == ra.toInt) =>
          (ra.toInt, rb)
      }.toArray
      if (merges.isEmpty) done = true
      else {
        val m = scala.collection.mutable.LongMap.empty[Int]
        merges.foreach { case (ka, kb) =>
          m(kb.toLong) = ka
          state(ka) = rule.combine(state(ka), state(kb))
        }
        var i = 0
        while (i < n) {
          val r = m.getOrElse(rep(i).toLong, -1)
          if (r >= 0) rep(i) = r
          i += 1
        }
      }
    }
    ConnectedComponents.driverLabels(spark,
      nodes.indices.map(i => Row(nodes(i), nodes(rep(i)))), LongType)
  }

  /** [[solve]] distributed. The labelling (node_id, rep), the per-cluster
    * states (r, s) and the candidate edges between clusters (ra, rb, p)
    * are built once and rolled forward by each round's merges. */
  private def distributedSolve(e0: DataFrame, rule: MergeRule,
      maxRounds: Int): DataFrame = {
    var membership = e0.select(col("na").as("node_id"))
      .unionByName(e0.select(col("nb").as("node_id")))
      .distinct()
      .withColumn("rep", col("node_id"))
      .breakLineage(eager = true, spill = true)
    var states = rule.states(membership.select(col("node_id")))
      .breakLineage(eager = true)
    // Each round keeps the candidates its rule allows and rewrites their
    // endpoints through the merges. Dropping a disallowed edge is
    // permanent and sound because the rules are monotone, and an
    // intra-cluster edge stays one — so re-deriving candidates from the
    // node-level edges every round (the from-scratch formulation) yields
    // exactly this surviving multiset.
    var ce = e0.select(col("na").as("ra"), col("nb").as("rb"), col("p"))
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      round += 1
      val lastRound = round == maxRounds
      val allowed = ce.alias("e")
        .join(states.alias("sa"), col("e.ra") === col("sa.r"))
        .join(states.alias("sb"), col("e.rb") === col("sb.r"))
        .filter(rule.allowed(col("sa.s"), col("sb.s")))
        .select(col("e.ra"), col("e.rb"), col("e.p"))
      // eager while the loop continues (the endpoint rewrite re-reads it);
      // on the last round its one consumer is the merge count
      val valid =
        if (lastRound) allowed
        else allowed.breakLineage(eager = true, spill = true)
      // symmetric via one explode: a union would evaluate the input twice
      val sym = valid.select(explode(array(
          struct(col("ra"), col("rb"), col("p")),
          struct(col("rb").as("ra"), col("ra").as("rb"), col("p")))).as("e"))
        .select(col("e.ra"), col("e.rb"), col("e.p"))
      // best neighbour per cluster as a HASH AGGREGATE, not a sort window:
      // min_by over struct(-p, rb) reproduces ORDER BY p DESC, rb ASC
      // rank-1 exactly (lexicographic min = largest p, then smallest id;
      // null AND NaN p coalesced to -Inf — missing probability ranks
      // last, and nanvl keeps this aggregate consistent with the driver
      // solver, where a raw desc() would rank NaN greatest). The partial
      // aggregate combines map-side, so the exchange carries one row per
      // cluster instead of the whole symmetric edge frame.
      val rankP = -coalesce(nanvl(col("p"), lit(Double.NegativeInfinity)),
        lit(Double.NegativeInfinity))
      val best = sym.groupBy(col("ra"))
        .agg(min_by(col("rb"), struct(rankP, col("rb"))).as("rb"))
      // mutuality as ONE aggregate on the unordered pair key, not a
      // self-join: best is one row per cluster, so a {u, v} group holds at
      // most the two directed rows and count = 2 is exactly "both rank-1".
      // The lower id absorbs the other.
      val merges = best
        .groupBy(least(col("ra"), col("rb")).as("ka"),
          greatest(col("ra"), col("rb")).as("kb"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") === 2)
        .select(col("ka"), col("kb"))
        .breakLineage()
      // a wide count() probe, not isEmpty: executeTake(1) materialises a
      // just-checkpointed frame in incremental 1/4/16-partition waves —
      // serial exactly on the closing round where the frame IS empty (see
      // ConnectedComponents' jump loop). The exact count doubles as the
      // merge frame's broadcast decision for the rewrite joins below.
      val mergeCount = merges.count()
      lazy val step = {
        val g = merges.select(col("ka").as("__ka"), col("kb").as("__kb"))
        if (Decide.broadcast(e0.sparkSession, "one_to_one.merges", mergeCount,
            Decide.MergeRows) == Decide.Broadcast.Broadcasted) broadcast(g)
        else g
      }
      // mutual-best merges never chain inside a round (each cluster has
      // one rank-1 neighbour), so one kb -> ka rewrite is the full update
      def relabel(df: DataFrame, c: String): DataFrame =
        df.join(step, col(c) === col("__kb"), "left")
          .withColumn(c, coalesce(col("__ka"), col(c)))
          .drop("__ka", "__kb")
      if (mergeCount == 0) {
        done = true
        Materialise.release(valid)
        Materialise.release(merges)
      } else if (lastRound) {
        // the merges land in the output labelling alone: a streaming plan
        // over the labelling and merge blocks, which stay alive for the
        // caller's read
        membership = relabel(membership, "rep")
      } else {
        val dead = Seq(membership, states, ce, valid, merges)
        membership = relabel(membership, "rep")
          .breakLineage(eager = true, spill = true)
        states = relabel(states, "r").groupBy(col("r"))
          .agg(rule.merged(col("s")).as("s"))
          .breakLineage(eager = true)
        ce = relabel(relabel(valid, "ra"), "rb")
          .filter(col("ra") =!= col("rb"))
          .breakLineage(eager = true, spill = true)
        // every successor is materialised; round 1's ce is a view of e0,
        // so this also drops the edge frame
        dead.foreach(Materialise.release)
      }
    }
    // the output reads the labelling (and a last round's merges) only
    Materialise.release(ce)
    Materialise.release(states)
    membership.select(col("node_id"), col("rep").as("cluster_id"))
  }

  /** Broadcast wrap for a node-dataset table, by the record-side stats
    * decision. */
  private def broadcastIfFits(what: String, df: DataFrame): DataFrame =
    if (Decide.broadcastByStats(what, df)) broadcast(df) else df

  /** `ties_method = "drop"` (`one_to_one_clustering.py:14-100`): on the
    * symmetric neighbours frame, a link is TIED when its source node has
    * equal-probability links to more than one distinct record of a single
    * duplicate-free dataset; every such link is dropped. Both directions of
    * an undirected link drop together: the reference's tie_l/tie_r pair of
    * aggregates collapses, by the symmetry of the neighbours frame, to
    * "row (a,b) survives iff neither (a,b) nor (b,a) is tie_l-marked".
    * An edge with a dataset-less endpoint, or a null probability, is
    * dropped too. Returns a materialised edge frame. */
  private def dropTies(e0: DataFrame, rule: DatasetDisjoint): DataFrame = {
    // null datasets constrain nothing; filtering here makes an edge whose
    // endpoint has only a null dataset drop out of the inner joins below
    // exactly like a dataset-less endpoint
    val nd = broadcastIfFits("drop_ties.node_datasets",
      rule.nodeDatasets.select(col("node_id"), col("source_dataset"))
        .filter(col("source_dataset").isNotNull))
    // Dataset labels attach to the ORIENTED edges, BEFORE the symmetric
    // explode: joining the exploded frame instead would run both
    // node-table joins over twice the rows for the same information (the
    // two directions carry mirrored labels). One row per edge per
    // (sd_a, sd_b) combination — nodes may carry several datasets.
    // Materialised: the tie aggregate, both anti-joins, and the final
    // semi-join all read it, and Spark does not CSE across branches.
    val withBoth = e0.alias("s")
      .join(nd.alias("dl"), col("s.na") === col("dl.node_id"))
      .join(nd.alias("dr"), col("s.nb") === col("dr.node_id"))
      .select(col("s.na"), col("s.nb"), col("s.p"),
        col("dl.source_dataset").as("sd_a"), col("dr.source_dataset").as("sd_b"))
      .breakLineage(spill = true)
    // the symmetric view exists only for the tie AGGREGATE — a projection
    // explode over the checkpoint, no joins downstream of it
    val sym = withBoth.select(explode(array(
        struct(col("na"), col("nb"), col("sd_a").as("sd_l"),
          col("sd_b").as("sd_r"), col("p")),
        struct(col("nb").as("na"), col("na").as("nb"),
          col("sd_b").as("sd_l"), col("sd_a").as("sd_r"), col("p")))).as("e"))
      .select(col("e.na"), col("e.nb"), col("e.sd_l"), col("e.sd_r"), col("e.p"))
    // tiny (one row per tie group) next to its groupBy input. ">= 2
    // distinct nb" computed as min(nb) != max(nb): same nulls-ignored
    // semantics as count_distinct, without the Expand plan distinct
    // aggregation costs
    val tied = sym.groupBy("na", "sd_l", "sd_r", "p")
      .agg(min(col("nb")).as("mn"), max(col("nb")).as("mx"))
      .filter(col("mn") =!= col("mx") && rule.duplicateFree(col("sd_r")))
      .select(col("na"), col("sd_l"), col("sd_r"), col("p"))
      .breakLineage()
    // a (sd_a, sd_b) combination survives when NEITHER direction of the
    // link is tie-marked; both anti-joins run on the oriented frame (half
    // the rows of the symmetric one — direction symmetry is encoded by
    // probing `tied` with the labels swapped)
    val kept = withBoth.alias("w")
      .join(tied.alias("tl"),
        col("w.na") === col("tl.na") && col("w.sd_a") === col("tl.sd_l") &&
          col("w.sd_b") === col("tl.sd_r") && col("w.p") === col("tl.p"),
        "left_anti")
      .alias("w")
      .join(tied.alias("tr"),
        col("w.nb") === col("tr.na") && col("w.sd_b") === col("tr.sd_l") &&
          col("w.sd_a") === col("tr.sd_r") && col("w.p") === col("tr.p"),
        "left_anti")
    // an edge survives when ANY of its combinations survives. When every
    // node carries exactly ONE dataset — the reference's shape: a record
    // has a single source_dataset column — each edge has exactly one
    // combination row, so `kept` IS the surviving edge multiset and the
    // multiset-restoring semi-join below is an identity. The probe is one
    // aggregate over the node table; at sf10 it replaces a 13.5M-row
    // edge-frame scan + join (the largest single stage of dropTies).
    val singlePerNode = nd.groupBy(col("node_id"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1)
      .limit(1).collect().isEmpty
    val out =
      if (singlePerNode)
        // p IS NOT NULL mirrors the semi-join branch exactly: its join
        // equates on p, so a null-probability edge never matches a kept
        // row
        kept.select(col("na"), col("nb"), col("p"))
          .filter(col("p").isNotNull)
      else {
        // duplicate edges in, duplicate edges out: the semi-join restores
        // e0's exact row multiset. Under the edge-count budget the
        // kept-combo frame (bounded by edges x dataset-combinations)
        // broadcasts, so the edge frame streams through without an
        // exchange.
        val keptBuild =
          if (Decide.broadcast(e0.sparkSession, "one_to_one.pairs",
              e0.count(), Decide.PairRows) == Decide.Broadcast.Broadcasted)
            broadcast(kept.alias("k"))
          else kept.alias("k")
        e0.alias("e").join(keptBuild,
          col("e.na") === col("k.na") && col("e.nb") === col("k.nb") &&
            col("e.p") === col("k.p"), "left_semi")
      }
    val dropped = out.breakLineage(eager = true, spill = true)
    Materialise.release(withBoth)
    Materialise.release(tied)
    dropped
  }

  /**
   * Multi-threshold clustering (`clustering.py:347-449`): cluster at each
   * ascending threshold; output one (threshold, node_id, cluster_id) row
   * set per threshold.
   *
   * Stable-cluster reuse (`clustering.py:158-240` and the strategy comment
   * at `:434-440`): only the LOWEST threshold pays a full connected-
   * components solve. At each higher threshold a cluster is *stable* when
   * every edge incident to it at the previous threshold also clears the
   * new one (singleton-safe via `coalesce(min, 1.0)`); stable clusters
   * carry their rows forward verbatim, and CC re-runs only on the
   * surviving edges of unstable clusters. Because edges never cross
   * cluster boundaries, a semi-join on the left endpoint selects exactly
   * the unstable sub-graph. Labels are canonical (min node id per
   * component), so the incremental result is bit-identical to a full
   * re-solve at every threshold.
   */
  def atMultipleThresholds(edges: DataFrame, thresholds: Seq[Double],
      srcCol: String = "unique_id_l", dstCol: String = "unique_id_r",
      probCol: String = "match_probability"): DataFrame = {
    require(thresholds.nonEmpty, "at least one threshold is required")
    // materialise the scored edge list ONCE: each threshold's solve
    // re-reads it, and without the checkpoint every pass would re-run the
    // upstream scoring pipeline (the reference materialises the predict
    // frame before clustering for the same reason)
    val e0 = edges.select(col(srcCol), col(dstCol), col(probCol))
      .breakLineage()
    val sorted = thresholds.sorted
    // predict-shaped inputs (the operator's contract, `clustering.py:
    // 347-449`) emit each pair once with id_l < id_r, and every per-
    // threshold filter / unstable-subgraph semi-join preserves that — all
    // the component solves may skip the symmetric dedupe aggregate
    // Each threshold's labelling is COPIED into one flat eager checkpoint
    // and the solve's own materialisations (the composed labelling, or the
    // per-jump slice checkpoints the empty-contraction path returns a
    // union of) are released immediately — without this every threshold's
    // dead solve scaffolding stays on-heap to the query's end and the
    // collector re-walks it for the whole run (guide §5; the r15 sf100
    // probe measured 48% of this query's CPU in GC). The multi-read
    // frames (e0, the per-threshold outputs) stay resident — only the
    // single-read solve internals die.
    val solved0 = ConnectedComponents
      .run(e0.filter(col(probCol) >= sorted.head), srcCol, dstCol,
        assumeDistinctPairs = true)
    var cc = solved0.breakLineage(eager = true)
    Materialise.release(solved0)
    val perThreshold = scala.collection.mutable.ArrayBuffer(sorted.head -> cc)
    sorted.sliding(2).foreach {
      case Seq(tPrev, t) =>
        // per-cluster min edge probability: one INNER join on the left
        // endpoint suffices — an edge's endpoints share a cluster at
        // tPrev, so src alone attributes every edge exactly once; a
        // cluster with no surviving edges is absent, i.e. stable (the
        // reference's coalesce(min, 1.0))
        val relevant = e0.filter(col(probCol) >= tPrev)
        val minp = cc
          .join(relevant, cc("node_id") === relevant(srcCol))
          .groupBy(col("cluster_id"))
          .agg(min(col(probCol)).as("__minp"))
          .persist()
        // MOSTLY-UNSTABLE GUARD: the incremental result is bit-identical
        // to a fresh solve at t (canonical min-node labels), so when the
        // majority of edge-bearing clusters are unstable the stable-reuse
        // machinery (two node-frame anti/semi joins + an edge semi-join —
        // exchanges over the FULL clustering) costs more than it saves;
        // solve the filtered edges directly instead. Both counts run on
        // the cached per-cluster aggregate, which the unstable-ids filter
        // reads anyway in the incremental branch. Stable-reuse keeps its
        // win in the intended regime (high thresholds over trained
        // predictions, where most clusters survive intact).
        val nWithEdges = minp.count()
        val nUnstable = minp.filter(col("__minp") < t).count()
        // EAGER checkpoint: the incremental branch reads the cached minp
        // aggregate from BOTH union branches (stable anti-join + unstable
        // semi-join — Spark does not CSE across branches), so it must
        // materialise while minp is still persisted or the per-cluster
        // aggregate re-evaluates twice at consumption time
        cc =
          if (2 * nUnstable >= nWithEdges) {
            val solved = ConnectedComponents.run(e0.filter(col(probCol) >= t),
              srcCol, dstCol, assumeDistinctPairs = true)
            val copied = solved.breakLineage(eager = true)
            // the fresh solve's internal checkpoints are dead once copied
            Materialise.release(solved)
            copied
          } else {
            val unstableIds = minp.filter(col("__minp") < t)
              .select("cluster_id")
            val stable = cc.join(unstableIds, Seq("cluster_id"), "left_anti")
            val unstableNodes = cc
              .join(unstableIds, Seq("cluster_id"), "left_semi")
              .select(col("node_id"))
            val unstableEdges = e0.filter(col(probCol) >= t)
              .join(unstableNodes, e0(srcCol) === unstableNodes("node_id"),
                "left_semi")
            val sub = ConnectedComponents.run(unstableEdges, srcCol,
              dstCol, assumeDistinctPairs = true)
            val copied = stable.select(col("node_id"), col("cluster_id"))
              .unionByName(sub)
              .breakLineage(eager = true)
            // release ONLY the sub-solve's leaves: the union's other
            // branch embeds the previous threshold's labelling, which is
            // itself part of the returned output and must stay live
            Materialise.release(sub)
            copied
          }
        minp.unpersist(blocking = false)
        perThreshold += (t -> cc)
      case _ => () // single threshold: nothing incremental to do
    }
    perThreshold.map { case (t, c) => c.withColumn("threshold", lit(t)) }
      .reduce(_.unionByName(_))
  }

  /** Incrementally fold NEW edges into an EXISTING clustering without
    * re-solving the full graph — the append-pipeline companion to
    * find-matches-to-new-records (beyond the reference, which always
    * re-clusters from scratch). Each new edge's endpoints collapse to
    * their current cluster representative (nodes unseen before represent
    * themselves), connected components runs on the rep graph — bounded by
    * the NEW edge count, not the corpus — and members remap through their
    * rep's new label. Labels stay canonical (min node id), so the result
    * is bit-identical to a full re-solve over (old spanning edges + new
    * edges); connectivity through the old clustering is exactly
    * connectivity through the original edges.
    *
    * @param existing (node_id, cluster_id) from a previous clustering
    * @param newEdges new edge list; endpoints may be known or new nodes
    * @return (node_id, cluster_id) covering existing nodes plus every new
    *         edge endpoint
    */
  def incrementalCluster(existing: DataFrame, newEdges: DataFrame,
      srcCol: String = "unique_id_l", dstCol: String = "unique_id_r")
      : DataFrame = {
    val reps = existing.select(col("node_id"), col("cluster_id"))
    def repOf(side: String, out: String) = reps
      .withColumnRenamed("node_id", side)
      .withColumnRenamed("cluster_id", out)
    // collapse endpoints to their representative; unknown nodes stand for
    // themselves
    val repEdges = newEdges
      .select(col(srcCol).as("__a"), col(dstCol).as("__b"))
      .join(repOf("__a", "__ra"), Seq("__a"), "left")
      .join(repOf("__b", "__rb"), Seq("__b"), "left")
      .select(coalesce(col("__ra"), col("__a")).as("rep_l"),
        coalesce(col("__rb"), col("__b")).as("rep_r"))
      .filter(col("rep_l") =!= col("rep_r"))
    val repCc = ConnectedComponents.run(repEdges, "rep_l", "rep_r")
      .withColumnRenamed("node_id", "__rep")
      .withColumnRenamed("cluster_id", "__new_label")
    // every node this call must label: existing members + new endpoints
    val newNodes = newEdges
      .select(explode(array(col(srcCol), col(dstCol))).as("node_id"))
      .distinct()
      .join(reps, Seq("node_id"), "left_anti")
      .select(col("node_id"), col("node_id").as("cluster_id"))
    reps.unionByName(newNodes)
      .join(repCc, col("cluster_id") === col("__rep"), "left")
      .select(col("node_id"),
        coalesce(col("__new_label"), col("cluster_id")).as("cluster_id"))
  }

  /** Per-threshold cluster summary statistics instead of full membership —
    * the reference's `output_cluster_summary_stats=True`
    * (`clustering.py:291-345,520-540`): cluster count, max and mean size,
    * plus the threshold restated as a match weight (`NULL` at p of 0/1,
    * `_threshold_to_weight_for_table`). */
  def atMultipleThresholdsSummary(edges: DataFrame, thresholds: Seq[Double],
      srcCol: String = "unique_id_l", dstCol: String = "unique_id_r",
      probCol: String = "match_probability"): DataFrame =
    atMultipleThresholds(edges, thresholds, srcCol, dstCol, probCol)
      .groupBy(col("threshold"), col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("num_clusters"),
        max(col("cluster_size")).as("max_cluster_size"),
        avg(col("cluster_size")).as("avg_cluster_size"))
      .select(col("threshold").as("threshold_match_probability"),
        when(col("threshold") > 0 && col("threshold") < 1,
          log2(col("threshold") / (lit(1.0) - col("threshold"))))
          .as("threshold_match_weight"),
        col("num_clusters"), col("max_cluster_size"),
        col("avg_cluster_size"))

  /**
   * Node-level graph metrics (`graph_metrics.py:28-113`): degree, cluster
   * size, size-adjusted centrality degree/(size-1).
   */
  def nodeMetrics(clusters: DataFrame, edges: DataFrame,
      srcCol: String = "unique_id_l", dstCol: String = "unique_id_r",
      withArticulation: Boolean = false): DataFrame = {
    // withArticulation fans the inputs out into the degree aggregate AND
    // the articulation pass (cluster sizes + per-cluster Tarjan, plus the
    // distributed forest for oversize clusters) — materialise both once so
    // an expensive upstream pipeline (often a full predict) is not
    // re-evaluated per consumer
    val (cl, ed) =
      if (withArticulation) (clusters.breakLineage(), edges.breakLineage())
      else (clusters, edges)
    // one explode, not a union of two selects: a union evaluates the edge
    // plan (often a full predict pipeline) twice
    val deg = ed
      .select(explode(array(col(srcCol), col(dstCol))).as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("degree"))
    val w = Window.partitionBy("cluster_id")
    val base = cl.join(deg, Seq("node_id"), "left")
      .withColumn("degree", coalesce(col("degree"), lit(0L)))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("centrality",
        when(col("cluster_size") > 1,
          col("degree").cast("double") / (col("cluster_size") - 1))
          .otherwise(lit(0.0)))
    if (!withArticulation) base
    else {
      // igraph-parity column (`graph_metrics.py:116-170` users call
      // igraph.articulation_points next to these metrics); size-adaptive,
      // no ceiling — oversize clusters go through the distributed pass
      val cuts = articulationPoints(cl, ed, srcCol, dstCol,
          distributeOversize = true)
        .select(col("cluster_id").cast("string").as("__ap_cid"),
          col("node_id"), col("is_articulation"))
      base.join(cuts,
          base("node_id") === cuts("node_id") &&
            base("cluster_id").cast("string") === col("__ap_cid"), "left")
        .select(base.columns.map(base(_)).toIndexedSeq :+
          coalesce(col("is_articulation"), lit(false)).as("is_cut_vertex"): _*)
    }
  }

  /**
   * Bridge edges (`edge_metrics.py:28-60`): an edge is a bridge when its
   * removal disconnects the cluster. The reference shells out to igraph on
   * the driver (optional dependency, no size guard); here this is the edge
   * grain of [[graphMetrics]], projected from its `stacked` frame so a
   * solo call streams the one task-side Tarjan pass. Clusters up to
   * `maxClusterSize` are solved as ONE TASK-SIDE unit each (parallel
   * across clusters, never a driver collect).
   *
   * A cluster above the cap is never silently dropped: by default the
   * call FAILS with the offending cluster ids/sizes; with
   * `skipOversize = true` its edges are kept with `is_bridge = NULL`
   * (explicitly unknown); with `distributeOversize = true` (wins over
   * `skipOversize`) oversized clusters are solved exactly by the fully
   * distributed [[DistributedBridges.graphEdgeNodeMetrics]] pass, so there
   * is no size ceiling at all.
   *
   * @return one row per input edge: (cluster_id, srcCol, dstCol, is_bridge)
   */
  def edgeBridges(clusters: DataFrame, edges: DataFrame,
      srcCol: String = "unique_id_l", dstCol: String = "unique_id_r",
      maxClusterSize: Int = 10000, skipOversize: Boolean = false,
      distributeOversize: Boolean = false): DataFrame =
    edgeGrain(stackedMetrics(clusters, edges, srcCol, dstCol,
      maxClusterSize, skipOversize, distributeOversize, "edgeBridges",
      " (per-task memory permitting), or pass skipOversize=true to keep " +
        "their edges with is_bridge=NULL."), srcCol, dstCol)

  /**
   * Articulation (cut) vertices per cluster — the vertex analogue of
   * [[edgeBridges]], matching what igraph's `articulation_points` gives
   * reference users next to bridges (`edge_metrics.py:28-60`,
   * `graph_metrics.py:116-170`). The node grain of [[graphMetrics]], with
   * the same size gate and oversize contract as [[edgeBridges]]
   * (`skipOversize` keeps nodes with NULL).
   *
   * @return one row per clustered node: (cluster_id, node_id, is_articulation)
   */
  def articulationPoints(clusters: DataFrame, edges: DataFrame,
      srcCol: String = "unique_id_l", dstCol: String = "unique_id_r",
      maxClusterSize: Int = 10000, skipOversize: Boolean = false,
      distributeOversize: Boolean = false): DataFrame =
    nodeGrain(stackedMetrics(clusters, edges, srcCol, dstCol,
      maxClusterSize, skipOversize, distributeOversize, "articulationPoints",
      ", or pass skipOversize=true to keep their nodes with " +
        "is_articulation=NULL."))

  /** Bridges and articulation points of an undirected edge list from ONE
    * iterative Tarjan DFS (task-side, one cluster at a time): both tests
    * read the same low-link values. Bridges come back as DFS tree pairs
    * (parent, child), so callers look them up in both orientations.
    * Works on the raw multigraph: a parallel copy of a tree edge is a
    * back edge that sets low(child) = disc(parent), which correctly kills
    * the bridge and leaves the cut test's low >= disc unchanged (removing
    * the parent still strands the subtree — both copies pass through it);
    * self-loops only ever relax low(v) with disc(v), a no-op for both.
    */
  def findBridgesAndCuts(edges: Seq[(Long, Long)])
      : (Set[(Long, Long)], Set[Long]) = {
    val adj = scala.collection.mutable.Map.empty[Long, List[(Long, Int)]]
    edges.zipWithIndex.foreach { case ((a, b), i) =>
      adj(a) = (b, i) :: adj.getOrElse(a, Nil)
      adj(b) = (a, i) :: adj.getOrElse(b, Nil)
    }
    val disc = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val rootChildren = scala.collection.mutable.Map.empty[Long, Int]
    val bridges = scala.collection.mutable.Set.empty[(Long, Long)]
    val cuts = scala.collection.mutable.Set.empty[Long]
    var timer = 0
    adj.keys.foreach { root =>
      if (!disc.contains(root)) {
        val stack = scala.collection.mutable.Stack[(Long, Int, List[(Long, Int)])]()
        disc(root) = timer; low(root) = timer; timer += 1
        stack.push((root, -1, adj(root)))
        while (stack.nonEmpty) {
          val (v, pe, rest) = stack.pop()
          rest match {
            case (w, ei) :: tail =>
              stack.push((v, pe, tail))
              if (!disc.contains(w)) {
                disc(w) = timer; low(w) = timer; timer += 1
                stack.push((w, ei, adj(w)))
              } else if (ei != pe) {
                low(v) = math.min(low(v), disc(w))
              }
            case Nil =>
              if (stack.nonEmpty) {
                val (p, ppe, _) = stack.top
                low(p) = math.min(low(p), low(v))
                if (low(v) > disc(p)) bridges += ((p, v))
                if (ppe == -1)
                  rootChildren(p) = rootChildren.getOrElse(p, 0) + 1
                else if (low(v) >= disc(p)) cuts += p
              }
          }
        }
        if (rootChildren.getOrElse(root, 0) >= 2) cuts += root
      }
    }
    (bridges.toSet, cuts.toSet)
  }

  /** Result of the fused graph-metrics pass: edge-grain bridge verdicts
    * and node-grain articulation verdicts from shared work, plus the
    * `stacked` union of both grains — (cluster_id, grain 'edge'|'node',
    * id_a, id_b NULL for nodes, verdict). A consumer that wants BOTH
    * verdicts should read `stacked`: the task-side rows stream out of
    * ONE un-checkpointed Tarjan pass, whereas reading `bridges` and
    * `articulation` separately forces the shared pass through a spilled
    * checkpoint so the two filtered consumers don't recompute it. */
  final case class GraphMetrics(bridges: DataFrame, articulation: DataFrame,
      stacked: DataFrame)

  /**
   * BOTH graph-metric families in one pass — the reference reports them
   * together (`edge_metrics.py:28-60` + `graph_metrics.py:116-170` feed
   * one `compute_graph_metrics` result). [[edgeBridges]] and
   * [[articulationPoints]] are single-grain projections of this pass.
   *
   * Shared: the cluster-tagged edge frame, the size aggregate, ONE
   * per-cluster edge-list aggregate feeding ONE task-side Tarjan DFS per
   * cluster ([[findBridgesAndCuts]]), and — for oversized clusters — ONE
   * exact [[DistributedBridges.graphEdgeNodeMetrics]] scaffold (one
   * forest, one fold set). Oversize contract: fail loudly by default,
   * NULL verdicts with `skipOversize`, exact distributed solve with
   * `distributeOversize`.
   */
  def graphMetrics(clusters: DataFrame, edges: DataFrame,
      srcCol: String = "unique_id_l", dstCol: String = "unique_id_r",
      maxClusterSize: Int = 10000, skipOversize: Boolean = false,
      distributeOversize: Boolean = false): GraphMetrics = {
    val stacked = stackedMetrics(clusters, edges, srcCol, dstCol,
      maxClusterSize, skipOversize, distributeOversize, "graphMetrics",
      ", or pass skipOversize=true to keep their edges/nodes with NULL " +
        "verdicts.")
    // the single-grain views go through a spilled checkpoint so callers
    // touching BOTH frames don't recompute the shared pass
    val ck = stacked.breakLineage(spill = true)
    GraphMetrics(edgeGrain(ck, srcCol, dstCol), nodeGrain(ck), stacked)
  }

  private def edgeGrain(stacked: DataFrame, srcCol: String,
      dstCol: String): DataFrame =
    stacked.filter(col("grain") === "edge").select(col("cluster_id"),
      col("id_a").as(srcCol), col("id_b").as(dstCol),
      col("verdict").as("is_bridge"))

  private def nodeGrain(stacked: DataFrame): DataFrame =
    stacked.filter(col("grain") === "node").select(col("cluster_id"),
      col("id_a").as("node_id"), col("verdict").as("is_articulation"))

  /** The `stacked` frame of [[graphMetrics]]; `caller` and `remedy` (the
    * oversize error's tail after "raise maxClusterSize") let each public
    * entry point keep its own error text. */
  private def stackedMetrics(clusters: DataFrame, edges: DataFrame,
      srcCol: String, dstCol: String, maxClusterSize: Int,
      skipOversize: Boolean, distributeOversize: Boolean, caller: String,
      remedy: String): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // lazy: its consumers are one aggregate and one semi-join per branch —
    // recomputing the tag join is cheaper than holding an edge-frame block
    // set through the whole plan
    val withCluster = edges.alias("e")
      .join(clusters.alias("c"), col(s"e.$srcCol") === col("c.node_id"))
      .select(col("c.cluster_id").as("cluster_id"),
        col(s"e.$srcCol").cast("long").as("a"),
        col(s"e.$dstCol").cast("long").as("b"))
    // checkpointed: the guard probe, the small-cluster semi-join and the
    // oversize branch all read this |clusters|-sized aggregate
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("n"))
      .breakLineage()
    val oversizedIds = sizes.filter(col("n") > maxClusterSize)
    if (!skipOversize && !distributeOversize) {
      // limit-pruned: the guard costs one scan of the (small)
      // cluster-assignment frame, not of the edges
      val oversized = oversizedIds.orderBy(desc("n")).limit(5).collect()
      if (oversized.nonEmpty) {
        val desc = oversized.map(r => s"${r.get(0)} (${r.get(1)} nodes)")
          .mkString(", ")
        throw new IllegalArgumentException(
          s"$caller: cluster(s) exceed maxClusterSize=$maxClusterSize: " +
            s"$desc. Pass distributeOversize=true to solve them exactly " +
            "with the distributed algorithm (no size ceiling), raise " +
            "maxClusterSize" + remedy)
      }
    }
    // ONE flatMap, ONE DFS per cluster, emitting both grains. Deliberately
    // LAZY and un-checkpointed (as is its single input, the per-cluster
    // edge-list aggregate): the stacked consumer evaluates it exactly
    // once, streaming rows straight into its action (a checkpoint here was
    // measured a net LOSS at sf10 — writing + twice reading 120M verdict
    // rows costs more than the DFS it saves on small clusters).
    val combinedRaw = withCluster
      .join(sizes.filter(col("n") <= maxClusterSize), Seq("cluster_id"),
        "left_semi")
      .groupBy("cluster_id")
      .agg(collect_list(struct(col("a"), col("b"))).as("es"))
      .flatMap { row =>
        val cid = row.get(0).toString
        val es = row.getSeq[org.apache.spark.sql.Row](1)
          .map(r => (r.getLong(0), r.getLong(1)))
        val (bridges, cuts) = findBridgesAndCuts(es)
        val edgeRows = es.map { case (a, b) =>
          (cid, "edge", a, Option(b),
            Option(bridges.contains((a, b)) || bridges.contains((b, a))))
        }
        val nodeRows = es.flatMap(e => Seq(e._1, e._2)).distinct.map(n =>
          (cid, "node", n, None: Option[Long], Option(cuts.contains(n))))
        edgeRows ++ nodeRows
      }.toDF("cluster_id", "grain", "id_a", "id_b", "verdict")
    // oversize rows in the stacked schema, from (cluster_id, a, b) edge
    // and (cluster_id, node) node frames
    def stackEdges(df: DataFrame, verdict: Column) = df.select(
      col("cluster_id").cast("string"), lit("edge").as("grain"),
      col("a").as("id_a"), col("b").as("id_b"), verdict.as("verdict"))
    def stackNodes(df: DataFrame, verdict: Column) = df.select(
      col("cluster_id").cast("string"), lit("node").as("grain"),
      col("node").as("id_a"), lit(null).cast("long").as("id_b"),
      verdict.as("verdict"))
    val big = withCluster.join(oversizedIds, Seq("cluster_id"), "left_semi")
    if (!skipOversize && !distributeOversize) combinedRaw
    else if (!distributeOversize) {
      val unknown = lit(null).cast("boolean")
      combinedRaw.unionByName(stackEdges(big, unknown))
        .unionByName(stackNodes(big.select(col("cluster_id"),
          explode(array(col("a"), col("b"))).as("node")).distinct(), unknown))
    }
    // the iterative BFS below runs jobs at plan-construction time, so skip
    // it entirely when nothing is oversized (one cheap probe of the
    // |clusters|-sized aggregate, same cost class as the error branch)
    else if (oversizedIds.limit(1).collect().isEmpty) combinedRaw
    else {
      val (dBridges, dArtic) =
        DistributedBridges.graphEdgeNodeMetrics(big, "a", "b")
      // rebuild from the RDD before the union: the distributed frames
      // inherit semi-join constraints that reference pruned attributes
      // (the clusters/sizes lineage), which trips Catalyst's Union
      // constraint rewrite — a plain checkpoint keeps those
      // originConstraints. Both frames are output-sized.
      def clean(d: DataFrame) = spark.createDataFrame(d.rdd, d.schema)
      combinedRaw
        .unionByName(clean(stackEdges(dBridges, col("is_bridge"))))
        .unionByName(clean(stackNodes(dArtic, col("is_articulation"))))
    }
  }

  /**
   * Cluster-level metrics (`graph_metrics.py:116-170`): size, edge count,
   * density = 2E / (n(n-1)), cluster centralisation.
   */
  def clusterMetrics(clusters: DataFrame, edges: DataFrame,
      srcCol: String = "unique_id_l", dstCol: String = "unique_id_r"): DataFrame = {
    val e = edges.alias("e")
      .join(clusters.alias("cl"), col(s"e.$srcCol") === col("cl.node_id"))
      .select(col("cl.cluster_id").as("cluster_id"))
      .groupBy("cluster_id").agg(count(lit(1)).as("n_edges"))
    val n = clusters.groupBy("cluster_id").agg(count(lit(1)).as("n_nodes"))
    n.join(e, Seq("cluster_id"), "left")
      .withColumn("n_edges", coalesce(col("n_edges"), lit(0L)))
      .withColumn("density",
        when(col("n_nodes") > 1,
          col("n_edges") * 2.0 / (col("n_nodes") * (col("n_nodes") - 1)))
          .otherwise(lit(0.0)))
  }
}
