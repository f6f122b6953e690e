package graft.clustering

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Materialise.{Ops, release}

/**
 * Fully distributed bridges AND articulation (cut) vertices — the scale
 * path for clusters too large for the per-task Tarjan in
 * [[ClusteringOps.graphMetrics]] (the reference's igraph driver path,
 * `edge_metrics.py:28-60` / `graph_metrics.py:116-170`, has no story for
 * graphs that do not fit one machine). Both verdicts come from one
 * scaffold:
 *
 *  1. BFS spanning forest: each cluster is rooted at its min node id and
 *     every newly reached node takes its smallest frontier neighbour as
 *     parent (deterministic). Rounds = cluster diameter.
 *  2. Preorder intervals by depth peeling: subtree sizes nd fold
 *     bottom-up, preorder numbers (children in id order) fold top-down,
 *     and low/high — the min/max preorder over a subtree's nodes and
 *     their non-tree neighbours — fold bottom-up. Each fold touches every
 *     level twice, so it is O(V) work across `depth` rounds.
 *  3. Bridges: tree edge (p, c) is covered by a non-tree edge iff
 *     `low(c) < pre(c) OR high(c) >= pre(c) + nd(c)` (some non-tree edge
 *     leaves subtree(c)); it is a bridge iff uncovered and not doubled
 *     (`mult = 1` — a parallel copy is its own 2-cycle). Exact: no
 *     hashing, no false-bridge probability. Non-tree edges never bridge.
 *  4. Articulation points: Tarjan–Vishkin biconnectivity (1985), which
 *     works on an ARBITRARY rooted spanning tree, so the BFS forest
 *     serves. Aux graph over tree edges (each identified with its child):
 *     rule A links the tree edges of the endpoints of every non-tree edge
 *     (in a BFS tree every non-tree edge joins unrelated nodes); rule B
 *     links (v, c) to (p(v), v) iff some non-tree edge leaves subtree(c)
 *     to strictly outside subtree(v) — `low(c) < pre(v)` or
 *     `high(c) >= pre(v) + nd(v)`. Biconnected components are the aux
 *     graph's connected components ([[ConnectedComponents]]); a non-root
 *     v is a cut vertex iff a child edge lies in a different component
 *     than v's parent edge, the root iff its child edges span more than
 *     one component. Aux node ids are `xxhash64(cluster_id, node)`: a
 *     collision would merge two aux components (wrongly clearing a cut
 *     vertex), probability ~2^-64 per node pair.
 *
 * Everything shuffles on (cluster_id, node): no step ever materialises a
 * cluster on one machine, so the only scale limits are the usual shuffle
 * limits. Round count scales with cluster DIAMETER — real linkage
 * mega-clusters are shallow hairballs; `maxRounds` guards pathological
 * chains with a hard error rather than a hung job.
 */
object DistributedBridges {

  /** Re-alias every column: fresh attribute ids, so frames derived from
    * one shared checkpoint can be safely unioned (Catalyst's Union
    * constraint rewrite requires children with disjoint output ids). */
  private def freshen(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).as(c)).toIndexedSeq: _*)

  /** BFS spanning forest of [[graphEdgeNodeMetrics]].
    * @param in      (cluster_id, a, b) original edges, lineage-free
    * @param pairs   (cluster_id, u, v, mult) distinct undirected pairs
    * @param visited (cluster_id, node, parent, depth) one row per node;
    *                parent null at the root (= min node id of the cluster)
    * @param depth   max BFS depth reached
    * @param levels  the per-depth checkpoints `visited` is a union of */
  private case class Forest(in: DataFrame, pairs: DataFrame,
      visited: DataFrame, depth: Int, levels: Seq[DataFrame])

  private def buildForest(edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int): Forest = {
    // materialise once: the lineage break's fresh leaf carries none of the
    // caller's join constraints, which (referencing attributes pruned from
    // this projection) would break Catalyst's Union constraint rewrite in
    // the unions below
    val in = edges.select(col("cluster_id"),
        col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .breakLineage()

    // NOTE (r12, tried and REVERTED with numbers): hash-partitioning the
    // whole pipeline once on cluster_id — every downstream shuffle here
    // clusters on a key list starting with cluster_id — does NOT elide
    // the downstream exchanges in practice: Spark 4 requires ALL join
    // cluster keys for co-partitioning by default
    // (spark.sql.requireAllClusterKeysForCoPartition), and a probe
    // showed checkpointed repartition output re-exchanged at the next
    // join regardless. The attempt added one exchange + sort per
    // checkpoint and regressed the bench shape (q_bridges sf1 7.1 ->
    // 12.0s, sf10 +7s, PLAN-flagged), so the pipeline keeps plain
    // per-operator exchanges.

    // undirected pair multiplicities; self-loops never bridge and are
    // excluded from the graph entirely (re-attached as false at the end)
    val pairs = in.filter(col("a") =!= col("b"))
      .select(col("cluster_id"),
        least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .groupBy("cluster_id", "u", "v").agg(count(lit(1)).as("mult"))
      .breakLineage()

    // no checkpoint: adj is a trivial explode over the checkpointed pairs,
    // re-deriving it per BFS round reads cached blocks + one cheap operator
    val adj = pairs.select(col("cluster_id"), explode(array(
        struct(col("u").as("node"), col("v").as("nbr")),
        struct(col("v").as("node"), col("u").as("nbr")))).as("e"))
      .select(col("cluster_id"), col("e.node"), col("e.nbr"))

    // ---- phase 1: BFS forest, parent = min frontier neighbour ----------
    // one checkpointed distinct-node frame feeds the root derivation, the
    // termination total AND the root count — three aggregates over cached
    // blocks instead of three separate scans of the exploded adjacency
    val nodes = pairs.select(col("cluster_id"), explode(array(
        col("u"), col("v"))).as("node"))
      .distinct().breakLineage()
    val roots = nodes.groupBy("cluster_id").agg(min(col("node")).as("node"))
      .withColumn("parent", lit(null).cast("long"))
      .withColumn("depth", lit(0))
    // levels stay separate checkpointed frames: the anti-join target is
    // their union (each already a materialised RDD), so no round re-writes
    // the whole visited set — one checkpoint job per round, not two
    val levels = scala.collection.mutable.ArrayBuffer(
      roots.breakLineage())
    def visitedUnion = levels.map(l =>
      freshen(l.select(col("cluster_id"), col("node")))).reduce(_.unionByName(_))
    var frontier = levels.head
    var depth = 0
    // termination by node count, not by running an extra empty round: the
    // node total is a cheap count of the cached node frame and every BFS
    // level is counted anyway when its checkpoint materialises
    val totalNodes = nodes.count()
    var visitedCount = frontier.count()
    while (visitedCount < totalNodes) {
      depth += 1
      if (depth > maxRounds) throw new IllegalStateException(
        s"DistributedBridges: BFS exceeded maxRounds=$maxRounds — cluster " +
          "diameter is pathological for the depth-peeling fold; raise " +
          "maxRounds if the job time is acceptable.")
      val next = adj.alias("g")
        .join(frontier.select(col("cluster_id"), col("node")).alias("f"),
          Seq("cluster_id", "node"))
        .select(col("cluster_id"), col("g.nbr").as("node"),
          col("g.node").as("cand"))
        .join(visitedUnion, Seq("cluster_id", "node"), "left_anti")
        .groupBy("cluster_id", "node").agg(min(col("cand")).as("parent"))
        .withColumn("depth", lit(depth))
        .breakLineage()
      val n = next.count()
      if (n == 0) throw new IllegalStateException(
        "DistributedBridges: BFS stalled before reaching every node — a " +
          "cluster in the input is not connected, which violates the CC " +
          "output contract.")
      visitedCount += n
      levels += next
      frontier = next
    }
    val visited = levels.map(freshen).reduce(_.unionByName(_))
    // nodes' consumers (the roots checkpoint and the termination counts)
    // have all materialised during the BFS above — drop its blocks now
    // instead of carrying a full node frame to the query's end
    release(nodes)
    Forest(in, pairs, visited, depth, levels.toSeq)
  }

  /**
   * Both graph-metric verdicts from ONE spanning forest and fold set (see
   * the object doc): bridges at edge grain, articulation points at node
   * grain. The reference reports them as one family (`edge_metrics.py:
   * 28-60`, `graph_metrics.py:116-170`).
   *
   * Every scaffold frame is checkpointed EAGERLY and DISK_ONLY, and each
   * is released as soon as its last consumer has materialised: a caller
   * reading both verdict frames would otherwise hold the whole scaffold
   * live to its final action (at sf10, ~8 frames of 35M+ rows held
   * on-heap cost 500s of task GC, 36% of the run time). Both outputs are
   * themselves eager spilled checkpoints, so the caller receives two
   * self-contained frames.
   *
   * @param edges (cluster_id, srcCol, dstCol); clusters must be connected
   *              (the contract of CC output)
   * @return (edge frame (cluster_id, srcCol, dstCol, is_bridge) with one
   *          row per input edge, node frame (cluster_id, node,
   *          is_articulation))
   */
  def graphEdgeNodeMetrics(edges: DataFrame, srcCol: String = "unique_id_l",
      dstCol: String = "unique_id_r", maxRounds: Int = 300)
      : (DataFrame, DataFrame) = {
    val forest = buildForest(edges, srcCol, dstCol, maxRounds)
    val in = forest.in
    val pairs = forest.pairs
    def ck(df: DataFrame): DataFrame = df.breakLineage(eager = true, spill = true)
    // lazy variant for frames whose first consumer is itself checkpointed
    // (they compute exactly once either way — only the block home differs)
    def ckLazy(df: DataFrame): DataFrame = df.breakLineage(spill = true)
    val visited = ck(forest.visited)
    forest.levels.foreach(release)
    val depth = forest.depth
    val peelCadence = math.max(8, math.ceil(depth / 12.0).toInt)

    val tree = visited.filter(col("parent").isNotNull)
    val treeKeys = tree.select(col("cluster_id"),
      least(col("node"), col("parent")).as("u"),
      greatest(col("node"), col("parent")).as("v"))
    // duplicate copies of tree pairs form 2-cycles through no internal
    // vertex — they affect bridges but never cut vertices, so they are
    // excluded here outright
    val nonTree = ckLazy(pairs
      .join(treeKeys, Seq("cluster_id", "u", "v"), "left_anti")
      .select(col("cluster_id"), col("u"), col("v")))

    // ---- fold 1 (bottom-up): subtree sizes nd ------------------------
    val byDepthNd = scala.collection.mutable.Map[Int, DataFrame]()
    (0 to depth).foreach(d => byDepthNd(d) =
      freshen(visited.filter(col("depth") === d).withColumn("nd", lit(1L))))
    var d = depth
    while (d >= 1) {
      val up = byDepthNd(d).groupBy(col("cluster_id"),
          col("parent").as("node")).agg(sum(col("nd")).as("up"))
      byDepthNd(d - 1) = byDepthNd(d - 1).alias("l")
        .join(up.alias("f"), Seq("cluster_id", "node"), "left")
        .select(col("cluster_id").as("cluster_id"), col("node").as("node"),
          col("parent").as("parent"), col("depth").as("depth"),
          (col("nd") + coalesce(col("up"), lit(0L))).as("nd"))
      if (d % peelCadence == 0) byDepthNd(d - 1) = byDepthNd(d - 1).breakLineage()
      d -= 1
    }
    val nd = ck(byDepthNd.values.reduce(_.unionByName(_))
      .select(col("cluster_id"), col("node"), col("parent"), col("depth"),
        col("nd")))

    // ---- fold 2 (top-down): preorder numbers, children in id order ---
    // offset(c) = total subtree size of smaller-id siblings
    val sibW = Window.partitionBy("cluster_id", "parent").orderBy("node")
      .rowsBetween(Window.unboundedPreceding, -1)
    // materialised once: every depth round of the top-down fold filters
    // this frame, and the window would otherwise recompute per round
    val kids =
      ck(nd.filter(col("parent").isNotNull)
        .withColumn("offset", coalesce(sum(col("nd")).over(sibW), lit(0L))))
    val preByDepth = scala.collection.mutable.Map[Int, DataFrame](
      0 -> freshen(nd.filter(col("depth") === 0)
        .select(col("cluster_id"), col("node"), lit(0L).as("pre"))))
    d = 1
    while (d <= depth) {
      preByDepth(d) = kids.filter(col("depth") === d).alias("k")
        .join(preByDepth(d - 1).alias("p"),
          col("k.cluster_id") === col("p.cluster_id") &&
            col("k.parent") === col("p.node"))
        .select(col("k.cluster_id").as("cluster_id"),
          col("k.node").as("node"),
          (col("p.pre") + lit(1L) + col("k.offset")).as("pre"))
      if (d % peelCadence == 0) preByDepth(d) = preByDepth(d).breakLineage()
      d += 1
    }
    val pre = ck(preByDepth.values.map(freshen).reduce(_.unionByName(_)))
    // the sibling-offset frame's only consumers are the preorder fold
    // rounds, all materialised by the eager pre checkpoint above
    release(kids)

    // ---- fold 3 (bottom-up): low/high of non-tree-neighbour preorders -
    val ntAdj = nonTree.select(col("cluster_id"), explode(array(
        struct(col("u").as("node"), col("v").as("nbr")),
        struct(col("v").as("node"), col("u").as("nbr")))).as("e"))
      .select(col("cluster_id"), col("e.node"), col("e.nbr"))
      .join(pre.select(col("cluster_id"), col("node").as("nbr"),
        col("pre").as("nbr_pre")), Seq("cluster_id", "nbr"))
      .groupBy("cluster_id", "node")
      .agg(min(col("nbr_pre")).as("nt_min"), max(col("nbr_pre")).as("nt_max"))
    // pre/nd ride along as constant per-row columns: the bridge interval
    // test then needs NO re-join with the pre/nd frames
    val lhInit = ckLazy(nd.join(pre, Seq("cluster_id", "node"))
      .join(ntAdj, Seq("cluster_id", "node"), "left")
      .select(col("cluster_id"), col("node"), col("parent"), col("depth"),
        col("pre"), col("nd"),
        least(col("pre"), coalesce(col("nt_min"), col("pre"))).as("low"),
        greatest(col("pre"), coalesce(col("nt_max"), col("pre"))).as("high")))
    val byDepthLh = scala.collection.mutable.Map[Int, DataFrame]()
    (0 to depth).foreach(dd => byDepthLh(dd) =
      freshen(lhInit.filter(col("depth") === dd)))
    d = depth
    while (d >= 1) {
      val up = byDepthLh(d).groupBy(col("cluster_id"),
          col("parent").as("node"))
        .agg(min(col("low")).as("low_up"), max(col("high")).as("high_up"))
      byDepthLh(d - 1) = byDepthLh(d - 1).alias("l")
        .join(up.alias("f"), Seq("cluster_id", "node"), "left")
        .select(col("cluster_id").as("cluster_id"), col("node").as("node"),
          col("parent").as("parent"), col("depth").as("depth"),
          col("pre").as("pre"), col("nd").as("nd"),
          least(col("low"), coalesce(col("low_up"), col("low"))).as("low"),
          greatest(col("high"), coalesce(col("high_up"), col("high")))
            .as("high"))
      if (d % peelCadence == 0) byDepthLh(d - 1) = byDepthLh(d - 1).breakLineage()
      d -= 1
    }
    // checkpointed: BOTH verdicts read this fold (rule B below, the
    // bridge interval test at the end)
    val lowHigh = ck(byDepthLh.values.reduce(_.unionByName(_))
      .select(col("cluster_id"), col("node"), col("parent"), col("pre"),
        col("nd"), col("low"), col("high")))
    // lhInit's consumers are the byDepthLh filters, all folded into the
    // eager lowHigh checkpoint above
    release(lhInit)

    // ---- aux graph links + component solve ---------------------------
    // rule B needs the PARENT's preorder interval next to each child
    val parentIv = nd.filter(col("depth") >= 1)
      .join(pre, Seq("cluster_id", "node"))
      .select(col("cluster_id"), col("node").as("parent"),
        col("pre").as("p_pre"), col("nd").as("p_nd"))
    val ruleB = lowHigh.filter(col("parent").isNotNull)
      .join(parentIv, Seq("cluster_id", "parent"))
      .filter(col("low") < col("p_pre") ||
        col("high") >= col("p_pre") + col("p_nd"))
      .select(col("cluster_id"), col("node").as("x"), col("parent").as("y"))
    val ruleA = nonTree
      .select(col("cluster_id"), col("u").as("x"), col("v").as("y"))
    val auxEdges = ruleA.unionByName(ruleB)
      .select(xxhash64(col("cluster_id"), col("x")).as("s"),
        xxhash64(col("cluster_id"), col("y")).as("t"))
    // assumeDistinctPairs: rule A emits each non-tree pair once, rule B
    // each (child, parent) tree pair once, and a tree pair can never also
    // be non-tree — so no undirected aux pair appears twice and the CC
    // solve's symmetric dedupe aggregate is provably redundant
    val auxComp =
      ConnectedComponents.run(auxEdges, "s", "t", assumeDistinctPairs = true)
        .select(col("node_id").as("aux_id"), col("cluster_id").as("comp"))

    // parent-edge component per non-root node; aux-isolated nodes keep
    // their own id as a singleton component
    val comp =
      ck(visited.filter(col("parent").isNotNull)
        .withColumn("aux_id", xxhash64(col("cluster_id"), col("node")))
        .join(auxComp, Seq("aux_id"), "left")
        .select(col("cluster_id"), col("node"), col("parent"), col("depth"),
          coalesce(col("comp"), col("aux_id")).as("comp")))
    // the aux component solve's output is folded into the eager comp
    // checkpoint — its blocks (and the CC solve's internal state) die
    // here, and so do nd/pre: their remaining consumer (the parent-
    // interval join feeding rule B) is inside that checkpoint, and the
    // bridge interval test reads pre/nd as columns carried on lowHigh,
    // never these frames
    Seq(auxComp, nd, pre).foreach(release)

    // ---- verdicts ----------------------------------------------------
    val childComps = comp.select(col("cluster_id"),
      col("parent").as("node"), col("comp").as("child_comp"))
    val verdict = visited.alias("n")
      .join(comp.select(col("cluster_id"), col("node"),
        col("comp").as("own_comp")).alias("oc"),
        Seq("cluster_id", "node"), "left")
      .join(childComps, Seq("cluster_id", "node"), "left")
      .groupBy(col("cluster_id"), col("node"))
      // "children span >1 component" is min != max — NOT countDistinct,
      // which Spark plans through an Expand that doubles the aggregate's
      // input rows (one copy per distinct-aggregate group)
      .agg(first(col("own_comp")).as("own_comp"),
        count(col("child_comp")).as("n_children"),
        min(col("child_comp")).as("min_child_comp"),
        max(col("child_comp")).as("max_child_comp"),
        max(when(col("child_comp") =!= col("own_comp"), 1)
          .otherwise(0)).as("any_foreign"))
    val articulation = verdict.select(col("cluster_id"), col("node"),
      when(col("n_children") === 0, lit(false))
        .when(col("own_comp").isNull,
          col("min_child_comp") =!= col("max_child_comp"))
        .otherwise(col("any_foreign") === 1).as("is_articulation"))

    // ---- bridge verdicts from the SAME folds -------------------------
    // tree edge keyed by child c: covered iff some non-tree edge leaves
    // subtree(c) (low/high outside [pre(c), pre(c)+nd(c))); a duplicated
    // tree pair (mult > 1) is a 2-cycle covering itself. All three joins
    // are verdict-grain over checkpointed frames.
    val treeIv = lowHigh.filter(col("parent").isNotNull)
      .select(col("cluster_id"),
        least(col("node"), col("parent")).as("u"),
        greatest(col("node"), col("parent")).as("v"),
        (col("low") < col("pre") ||
          col("high") >= col("pre") + col("nd")).as("covered"))
    val treeVerdict = treeIv
      .join(pairs.select(col("cluster_id"), col("u"), col("v"), col("mult")),
        Seq("cluster_id", "u", "v"))
      .select(col("cluster_id"), col("u"), col("v"),
        (!col("covered") && col("mult") === 1).as("is_bridge"))
    val edgeVerdicts = freshen(treeVerdict).unionByName(
      nonTree.select(col("cluster_id").as("cluster_id"), col("u").as("u"),
        col("v").as("v"), lit(false).as("is_bridge")))
    val bridgesDf = in.alias("i")
      .join(edgeVerdicts.alias("vd"),
        col("i.cluster_id") === col("vd.cluster_id") &&
          least(col("i.a"), col("i.b")) === col("vd.u") &&
          greatest(col("i.a"), col("i.b")) === col("vd.v"), "left")
      .select(col("i.cluster_id").as("cluster_id"),
        col("i.a").as(srcCol), col("i.b").as(dstCol),
        coalesce(col("is_bridge"), lit(false)).as("is_bridge"))

    // flatten both outputs eagerly, RELEASING each verdict's scaffold
    // inputs as soon as that verdict lands (the bridge side consumes
    // lowHigh/nonTree/pairs/in; the node side only visited/comp): the
    // peak live block set never exceeds one verdict's inputs
    val bOut = ck(bridgesDf)
    Seq(lowHigh, nonTree, pairs, in).foreach(release)
    val aOut = ck(articulation)
    Seq(visited, comp).foreach(release)
    (bOut, aOut)
  }
}
