package graft.clustering

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Materialise.Ops

/**
 * Fully distributed bridge finding — the scale path for clusters too large
 * for the per-task Tarjan in [[ClusteringOps.edgeBridges]] (reference
 * `edge_metrics.py:28-60` shells out to igraph on the driver and has no
 * story for graphs that do not fit one machine).
 *
 * Algorithm (cycle-space sampling, after Pritchard "Fast distributed
 * computation of cut vertices and bridges", with deterministic hash labels
 * instead of random bits):
 *
 *  1. Root a BFS spanning tree per cluster at the cluster's min node id
 *     (deterministic: each newly reached node takes its smallest frontier
 *     neighbour as parent). Rounds = cluster diameter.
 *  2. Every non-tree edge {u,v} gets a 64-bit label `xxhash64(u,v)`; its
 *     fundamental cycle covers exactly the tree path u..v. A tree edge is a
 *     bridge iff NO non-tree edge covers it.
 *  3. XOR trick: give both endpoints of each non-tree edge the edge's
 *     label; a node's potential is the XOR of its incident non-tree labels.
 *     For tree edge (parent p, child c), the XOR of potentials over
 *     subtree(c) equals the XOR of labels of non-tree edges with exactly
 *     ONE endpoint inside the subtree — precisely the covering edges. The
 *     edge is a bridge iff that XOR is 0: exact when the covering set is
 *     empty, wrong only when a non-empty label set XORs to zero
 *     (probability 2^-64 per tree edge — negligible and deterministic).
 *  4. Subtree XOR by depth peeling: levels fold bottom-up, each level
 *     XOR-aggregated into its parents; each level is touched twice in
 *     total, so the whole fold is O(V) work across `maxDepth` rounds.
 *
 * Parallel (duplicate) input edges make each other non-bridges: a second
 * copy of a tree pair is injected as one pseudo non-tree edge (distinct
 * hash salt) so the covered test fires; duplicate non-tree copies are
 * harmless (coverage is a set property).
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

  /** BFS spanning forest shared by [[bridges]] and [[articulationPoints]].
    * @param checked the checkpointed input projection `in` rebuilds from —
    *                carried so node-only callers can release its blocks
    *                (they never evaluate `in`)
    * @param in      (cluster_id, a, b) original edges, lineage-free
    * @param pairs   (cluster_id, u, v, mult) distinct undirected pairs
    * @param visited (cluster_id, node, parent, depth) one row per node;
    *                parent null at the root (= min node id of the cluster)
    * @param depth   max BFS depth reached */
  private case class Forest(checked: DataFrame, in: DataFrame,
      pairs: DataFrame, visited: DataFrame, depth: Int,
      levels: Seq[DataFrame])

  private def buildForest(edges: DataFrame, srcCol: String, dstCol: String,
      maxRounds: Int): Forest = {
    val spark = edges.sparkSession
    // materialise once, then rebuild from the RDD: the caller's lineage can
    // carry join constraints referencing attributes pruned from this
    // projection (localCheckpoint keeps them as originConstraints), and any
    // such leaked constraint breaks Catalyst's Union constraint rewrite in
    // the unions below. A fresh LogicalRDD has no constraints at all.
    val checked = edges.select(col("cluster_id"),
        col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .breakLineage()
    val in = spark.createDataFrame(checked.rdd, checked.schema)

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
    // have all materialised during the BFS above — drop its blocks now in
    // every mode instead of carrying a full node frame to the query's end
    graft.operators.Materialise.releaseConsumed(nodes)
    Forest(checked, in, pairs, visited, depth, levels.toSeq)
  }

  /**
   * @param edges frame with columns (cluster_id, srcCol, dstCol); every
   *              cluster must be connected (the contract of CC output)
   * @return one row per input edge: (cluster_id, srcCol, dstCol, is_bridge)
   */
  def bridges(edges: DataFrame, srcCol: String = "unique_id_l",
      dstCol: String = "unique_id_r", maxRounds: Int = 300): DataFrame = {
    val forest = buildForest(edges, srcCol, dstCol, maxRounds)
    val in = forest.in
    val pairs = forest.pairs
    val visited = forest.visited
    val depth = forest.depth

    // tree edges as undirected pairs, keyed by their CHILD node (no
    // checkpoint: visited is a union of materialised level RDDs)
    val tree = visited.filter(col("parent").isNotNull)
      .select(col("cluster_id"), col("node").as("child"),
        col("parent"), col("depth"),
        least(col("node"), col("parent")).as("u"),
        greatest(col("node"), col("parent")).as("v"))
    val treeKeys = tree.select(col("cluster_id"), col("u"), col("v"))

    // ---- phase 2: labels on non-tree edges (+ pseudo edges for dup
    // copies of tree pairs) --------------------------------------------
    val nonTree = pairs.join(treeKeys, Seq("cluster_id", "u", "v"), "left_anti")
      .select(col("cluster_id"), col("u"), col("v"),
        xxhash64(col("u"), col("v")).as("lbl"))
    val dupTree = pairs.join(treeKeys, Seq("cluster_id", "u", "v"), "left_semi")
      .filter(col("mult") > 1)
      .select(col("cluster_id"), col("u"), col("v"),
        xxhash64(col("u"), col("v"), lit(1L)).as("lbl"))
    val phi = nonTree.unionByName(dupTree)
      .select(col("cluster_id"), explode(array(
        struct(col("u").as("node"), col("lbl")),
        struct(col("v").as("node"), col("lbl")))).as("e"))
      .select(col("cluster_id"), col("e.node"), col("e.lbl"))
      .groupBy("cluster_id", "node").agg(bit_xor(col("lbl")).as("val"))

    // ---- phase 3: subtree XOR by depth peeling ------------------------
    // byDepth(d) = nodes at depth d with running value; folding level d
    // into d-1 touches only those two levels, so total fold work is O(V).
    // checkpoint only when the fold has many consumers: each byDepth(d)
    // filter re-reads this frame, so at depth > 4 a materialisation pays
    // for itself; below that the join over already-cached inputs is
    // cheaper to recompute than to checkpoint (one fewer Spark job)
    val withPhiRaw = visited.alias("t")
      .join(phi.alias("p"), Seq("cluster_id", "node"), "left")
      .select(col("cluster_id"), col("node"), col("parent"), col("depth"),
        coalesce(col("val"), lit(0L)).as("val"))
    val withPhi =
      if (depth > 4) withPhiRaw.breakLineage() else withPhiRaw
    val byDepth = scala.collection.mutable.Map[Int, DataFrame]()
    (0 to depth).foreach(d =>
      byDepth(d) = freshen(withPhi.filter(col("depth") === d)))
    // lineage-break cadence auto-sized from the MEASURED depth: the fold
    // chains one join per level, so deep graphs (long chains/cycles) would
    // either pay a checkpoint job every 8 levels (depth/8 extra jobs) or
    // grow unboundedly tall plans. Capping the break count at ~12 keeps
    // the job overhead flat for any diameter while plans stay at most
    // `cadence` joins tall between breaks.
    val peelCadence = math.max(8, math.ceil(depth / 12.0).toInt)
    var d = depth
    while (d >= 1) {
      val folded = byDepth(d).groupBy(col("cluster_id"),
          col("parent").as("node")).agg(bit_xor(col("val")).as("up"))
      byDepth(d - 1) = byDepth(d - 1).alias("l")
        .join(folded.alias("f"), Seq("cluster_id", "node"), "left")
        .select(col("cluster_id").as("cluster_id"), col("node").as("node"),
          col("parent").as("parent"), col("depth").as("depth"),
          (col("val").bitwiseXOR(coalesce(col("up"), lit(0L)))).as("val"))
      // each level is join-updated once, but its lineage hangs off the
      // level below it; cut the chain periodically so plans stay shallow
      if (d % peelCadence == 0) byDepth(d - 1) = byDepth(d - 1).breakLineage()
      d -= 1
    }
    val sub = byDepth.values.reduce(_.unionByName(_))
      .select(col("cluster_id"), col("node").as("child"),
        col("val").as("subtree_xor"))

    // ---- verdicts per undirected pair, re-attached to input edges ------
    val treeVerdict = tree.alias("t")
      .join(sub.alias("s"), Seq("cluster_id", "child"))
      .select(col("cluster_id"), col("u"), col("v"),
        (col("subtree_xor") === 0L).as("is_bridge"))
    val verdicts = freshen(treeVerdict).unionByName(
        nonTree.select(col("cluster_id").as("cluster_id"), col("u").as("u"),
          col("v").as("v"), lit(false).as("is_bridge")))
    in.alias("i")
      .join(verdicts.alias("vd"),
        col("i.cluster_id") === col("vd.cluster_id") &&
          least(col("i.a"), col("i.b")) === col("vd.u") &&
          greatest(col("i.a"), col("i.b")) === col("vd.v"), "left")
      .select(col("i.cluster_id").as("cluster_id"),
        col("i.a").as(srcCol), col("i.b").as(dstCol),
        coalesce(col("is_bridge"), lit(false)).as("is_bridge"))
  }

  /**
   * Fully distributed articulation (cut) vertices — the scale companion to
   * [[bridges]] for graphs too large for the per-task Tarjan in
   * [[ClusteringOps.articulationPoints]] (the reference's igraph driver
   * path, `graph_metrics.py:116-170` / `edge_metrics.py:28-60`, has no
   * distributed story at all).
   *
   * Algorithm: Tarjan–Vishkin biconnectivity (1985) over the same BFS
   * spanning forest as [[bridges]] — chosen precisely because it works on
   * an ARBITRARY rooted spanning tree (its original point was avoiding
   * DFS, which doesn't parallelise). Aux graph over tree edges (each
   * identified with its child endpoint):
   *
   *  - rule A: each non-tree edge {x,y} with x,y unrelated links tree
   *    edges (p(x),x)—(p(y),y). In a BFS tree non-tree edges connect
   *    nodes whose depths differ by at most one, so EVERY non-tree edge
   *    is an unrelated pair (a depth-1 difference with ancestry would be
   *    the tree edge itself; duplicate copies of tree pairs form 2-cycles
   *    that link nothing and are excluded).
   *  - rule B: tree edge (v,c) links to (p(v),v) iff some non-tree edge
   *    leaves subtree(c) to strictly outside subtree(v) — tested exactly
   *    with preorder intervals: low(c) < pre(v) or high(c) >= pre(v)+nd(v).
   *
   * Biconnected components = connected components of the aux graph; a
   * non-root v is a cut vertex iff some child edge lies in a different
   * component than v's parent edge, and the root iff its child edges span
   * more than one component.
   *
   * nd (subtree size) folds bottom-up, preorder numbers fold top-down,
   * low/high fold bottom-up — each by the same depth-peeling as the XOR
   * fold in [[bridges]] (O(V) work per fold across `depth` rounds), and
   * the aux component solve reuses [[ConnectedComponents]] (driver
   * union-find below its small-graph gate, distributed loop above). Aux
   * node ids are `xxhash64(cluster_id, node)` — a collision would merge
   * two aux components (wrongly clearing a cut vertex), probability
   * ~2^-64 per node pair: the same accepted risk class as the
   * cycle-space XOR in [[bridges]]. All shuffles key on
   * (cluster_id, node): no cluster ever materialises on one machine.
   *
   * @param edges (cluster_id, srcCol, dstCol); clusters must be connected
   * @return one row per node: (cluster_id, node, is_articulation)
   */
  def articulationPoints(edges: DataFrame, srcCol: String = "unique_id_l",
      dstCol: String = "unique_id_r", maxRounds: Int = 300): DataFrame =
    graphEdgeNodeMetrics(edges, srcCol, dstCol, maxRounds,
      nodeOnly = true)._2

  /**
   * BOTH graph-metric verdicts from ONE spanning forest: bridges (edge
   * grain) and articulation points (node grain). The reference exposes
   * them as one family (`edge_metrics.py:28-60`, `graph_metrics.py:
   * 116-170`); computing them separately rebuilds the same BFS forest,
   * folds and aux graph twice — 55-65% duplicated work per the committed
   * r12 phase breakdown.
   *
   * The articulation pipeline already folds everything a bridge verdict
   * needs: with preorder intervals, tree edge (p, c) is covered by some
   * non-tree edge iff `low(c) < pre(c) OR high(c) >= pre(c) + nd(c)`
   * (a non-tree edge leaves subtree(c) — exactly "one endpoint inside"),
   * so `is_bridge = NOT covered AND mult = 1` (a duplicated tree pair is
   * its own 2-cycle). That makes the combined pass cost the articulation
   * pass plus three small verdict-grain joins — no second forest, no XOR
   * fold, and EXACT (the standalone [[bridges]] XOR keeps a 2^-64
   * false-bridge probability; the interval test has none). Standalone
   * [[bridges]] deliberately keeps the XOR path: alone it needs one fold
   * instead of the three the interval test rides on.
   *
   * @return (edge frame (cluster_id, srcCol, dstCol, is_bridge),
   *          node frame (cluster_id, node, is_articulation))
   */
  def graphEdgeNodeMetrics(edges: DataFrame, srcCol: String = "unique_id_l",
      dstCol: String = "unique_id_r", maxRounds: Int = 300,
      materialise: Boolean = false, nodeOnly: Boolean = false)
      : (DataFrame, DataFrame) = {
    // nodeOnly = the articulation-only delegation: the bridge verdict
    // branch is never built (the edge frame of the returned pair is null)
    // and the scaffold runs EAGER ON-HEAP checkpoints with immediate
    // release of each consumed frame. Rationale (r15 scaling data): the
    // lazy solo cadence holds EVERY scaffold frame's blocks live until
    // the caller's final action — at sf10/32 cores ~10 frames of 35M+
    // deserialized rows fill the heap and the query spends 40% of task
    // time in GC (435s vs 5.4s at 8 cores, identical plans). Eager +
    // release caps the live set at the frames a stage actually reads.
    // DISK_ONLY stays the FUSED mode's trade: a solo blanket spill was
    // tried and reverted with numbers (serde ≈ the GC it saved).
    require(!(materialise && nodeOnly),
      "nodeOnly is the solo articulation cadence; fused callers use " +
        "materialise")
    val forest = buildForest(edges, srcCol, dstCol, maxRounds)
    val in = forest.in
    val pairs = forest.pairs
    // materialise mode = eager stage-by-stage checkpoints + immediate
    // release of every consumed block set: a caller evaluating BOTH
    // verdict frames in one plan would otherwise hold the whole scaffold
    // live to the final action (at sf10 the fused query spent ~50% of
    // task time in GC before this discipline). The checkpoints also go
    // DISK_ONLY in this mode: ~8 scaffold frames of 35M+ rows held
    // on-heap are old-generation garbage every GC cycle re-walks
    // (measured at sf10: 500s task GC, 36% of the fused run time);
    // spilled, the heap holds only the frames being computed. The
    // single-verdict delegation keeps the old lazy ON-HEAP cadence:
    // eager scheduling costs a solo run ~5-8% for no benefit, and a
    // blanket solo spill was TRIED and REVERTED with numbers — on a
    // clean box it traded ~100s of solo GC for an equal serde bill
    // (q_bridges cpu 360 -> 445s, q_articulation 504 -> 679s, wall flat
    // to slightly worse). Only the both-verdicts caller holds enough
    // frames at once for off-heap to win.
    def ck(df: DataFrame): DataFrame =
      if (materialise) df.breakLineageSpilled(eager = true)
      else if (nodeOnly) df.breakLineage(eager = true)
      else df.breakLineage()
    // lazy variant for frames whose first consumer is itself checkpointed
    // (they compute exactly once either way — only the block home differs).
    // nodeOnly keeps these EAGER too: the release cadence below needs each
    // frame's materialisation pinned to a known point, not to whichever
    // downstream job first touches it.
    def ckLazy(df: DataFrame): DataFrame =
      if (materialise) df.breakLineageSpilled()
      else if (nodeOnly) df.breakLineage(eager = true)
      else df.breakLineage()
    def releaseIfEager(df: DataFrame): Unit =
      if (materialise || nodeOnly)
        graft.operators.Materialise.releaseConsumed(df)
    val visited = ck(forest.visited)
    if (materialise || nodeOnly) {
      forest.levels.foreach(graft.operators.Materialise.releaseConsumed)
      // nodeOnly never evaluates the bridge branch, so the checkpointed
      // input projection (consumed into `pairs` during the BFS) is dead
      if (nodeOnly)
        graft.operators.Materialise.releaseConsumed(forest.checked)
    }
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
    // nodeOnly: pairs' last consumer was the (eager) nonTree checkpoint —
    // the bridge branch's mult join never runs
    if (nodeOnly) graft.operators.Materialise.releaseConsumed(pairs)

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
    releaseIfEager(kids)

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
    // test then needs NO re-join with the pre/nd frames (the delegation
    // path never reads them, and Catalyst prunes them out of its fold)
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
    // checkpointed in materialise mode: BOTH verdicts then read this fold
    // (rule B below, the bridge interval test at the end); single-verdict
    // delegation has one consumer and keeps the plain plan
    val lowHighRaw = byDepthLh.values.reduce(_.unionByName(_))
      .select(col("cluster_id"), col("node"), col("parent"), col("pre"),
        col("nd"), col("low"), col("high"))
    val lowHigh =
      if (materialise) lowHighRaw.breakLineageSpilled(eager = true)
      else lowHighRaw
    // lhInit's consumers are the byDepthLh filters, all folded into the
    // eager lowHigh checkpoint above — in FUSED mode only. nodeOnly keeps
    // lowHigh a lazy view (single consumer: rule B), so lhInit must live
    // until the comp checkpoint below has materialised through it.
    if (materialise) graft.operators.Materialise.releaseConsumed(lhInit)

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
    releaseIfEager(auxComp)
    releaseIfEager(nd)
    releaseIfEager(pre)
    // nodeOnly: rule B (through the lazy lowHigh view over lhInit) and
    // rule A (nonTree) were both consumed into the aux CC solve, whose
    // labelling is folded into the eager comp checkpoint above — from here
    // the only live scaffold frames are visited and comp, exactly what the
    // articulation verdict reads
    if (nodeOnly) {
      graft.operators.Materialise.releaseConsumed(lhInit)
      graft.operators.Materialise.releaseConsumed(nonTree)
    }

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

    // nodeOnly: the bridge branch is never built — its inputs (pairs,
    // lowHigh/lhInit, nonTree, in) are already released above
    if (nodeOnly) return (null, articulation)

    // ---- bridge verdicts from the SAME folds -------------------------
    // tree edge keyed by child c: covered iff some non-tree edge leaves
    // subtree(c) (low/high outside [pre(c), pre(c)+nd(c))); a duplicated
    // tree pair (mult > 1) is a 2-cycle covering itself. All three joins
    // are verdict-grain over checkpointed frames — lazy, so callers that
    // only consume the articulation frame pay nothing for this branch.
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

    if (!materialise) (bridgesDf, articulation)
    else {
      // callers that consume BOTH verdict frames in one downstream plan
      // (the fused graph-metrics surface) would otherwise keep every
      // scaffold checkpoint alive until that plan's final action — at
      // sf10 the fused query spent ~50% of task time in GC that way.
      // Flatten both outputs eagerly, RELEASING each verdict's scaffold
      // inputs as soon as that verdict lands (the bridge side consumes
      // lowHigh/nonTree/pairs/in; the node side only visited/comp): the
      // caller receives two self-contained frames and the peak live
      // block set never exceeds one verdict's inputs.
      val bOut = bridgesDf.breakLineageSpilled(eager = true)
      Seq(lowHigh, nonTree, pairs, in)
        .foreach(graft.operators.Materialise.releaseConsumed)
      val aOut = articulation.breakLineageSpilled(eager = true)
      Seq(visited, comp)
        .foreach(graft.operators.Materialise.releaseConsumed)
      (bOut, aOut)
    }
  }
}
