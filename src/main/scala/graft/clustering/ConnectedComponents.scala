package graft.clustering

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StructField,
  StructType}
import graft.operators.{Decide, Materialise}
import graft.operators.Materialise.Ops

/**
 * Distributed connected components over an edge list, via iterative
 * min-label propagation — the same algorithm family the reference uses
 * (reference: `splink/internals/connected_components.py:121-335`, based on
 * arXiv:1802.09478 "Computation of Connected Components at Scale").
 *
 * Loop invariant: `reps(node_id, representative)` maps each node to the
 * smallest node id it currently knows is in its component. Each iteration
 * lowers representatives via neighbours; a cluster (= group of nodes
 * sharing a representative) is FINAL exactly when no edge leaves it
 * (`connected_components.py:216-313` splits these off as "stable" each
 * round and stops when no inter-cluster edge remains). When every node of
 * a closed cluster shares one representative r, node r itself is a member
 * and r is the component minimum, so labels are canonical.
 *
 * One entry: the raw two-column edge list, in one id type, goes behind one
 * lazy lineage break and is counted once — that count computes every block,
 * so the caller's pipeline runs once — and one [[Decide.collect]] on the
 * count picks the path. A graph under the driver budget is collected from
 * that leaf and solved by union-find; a larger one runs distributed
 * contraction levels, each sized from what its input leaf measurably holds
 * (its partitions and bytes), never from an optimizer estimate.
 *
 * Every iteration breaks lineage via [[graft.operators.Materialise]]
 * (policy-selectable: localCheckpoint locally, parquet/checkpoint on a
 * cluster) — without lineage breaks the plan
 * doubles per round (the reference persists each iteration for the same
 * reason, `spark/database_api.py:292-311`). The exit condition costs one
 * count per round, mirroring the reference's count query.
 */
object ConnectedComponents {

  /** Cap on pointer jumps per level. Each jump doubles the compressed
    * pointer depth, so 40 covers trees 2^40 deep, unreachable from real
    * data; exiting the loop with movers left fails loudly. */
  val MaxJumps: Int = 40

  /** Cap on distributed contraction levels. Each level merges every node
    * that has a neighbour, so the node count at least halves per level and
    * 40 levels cover 2^40 nodes; a graph still contracting past the cap
    * fails loudly instead of returning unmerged labels. */
  val MaxLevels: Int = 40

  /**
   * @param edges frame with two node-id columns (self-loops and duplicates
   *        ok); both are coerced to one common id type
   * @param assumeDistinctPairs caller-declared hint that `edges` holds
   *        each undirected pair at most once, in one orientation (true
   *        for predict outputs — blocking emits `id_l < id_r` pairs once —
   *        and for lag/window-derived consecutive-row edges). Skips the
   *        symmetric frame's dedupe aggregate; purely a performance hint —
   *        a violated promise only means duplicate edges flow through the
   *        solve (min-propagation, jumps and contraction are all
   *        duplicate-insensitive), never a wrong labelling.
   * @return DataFrame(node_id, cluster_id), one row per node that appears
   *         in any edge; cluster_id = min node id in the component.
   */
  def run(edges: DataFrame, srcCol: String = "unique_id_l",
      dstCol: String = "unique_id_r",
      assumeDistinctPairs: Boolean = false): DataFrame =
    solve(edges, srcCol, dstCol, assumeDistinctPairs)

  private[graft] def solve(edges: DataFrame, srcCol: String, dstCol: String,
      assumeDistinctPairs: Boolean, maxJumps: Int = MaxJumps,
      maxLevels: Int = MaxLevels): DataFrame = {
    val leaf = edgeList(edges, srcCol, dstCol)
    // the one count computes every block of the leaf, so the caller's
    // pipeline runs exactly once whichever path the count picks
    solveLeaf(leaf, leaf.count(), assumeDistinctPairs, maxJumps, 1,
      maxLevels)
  }

  /** The raw two-column edge list `(src, dst)`, both columns cast to the
    * type `array(src, dst)` coerces them to, behind one lazy lineage
    * break. */
  private[graft] def edgeList(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    val ids = edges.select(array(col(srcCol), col(dstCol))).schema.head
      .dataType.asInstanceOf[ArrayType].elementType
    edges.select(col(srcCol).cast(ids).as("src"),
      col(dstCol).cast(ids).as("dst")).breakLineage()
  }

  /** Solves a counted `(src, dst)` lineage break of `count` rows, which
    * this call owns and releases once it is consumed. The driver path
    * needs neither symmetry nor dedupe (union-find is direction- and
    * duplicate-insensitive); the symmetric frame the distributed level
    * builds holds at most `2 * count` edges. */
  private def solveLeaf(edges: DataFrame, count: Long,
      assumeDistinctPairs: Boolean, maxJumps: Int, depth: Int,
      maxLevels: Int): DataFrame = {
    if (Decide.collect("cc.edges", 2 * count, Decide.GraphEdges) ==
        Decide.Collect.Driver) {
      val solved = driverUnionFind(edges)
      // the collect fully consumed the leaf; the output is a
      // driver-parallelized RDD with no reference to it
      Materialise.release(edges)
      return solved
    }
    if (depth > maxLevels)
      throw new IllegalStateException(
        s"connected-components contraction hit the level cap ($maxLevels " +
          s"levels) with $count edge(s) still between clusters: the " +
          s"labelling has not merged every component. The default cap " +
          s"covers 2^40 nodes; hitting it indicates either a forced low " +
          s"cap or corrupt input ids.")
    val spark = edges.sparkSession

    // DISTRIBUTED level: recursive contraction. One propagation round
    // (each node takes the min over itself and its neighbours — an
    // exchange-free groupBy, the neighbours frame carries hash(node_id)
    // partitioning) plus pointer jumps to closure, then the graph
    // CONTRACTS to rep-level edges and the solve recurses on the
    // contracted graph. Each level merges every node with at least one
    // neighbour, so the node count at least halves per level, and in
    // practice one level shrinks the graph below the driver gate. Each
    // level pays ~2 full-frame shuffles (arXiv:1802.09478's alternating
    // contraction; the reference's fixpoint loop,
    // `connected_components.py:121-335`, pays 4 per round over the full
    // frame).
    //
    // Symmetric neighbour list (`connected_components.py:169-190`), both
    // directions from ONE explode over the leaf, hash-partitioned on
    // node_id: the loop re-joins this frame on node_id every round, so the
    // one exchange buys even partitions and co-location for those joins,
    // and it satisfies the dedupe's clustered distribution (all copies of
    // a pair share node_id), so the distinct runs in place.
    val symmetric = edges
      .select(explode(array(
        struct(col("src").as("node_id"), col("dst").as("neighbour")),
        struct(col("dst").as("node_id"), col("src").as("neighbour")))).as("e"))
      .select(col("e.node_id"), col("e.neighbour"))
      .filter(col("node_id") =!= col("neighbour"))
    // The whole loop inherits this exchange's partitioning: the edge
    // leaf's own task count, or the session's parallelism when fewer
    // tasks than cores would work on it.
    val leafTasks = math.max(1, Materialise.scanTasks(edges).toInt)
    val keyed = symmetric.repartition(Decide.widen(spark, "cc.partitions",
      leafTasks).getOrElse(leafTasks), col("node_id"))
    // MEASURED size: the counted leaf's block (or file) bytes, doubled by
    // the explode. It decides whether this level's frames stay on-heap
    // (the loop re-reads them every round; on-heap measured faster,
    // q_cluster 39.4 vs 46.9s at sf10) or go DISK_ONLY once they outgrow
    // the spill budget. Recursion levels re-decide on their contracted
    // size. A leaf with no cached block (an empty frame) has no readable
    // size and reads 0.
    val symmetricBytes =
      BigInt(Materialise.materialisedSizeBytes(edges).getOrElse(0L)) * 2
    val spillFrames = Decide.spill(spark, "cc.neighbours", symmetricBytes) ==
      Decide.Spill.DiskOnly
    // dedupe is skippable under the caller's distinct-pairs promise: a
    // single-orientation distinct input explodes to a duplicate-free
    // symmetric frame. EAGER, so the leaf it reads is dead at once.
    val neighbours = (if (assumeDistinctPairs) keyed else keyed.dropDuplicates())
      .breakLineage(eager = true, spillFrames)
    Materialise.release(edges)
    // rep := min(self, neighbours). The rep pointers form a FOREST (each
    // pointer strictly decreases the id, so no cycles); roots are local
    // minima.
    def level = if (spillFrames) org.apache.spark.storage.StorageLevel.DISK_ONLY
      else org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val reps0 = neighbours
      .groupBy("node_id")
      .agg(least(min(col("neighbour")), first(col("node_id"))).as("representative"))
      // the pointer-jump below joins this frame with ITSELF, and Spark
      // does not CSE across self-join branches — unpersisted, the groupBy
      // would run twice; released after the first jump materialises
      .persist(level)
    // Pointer-jump to CLOSURE (rep := rep(rep) until fixpoint): each jump
    // doubles the compressed distance, so every node reaches its tree
    // root in O(log depth) jumps — one cheap node-frame self-join each.
    // A single jump is NOT enough: a monotone path a1<a2<...<an leaves
    // rep chains of length n-2 after propagate+jump, and contracting then
    // recursing shrinks the graph by only ~2 hops per LEVEL (each level
    // pays full symmetric-dedupe machinery over a barely-smaller frame —
    // measured 4+ levels x ~30s on 13.5M path edges). Jumping to closure
    // collapses each tree in-level; the contracted graph (edges between
    // ROOTS) is then radically smaller — usually empty or driver-sized.
    // SETTLED/ACTIVE SPLIT: a row that does not move in a jump never
    // moves again — pointers are monotone non-increasing and self-bounded
    // (rep(t) <= t always), so "didn't move" means rep(rep(x)) == rep(x),
    // i.e. the row already points at a root, and roots are fixed under
    // jumping. Each jump therefore joins only the still-ACTIVE rows
    // (geometrically shrinking a-side sort + checkpoint write: total
    // write volume is sum(movers) + one all-nodes frame, instead of
    // jumps x all-nodes), while the lookup side stays the FULL pointer
    // table — settled nodes are still jump targets. Each jump's settled
    // slice is checkpointed SEPARATELY (slices are disjoint, so all of
    // them together cost one node-frame write): left as filter views
    // over the jump frames, every later jump's lookup side — and the
    // contraction's two joins — would re-SCAN all retained jump frames
    // and filter most rows away, a quadratically growing scan (measured
    // +13s on the sf10 jumps and +7s on its contraction). Only `active`
    // stays a view over the current jump frame, whose predecessor is
    // strong-released each jump.
    // The split pays its per-jump fixed costs (an extra job + fresh
    // codegen for the persist/split plans) only when the node frames are
    // big enough for write-volume savings to dominate (Decide.jumpSplit),
    // sized by the symmetric edge bound.
    val splitJumps = Decide.jumpSplit("cc.jumps", 2 * count) ==
      Decide.JumpSplit.Split
    // LATE-JUMP BROADCAST: a jump is a left join of `active` against the
    // full pointer table, so sort-merge exchanges the whole lookup side
    // even on the closing jumps (thousands of movers). When few rows enter
    // a jump (Decide.JumpLookupRows), the pointer table is semi-reduced by
    // a broadcast key-set of their rep targets and the reduced lookup is
    // itself broadcast: the same b-rows match, so the result is
    // bit-identical and the pointer table is scanned but never exchanged.
    // SPLIT PATH ONLY: under the whole-frame loop `active` IS the full
    // pointer table, so the semi-reduce reduces nothing and only adds two
    // driver round-trips per jump (measured 707 vs 241 tasks on the
    // forced-distributed 150k-node sf0.1 graph).
    val settledSlices = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var active: DataFrame = reps0
    // rows entering the next jump: movers under the split (counted on the
    // materialised active checkpoint), the constant node count otherwise
    // (reps0 is persisted — the count materialises the cache jump 1 reuses)
    var activeCount = if (splitJumps) -1L else reps0.count()
    def pointerTable: DataFrame =
      (settledSlices :+ active).reduce(_.unionByName(_))
    var jumping = true
    var jumps = 0
    var lastMovers = -1L
    while (jumping && jumps < maxJumps) {
      jumps += 1
      // Either path BREAKS LINEAGE into one flat plan leaf per frame,
      // under every policy, never a cached copy of the plan: the next jump
      // embeds the active plan in both join branches (immutable trees, no
      // sharing), so with a Dataset.persist the ANALYZED plan would double
      // per jump and driver-side analysis go exponential — measured on a
      // 2M-node forest needing 9 jumps: 1.5s, ..., 5s, 18s, 58s per jump
      // (2^9 x base analysis cost).
      val lookupAll = pointerTable.select(col("node_id").as("rep_node"),
        col("representative").as("rep_rep"))
      val lookup =
        if (splitJumps && activeCount >= 0 &&
            Decide.broadcast(spark, "cc.jump_lookup", activeCount,
              Decide.JumpLookupRows) == Decide.Broadcast.Broadcasted)
          broadcast(lookupAll.join(
            broadcast(active.select(col("representative").as("rep_key"))
              .distinct()),
            col("rep_node") === col("rep_key"), "left_semi"))
        else lookupAll
      val jPlan = active.alias("a")
        .join(lookup.alias("b"),
          col("a.representative") === col("rep_node"), "left")
        .select(col("a.node_id"),
          col("a.representative").as("__old_rep"),
          least(col("a.representative"),
            coalesce(col("rep_rep"), col("a.representative")))
            .as("representative"))
      val prevActive = active
      var movers = -1L
      if (splitJumps) {
        // Jump output TRANSIENTLY persisted, then split into two disjoint
        // flat checkpoints (settled slice + new active) and unpersisted:
        // two jobs, one join evaluation, write volume exactly the jump's
        // row count, and all later stages scan only clean slices.
        val j = jPlan.persist(level)
        settledSlices += j
          .filter(col("representative") === col("__old_rep"))
          .select(col("node_id"), col("representative"))
          .breakLineage(eager = true, spillFrames)
        active = j.filter(col("representative") =!= col("__old_rep"))
          .select(col("node_id"), col("representative"))
          .breakLineage(eager = true, spillFrames)
        j.unpersist(blocking = false)
        // termination probe doubles as the next jump's size signal: a
        // WIDE count over the already-materialised active checkpoint
        // (all partitions in one parallel wave — cached/scratch block
        // reads, no recomputation)
        activeCount = active.count()
        movers = activeCount
        jumping = activeCount > 0
      } else {
        // whole-frame jump: one checkpoint + one count job per jump
        val j = jPlan.breakLineage(spill = spillFrames)
        val m = j.filter(col("representative") =!= col("__old_rep")).count()
        movers = m
        jumping = m > 0
        active = j.select(col("node_id"), col("representative"))
      }
      // both halves / the new frame are on their own storage: the
      // previous active checkpoint (jump 1: the persisted propagation
      // frame) is dead
      if (jumps == 1) reps0.unpersist()
      else Materialise.release(prevActive)
      lastMovers = movers
    }
    if (jumping)
      // the loop exited at the cap (MaxJumps), not at fixpoint: the labels
      // below would be non-canonical, so fail loudly instead of returning
      throw new IllegalStateException(
        s"connected-components pointer-jump loop hit the jump cap " +
          s"($maxJumps jumps) with $lastMovers " +
          s"row(s) still moving: the labelling has not reached closure. " +
          s"The default cap covers pointer trees 2^40 deep; hitting it " +
          s"indicates either a forced low cap or corrupt input ids.")
    // split path: every row has settled (the final active frame is empty —
    // the cap case throws above). whole-frame path: settledSlices stays
    // empty and reps == active.
    val reps: DataFrame = pointerTable

    // Rep-level edges: endpoints mapped through reps, intra-cluster edges
    // dropped. Each UNDIRECTED edge is processed once (node_id < neighbour
    // halves the symmetric frame through both joins; the recursive call's
    // own explode re-symmetrises). First join is co-located on node_id;
    // the neighbour-keyed join is the level's one unavoidable reshuffle.
    // MATERIALISED and counted here: the count is the recursion's edge
    // count, so the next level neither breaks nor counts it again, and the
    // EMPTY case — every edge internal to one pointer tree, i.e.
    // components == trees, the common outcome for path/tree-like graphs
    // once jumps run to closure — skips the sub-solve AND the
    // whole-node-frame compose join below (measured ~40% of the level's
    // wall time on 13.5M path edges).
    val contracted =
      neighbours.filter(col("node_id") < col("neighbour")).alias("e")
        .join(reps.alias("rl"), col("e.node_id") === col("rl.node_id"))
        .join(reps.alias("rr"), col("e.neighbour") === col("rr.node_id"))
        .filter(col("rl.representative") =!= col("rr.representative"))
        .select(col("rl.representative").as("src"),
          col("rr.representative").as("dst"))
        .breakLineage(spill = spillFrames)
    // wide count(), not isEmpty: executeTake(1) would materialise the
    // just-checkpointed frame in serial 1/4/16-partition waves exactly in
    // the empty case (same fix as the jump probe above)
    val contractedCount = contracted.count()
    // the contraction is on disk/cache now, so the symmetric neighbour
    // frame is fully consumed — reclaim its scratch AND blocks immediately
    // (the jump frames are checkpoint-backed, so nothing recomputes
    // through neighbours); without this a long-lived cluster session
    // accumulates one ~2x-edge-list copy per solve per level
    Materialise.release(neighbours)
    val out =
      // single tree per component: the root IS the component minimum (the
      // min m of a component has no smaller neighbour, so rep(m)=m makes
      // m a root; with no cross-tree edge the component's one root is m),
      // so reps is already the canonical labelling — return it directly.
      if (contractedCount == 0) {
        Materialise.release(contracted)
        reps
      } else {
        // the sub-solve owns contracted and releases it once consumed
        val sub = solveLeaf(contracted, contractedCount, false, maxJumps,
          depth + 1, maxLevels)
        // compose: final label = sub-solution of the node's rep; reps with
        // no cross-cluster edge never reach the contracted graph and keep
        // their (already canonical) label. The compose is MATERIALISED
        // before returning: run()'s callers self-join its output (cluster
        // metrics, multi-threshold reuse), and Catalyst's size-only join
        // stats SQUARE per composition level — an unmaterialised
        // D-level nested join chain under a caller's join tree produces
        // BigInt size estimates with 2^k-scale digit counts and pins the
        // driver in ToomCook multiplication during planning. A flat
        // checkpointed frame keeps every caller's plan linear; the cost
        // (one N_L-row materialisation per level) shrinks geometrically
        // with depth.
        // EAGER: the compose must be on disk/in blocks before the strong
        // releases below drop what it reads (reps + sub)
        val composed = reps.alias("r")
          .join(sub.alias("s"), col("r.representative") === col("s.node_id"),
            "left")
          .select(col("r.node_id"),
            coalesce(col("s.cluster_id"), col("r.representative"))
              .as("representative"))
          .breakLineage(eager = true, spillFrames)
        // the compose supersedes the settled-slice and active checkpoints
        // (reps is their union) AND the recursion's returned labelling
        // (sub — release reads through its projection and the union of its
        // own slices); reclaim them now. In the empty path reps IS
        // the output, so only this branch may release the slices.
        Seq(reps, sub).foreach(Materialise.release)
        composed
      }
    out.select(col("node_id"), col("representative").as("cluster_id"))
  }

  /** Small-graph path: collect the two-column edge list and solve with
    * path-compressed union-find on the driver. Self-loops and
    * null-endpoint rows are skipped so a node with only such edges stays
    * absent from the output, exactly as the distributed level's
    * `node =!= neighbour` filter drops them. */
  private def driverUnionFind(source: DataFrame): DataFrame = {
    val spark = source.sparkSession
    val rows = source.collect().iterator.filter(r =>
      !r.isNullAt(0) && !r.isNullAt(1) && r.get(0) != r.get(1))
    // union-find over an index space to support any node-id type
    val index = scala.collection.mutable.HashMap.empty[Any, Int]
    val values = scala.collection.mutable.ArrayBuffer.empty[Any]
    def idx(v: Any): Int = index.getOrElseUpdate(v, {
      values += v; values.size - 1 })
    val pairs = rows.map(r => (idx(r.get(0)), idx(r.get(1)))).toArray
    val parent = Array.tabulate(values.size)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // canonical label = min node id in the component (ids may be any
    // ordered type; compare via the ordering induced by Spark's sort)
    val byRoot = scala.collection.mutable.HashMap.empty[Int, Any]
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Long, y: Long) => x < y
      case (x: Int, y: Int) => x < y
      case (x: String, y: String) => x < y
      case (x: java.lang.Number, y: java.lang.Number) =>
        x.doubleValue < y.doubleValue
      case _ => a.toString < b.toString
    }
    values.indices.foreach { i =>
      val root = find(i)
      val v = values(i)
      if (!byRoot.contains(root) || lt(v, byRoot(root))) byRoot(root) = v
    }
    driverLabels(spark, "cc.labels", values.indices.map(i =>
      Row(values(i), byRoot(find(i)))),
      source.schema.head.dataType)
  }

  /** A labelling solved on the driver, as a (node_id, cluster_id) frame:
    * a parallelized RDD, not a LocalRelation. A LocalRelation this size
    * embeds every row in the plan, scans single-partition, and re-pays
    * driver-side conversion per action — measured 2.4x slower downstream
    * than letting the cluster-metrics joins shuffle the distributed frame.
    * Driver-held rows are one task as they stand, so [[Decide.widen]]
    * (`what`) spreads them over the session's parallelism. */
  private[clustering] def driverLabels(spark: SparkSession, what: String,
      rows: Seq[Row], idType: DataType): DataFrame = {
    val schema = StructType(Seq(StructField("node_id", idType),
      StructField("cluster_id", idType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows,
      Decide.widen(spark, what, 1).getOrElse(1)), schema)
  }

  /** Cluster nodes at a match-probability threshold and join assignments
    * back onto the node frame (reference
    * `linker_components/clustering.py:43-179`). Singleton nodes (no edge at
    * or above threshold) keep their own id as cluster id. */
  def clusterAtThreshold(nodes: DataFrame, edges: DataFrame, uidCol: String,
      threshold: Double): DataFrame = {
    val strong = edges.filter(col("match_probability") >= threshold)
    // predict emits each pair once with id_l < id_r (blocking's pairwise
    // dedupe), so the solve may skip the symmetric dedupe aggregate
    val assignments = run(strong, s"${uidCol}_l", s"${uidCol}_r",
      assumeDistinctPairs = true)
    nodes.alias("n")
      .join(assignments.alias("c"), col(s"n.$uidCol") === col("c.node_id"), "left")
      .withColumn("cluster_id", coalesce(col("c.cluster_id"), col(s"n.$uidCol")))
      .drop("node_id")
  }
}
