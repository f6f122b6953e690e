package graft.clustering

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
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
 * Every iteration breaks lineage via [[graft.operators.Materialise]]
 * (policy-selectable: localCheckpoint locally, parquet/checkpoint on a
 * cluster) — without lineage breaks the plan
 * doubles per round (the reference persists each iteration for the same
 * reason, `spark/database_api.py:292-311`). The exit condition costs one
 * `isEmpty` action per round, mirroring the reference's count query.
 */
object ConnectedComponents {

  /** Cap on pointer jumps per level. Each jump doubles the compressed
    * pointer depth, so 40 covers trees 2^40 deep, unreachable from real
    * data; exiting the loop with movers left fails loudly. */
  val MaxJumps: Int = 40

  /**
   * @param edges frame with two node-id columns (self-loops and duplicates ok)
   * @param assumeDistinctPairs caller-declared hint that `edges` holds
   *        each undirected pair at most once, in one orientation (true
   *        for predict outputs — blocking emits `id_l < id_r` pairs once —
   *        and for lag/window-derived consecutive-row edges). Skips the
   *        symmetric frame's dedupe aggregate; purely a performance hint —
   *        a violated promise only means duplicate edges flow through the
   *        solve (min-propagation, jumps and contraction are all
   *        duplicate-insensitive), never a wrong labelling.
   * @param smallGraphThreshold symmetric-edge count up to which a level
   *        is solved on the driver (collect + union-find); -1 leaves it to
   *        [[graft.operators.Decide.collect]]'s heap-clamped default
   * @return DataFrame(node_id, cluster_id), one row per node that appears
   *         in any edge; cluster_id = min node id in the component.
   */
  def run(edges: DataFrame, srcCol: String = "unique_id_l",
      dstCol: String = "unique_id_r", maxIterations: Int = 60,
      eager: Boolean = false,
      smallGraphThreshold: Long = -1L,
      assumeDistinctPairs: Boolean = false): DataFrame =
    solve(edges, srcCol, dstCol, maxIterations, eager, smallGraphThreshold,
      assumeDistinctPairs, MaxJumps)

  private[graft] def solve(edges: DataFrame, srcCol: String, dstCol: String,
      maxIterations: Int, eager: Boolean, smallGraphThreshold: Long,
      assumeDistinctPairs: Boolean, maxJumps: Int): DataFrame = {
    val spark = edges.sparkSession
    // Already-materialised input (a lineage break or local relation under
    // views, Materialise.isMaterialised): the count and the driver collect both
    // re-read it for near-free, so the symmetric-explode / exchange /
    // dedupe / checkpoint machinery below is pure overhead on small graphs
    // (union-find needs neither symmetry nor dedupe). Unmaterialised
    // pipelines keep the symmetric path, which evaluates them once. The
    // raw path needs one shared id type (the symmetric path coerces mixed
    // types via explode(array)).
    if (edges.schema(srcCol).dataType == edges.schema(dstCol).dataType &&
        Materialise.isMaterialised(edges)) {
      val raw = edges.select(col(srcCol), col(dstCol))
      val rawCount = raw.count()
      // symmetric+deduped count <= 2*raw count: never a too-big graph to
      // the driver, at worst a borderline one to the distributed loop
      if (Decide.collect("cc.raw_edges", rawCount * 2, Decide.GraphEdges,
          smallGraphThreshold) == Decide.Collect.Driver)
        return driverUnionFind(raw)
    }

    // Symmetric neighbour list (`connected_components.py:169-190`),
    // hash-partitioned on node_id to the Neighbours role count
    // (`spark/database_api.py:261`, `__splink__df_neighbours` ÷4) before
    // the checkpoint: the loop re-joins this frame on node_id every round,
    // so the one exchange buys both even materialised partitions and
    // co-location for those joins.
    // One exchange does both: HashPartitioning(node_id) satisfies the
    // dedupe's clustered distribution (all copies of a pair share node_id),
    // so the distinct runs in-place on the role-partitioned frame.
    // Both directions come from ONE explode over a single scan — a
    // `fwd UNION ALL bwd` plan evaluates the upstream edge plan twice
    // (Spark does not CSE across union branches), which doubles the cost
    // of every caller whose edges are an unmaterialised join pipeline
    // (minhash-LSH candidates, predict output).
    val symmetric = edges
      .select(explode(array(
        struct(col(srcCol).as("node_id"), col(dstCol).as("neighbour")),
        struct(col(dstCol).as("node_id"), col(srcCol).as("neighbour")))).as("e"))
      .select(col("e.node_id"), col("e.neighbour"))
      .filter(col("node_id") =!= col("neighbour"))
    // SIZE-FLOORED key exchange: the Neighbours role (÷4) alone collapses
    // to 4 partitions at 32 shuffle partitions, and since the whole loop
    // (propagation groupBy, contraction's node-keyed join) inherits this
    // partitioning exchange-free, an under-sized exchange serialises the
    // heaviest aggregates onto a few cores. The optimizer's size estimate
    // of the INPUT plan is the signal — x2 for the symmetric explode and
    // x4 because file-source stats are COMPRESSED bytes while the
    // exchange moves decompressed unsafe rows (encoded parquet
    // longs/strings expand ~4x into row format). Unknown-size checkpoint
    // inputs estimate high and simply keep the session's parallelism.
    val inputBytes =
      try edges.queryExecution.optimizedPlan.stats.sizeInBytes * 8
      catch { case _: Exception => BigInt(0) }
    val keyed = graft.operators.Repartition
      .sizedByKeys(symmetric, graft.operators.Repartition.Neighbours,
        inputBytes, col("node_id"))
    // dedupe is skippable under the caller's distinct-pairs promise: a
    // single-orientation distinct input explodes to a duplicate-free
    // symmetric frame, so the in-place aggregate would be pure cost
    //
    // ON-HEAP vs DISK_ONLY blocks per level: the loop re-reads these
    // frames every round, so on-heap measured faster (q_cluster 39.4 vs
    // 46.9s at sf10) until the estimated symmetric frame (x2 the input)
    // outgrows the spill budget; then every frame of this LEVEL goes
    // DISK_ONLY, and recursion levels re-decide on their contracted size.
    var spillFrames = Decide.spill(spark, "cc.symmetric_estimate",
      inputBytes * 2) == Decide.Spill.DiskOnly
    var neighbours = (if (assumeDistinctPairs) keyed else keyed.dropDuplicates())
      .breakLineage(eager, spillFrames)

    val edgeCount = neighbours.count()
    if (Decide.collect("cc.edges", edgeCount, Decide.GraphEdges,
        smallGraphThreshold) == Decide.Collect.Driver) {
      val solved = driverUnionFind(neighbours)
      // the collect fully consumed the symmetric frame; the output is a
      // driver-parallelized RDD with no reference to it
      Materialise.release(neighbours)
      return solved
    }

    // DISTRIBUTED level: recursive contraction. One propagation round
    // (each node takes the min over itself and its neighbours — an
    // exchange-free groupBy, the checkpointed neighbours frame already
    // carries hash(node_id) partitioning) plus one pointer jump
    // (rep := min(rep, rep(rep))), then the graph CONTRACTS to rep-level
    // edges and the whole solve recurses on the contracted graph. Each
    // level merges every node with at least one neighbour, so the node
    // count at least halves per level (<= log2 N levels), and in practice
    // one level shrinks the graph below the driver gate. Each level pays
    // ~2 full-frame shuffles (arXiv:1802.09478's alternating contraction;
    // the reference's fixpoint loop, `connected_components.py:121-335`,
    // pays 4 per round over the full frame).
    // exact post-count spill decision (~48B per stored row of two longs):
    // catches CHECKPOINT-fed inputs whose stats were unknown. The one-time
    // re-break writes the on-heap checkpoint DISK_ONLY and frees the heap
    // copy before the first aggregate needs the execution pool.
    if (!spillFrames && Decide.spill(spark, "cc.edges",
        BigInt(edgeCount) * 48) == Decide.Spill.DiskOnly) {
      spillFrames = true
      val offHeap = neighbours.breakLineage(eager = true, spill = true)
      Materialise.release(neighbours)
      neighbours = offHeap
    }
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
    // big enough for write-volume savings to dominate (Decide.jumpSplit).
    val splitJumps = Decide.jumpSplit("cc.jumps", edgeCount) ==
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
        val j = jPlan.breakLineage(eager, spillFrames)
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
    // MATERIALISED here: the recursion would evaluate this pipeline anyway
    // (its own symmetric+count), a flat frame lets the non-empty case hit
    // the raw driver-gate probe directly, and the EMPTY case — every edge
    // internal to one pointer tree, i.e. components == trees, the common
    // outcome for path/tree-like graphs once jumps run to closure — can
    // skip the sub-solve AND the whole-node-frame compose join below
    // (measured ~40% of the level's wall time on 13.5M path edges).
    val contracted =
      neighbours.filter(col("node_id") < col("neighbour")).alias("e")
        .join(reps.alias("rl"), col("e.node_id") === col("rl.node_id"))
        .join(reps.alias("rr"), col("e.neighbour") === col("rr.node_id"))
        .filter(col("rl.representative") =!= col("rr.representative"))
        .select(col("rl.representative").as("rep_l"),
          col("rr.representative").as("rep_r"))
        .breakLineage(eager, spillFrames)
    // wide count(), not isEmpty: executeTake(1) would materialise the
    // just-checkpointed frame in serial 1/4/16-partition waves exactly in
    // the empty case (same fix as the jump probe above)
    val contractedEmpty = contracted.count() == 0
    // the contraction is on disk/cache now, so the symmetric neighbour
    // frame is fully consumed — reclaim its scratch AND blocks immediately
    // (the jump frames are checkpoint-backed, so nothing recomputes
    // through neighbours); without this a long-lived cluster session
    // accumulates one ~2x-edge-list copy per solve per level
    Materialise.release(neighbours)
    val out =
      if (maxIterations <= 1) reps // safety valve, mirrors the old loop cap
      else if (contractedEmpty) reps
      // single tree per component: the root IS the component minimum (the
      // min m of a component has no smaller neighbour, so rep(m)=m makes
      // m a root; with no cross-tree edge the component's one root is m),
      // so reps is already the canonical labelling — return it directly.
      else {
        val sub = solve(contracted, "rep_l", "rep_r", maxIterations - 1,
          eager, smallGraphThreshold, false, maxJumps)
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
        // (reps is their union), contracted, AND the recursion's returned
        // labelling (sub — release reads through its role repartition and
        // the union of its own slices); reclaim all of them now. In the
        // empty/valve paths reps IS the output, so only this branch may
        // release the slices.
        Seq(reps, contracted, sub).foreach(Materialise.release)
        composed
      }
    // empty/valve paths never handed contracted to a consumer — the count
    // above fully evaluated it, so its scratch and blocks are reclaimable
    if (maxIterations <= 1 || contractedEmpty)
      Materialise.release(contracted)
    // The role resize (`__splink__clusters_at_*` ÷10) collapses the join
    // partitioning to a sane count for the caller's write / re-join —
    // SIZE-FLOORED so a many-million-node labelling never squeezes into a
    // couple of tasks (output rows <= 2 x edgeCount, ~32B per unsafe row
    // of two longs), and via COALESCE when it only shrinks: `out` is a
    // materialised checkpoint, so the narrow dependency replaces a
    // full-frame round-robin exchange.
    graft.operators.Repartition.sizedShrink(
      out.select(col("node_id"), col("representative").as("cluster_id")),
      graft.operators.Repartition.ClusteringOutput, 2 * edgeCount * 32)
  }

  /** Small-graph fast path: collect the two-column edge list (raw or
    * symmetric) and solve with path-compressed union-find on the driver.
    * Union-find is direction- and duplicate-insensitive; self-loops and
    * null-endpoint rows are skipped so a node with only such edges stays
    * absent from the output, exactly as the symmetric path's
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
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node_id",
        source.schema.head.dataType),
      org.apache.spark.sql.types.StructField("cluster_id",
        source.schema.head.dataType)))
    val out = values.indices.map(i =>
      org.apache.spark.sql.Row(values(i), byRoot(find(i))))
    // Parallelized RDD, not a LocalRelation: a LocalRelation this size
    // embeds every row in the plan, scans single-partition, and re-pays
    // driver-side conversion per action — measured 2.4x slower downstream
    // than letting the cluster-metrics joins shuffle the distributed frame.
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.toSeq,
        math.max(1, spark.sparkContext.defaultParallelism / 4)), schema)
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
