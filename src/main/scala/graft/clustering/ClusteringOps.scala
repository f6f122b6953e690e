package graft.clustering

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
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
   * One-to-one clustering: iteratively merge links that are the highest-
   * probability link for BOTH endpoints (`one_to_one_clustering.py:229-234`
   * uses the same rank-1-both-sides window). Ties break on lowest
   * neighbour id. Each round removes matched nodes and repeats, so a node
   * never lands in two pairs; remaining nodes stay singletons.
   *
   * (The reference additionally enforces at-most-one-record-per-
   * duplicate-free-dataset inside a cluster; with two datasets the mutual
   * rank-1 rule implies it.)
   */
  def oneToOne(edges: DataFrame, srcCol: String = "unique_id_l",
      dstCol: String = "unique_id_r",
      probCol: String = "match_probability",
      maxRounds: Int = 10)
      : DataFrame = {
    var remaining = edges.select(col(srcCol).as("a"), col(dstCol).as("b"),
      col(probCol).as("p")).filter(col("a") =!= col("b")).breakLineage()
    // adaptive small-input fast path (same strategy pick as CC);
    // long ids only — other id types take the distributed loop
    if (remaining.schema("a").dataType == org.apache.spark.sql.types.LongType &&
        Decide.collect("one_to_one.edges", remaining.count(),
          Decide.GraphEdges) == Decide.Collect.Driver)
      return driverOneToOne(remaining, maxRounds)
    val matched = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      round += 1
      val sym = remaining.unionByName(
        remaining.select(col("b").as("a"), col("a").as("b"), col("p")))
      // best neighbour per node as a HASH AGGREGATE, not a sort window:
      // min_by over struct(-p, b) is ORDER BY p DESC, b ASC rank-1
      // (lexicographic min = largest p then smallest id, generic over the
      // id type; null AND NaN p coalesced to -Inf — both mean "no usable
      // probability" and rank last; nanvl keeps the aggregate's ordering
      // aligned with the driver path, where a raw desc() window would
      // instead rank NaN greatest). Partial aggregation combines map-side
      // so the exchange carries one row per node, and the full-frame sort
      // disappears.
      val best = sym.groupBy(col("a"))
        .agg(min_by(col("b"), struct(
          -coalesce(nanvl(col("p"), lit(Double.NegativeInfinity)),
            lit(Double.NegativeInfinity)),
          col("b"))).as("b"))
      // mutual: (a -> b) and (b -> a) both rank-1 — as ONE aggregate on
      // the unordered pair key, not a self-join: best has exactly one row
      // per node, so the only rows a group {u, v} can hold are (u -> v)
      // and (v -> u), and count = 2 is precisely mutuality. Replaces the
      // sort-merge self-join (two exchanges + a persist of the rank
      // frame) with a single exchange of one row per node.
      val mutual = best
        .groupBy(least(col("a"), col("b")).as("ka"),
          greatest(col("a"), col("b")).as("kb"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") === 2)
        .select(col("ka").as("a"), col("kb").as("b"))
        .breakLineage()
      // wide count() probes, not isEmpty: executeTake(1) materialises a
      // just-checkpointed frame in incremental 1/4/16-partition waves —
      // serial exactly on the closing round where the frame IS empty and
      // every partition must be evaluated (see ConnectedComponents' jump
      // loop). Both frames get fully consumed when non-empty, so the
      // count is never wasted work.
      val anyMutual = mutual.count() > 0
      if (!anyMutual) done = true
      else {
        matched += mutual
        val used = mutual.select(col("a").as("n"))
          .unionByName(mutual.select(col("b").as("n")))
        val prevRemaining = remaining
        remaining = remaining
          .join(used.withColumnRenamed("n", "__a"), col("a") === col("__a"), "left_anti")
          .join(used.withColumnRenamed("n", "__b"), col("b") === col("__b"), "left_anti")
          .breakLineage()
        if (remaining.count() == 0) done = true
        // the count above materialised the successor frame — the
        // superseded round's blocks are strong-releasable (mutual frames
        // stay: the final union reads them)
        Materialise.release(prevRemaining)
      }
    }
    if (matched.isEmpty) {
      // empty frame typed from the INPUT id type (string/int ids must not
      // come back as long — downstream unions would fail)
      val idType = remaining.schema("a").dataType
      edges.sparkSession.emptyDataFrame
        .withColumn("node_id", lit(null).cast(idType))
        .withColumn("cluster_id", lit(null).cast(idType))
        .limit(0)
    } else {
      val pairs = matched.reduce(_.unionByName(_))
      pairs.select(col("a").as("node_id"), col("a").as("cluster_id"))
        .unionByName(pairs.select(col("b").as("node_id"), col("a").as("cluster_id")))
    }
  }

  /** Driver-side mutual-best matching, identical round semantics to the
    * distributed loop (rank by p desc then lowest id; drop matched nodes;
    * repeat). */
  private def driverOneToOne(remaining: DataFrame, maxRounds: Int): DataFrame = {
    val spark = remaining.sparkSession
    // null/NaN probability ranks LAST under the distributed aggregate
    // (both coalesced to -Inf there) — mirror it here, don't NPE
    var edges = remaining.collect().map { r =>
      val p = if (r.isNullAt(2)) Double.NaN else r.getDouble(2)
      (r.getLong(0), r.getLong(1),
        if (p.isNaN) Double.NegativeInfinity else p)
    }
    // the collect fully consumed the loop-owned materialised edge frame
    Materialise.release(remaining)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var round = 0
    var done = false
    while (round < maxRounds && !done && edges.nonEmpty) {
      round += 1
      val sym = edges ++ edges.map { case (a, b, p) => (b, a, p) }
      val best = sym.groupBy(_._1).map { case (a, es) =>
        a -> es.minBy(e => (-e._3, e._2))._2
      }
      val mutual = best.collect {
        case (a, b) if a < b && best.get(b).contains(a) => (a, b)
      }.toSeq
      if (mutual.isEmpty) done = true
      else {
        out ++= mutual
        val used = mutual.flatMap(m => Seq(m._1, m._2)).toSet
        edges = edges.filterNot(e => used(e._1) || used(e._2))
      }
    }
    val rows = out.flatMap { case (a, b) => Seq((a, a), (b, a)) }
    import spark.implicits._
    rows.toSeq.toDF("node_id", "cluster_id")
  }

  /**
   * One-to-one clustering with the duplicate-free-dataset constraint
   * (`one_to_one_clustering.py:103-336`): clusters grow by merging the
   * mutually-best linked cluster pair each round, but only when the two
   * clusters contain no records from a common source dataset — so a
   * cluster never holds two records of any dataset listed as
   * duplicate-free. Needed for >2 datasets; for two datasets
   * [[oneToOne]] is equivalent and cheaper.
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
   *        (the pre-existing behaviour)
   */
  def oneToOneConstrained(edges: DataFrame, nodeDatasets: DataFrame,
      srcCol: String = "unique_id_l", dstCol: String = "unique_id_r",
      probCol: String = "match_probability", maxRounds: Int = 10,
      duplicateFreeDatasets: Option[Seq[String]] = None,
      tiesMethod: String = "lowest_id")
      : DataFrame = {
    require(Seq("lowest_id", "drop").contains(tiesMethod),
      "ties_method must be one of 'drop', or 'lowest_id'")
    // materialise the caller's edge pipeline ONCE before tie handling:
    // dropTies reads its input several times (symmetric explode, tie
    // aggregate, the final semi-join), and each read of an unmaterialised
    // predict pipeline would re-run the whole scoring job
    // spilled: the edge frame (and every other full-width checkpoint in
    // this loop) stays alive across several joins/aggregates — on-heap
    // blocks at 13M+ rows were measured as 462s of task GC (46% of run
    // time) on the forced-distributed sf10 bench entry
    val e0raw = edges.select(col(srcCol).as("na"), col(dstCol).as("nb"),
      col(probCol).as("p")).filter(col("na") =!= col("nb"))
      .breakLineage(spill = true)
    // only the duplicate-free datasets constrain merges
    // (`clustering.py:201-202`: "This can be a subset of all of the source
    // datasets"); other datasets may repeat inside a cluster freely
    val constraining = broadcastIfFits("one_to_one.node_datasets",
      duplicateFreeDatasets match {
        case Some(ds) => nodeDatasets.filter(col("source_dataset").isin(ds: _*))
        case None => nodeDatasets
      })
    // adaptive small-input fast path (same strategy pick as CC/oneToOne):
    // the round loop costs ~6 scheduled actions per round distributed —
    // and the tie-drop another ~8 — while under the threshold the whole
    // solve (tie-drop included) fits driver memory
    val longIds = Seq(e0raw.schema("na"), e0raw.schema("nb"),
        nodeDatasets.schema("node_id"))
      .forall(_.dataType == org.apache.spark.sql.types.LongType) &&
      e0raw.schema("p").dataType == org.apache.spark.sql.types.DoubleType
    val probedEdges = if (longIds) e0raw.count() else -1L
    if (longIds && Decide.collect("one_to_one_constrained.edges", probedEdges,
        Decide.GraphEdges) == Decide.Collect.Driver)
      return driverOneToOneConstrained(e0raw, nodeDatasets,
        duplicateFreeDatasets, tiesMethod, maxRounds)
    // Count-based broadcast decision for frames sized BY the edge count
    // (the tie-kept combos): the gate probe already paid for an exact
    // count, and the loop's checkpoints carry no optimizer stats. Without
    // a count (non-long ids) the side shuffles.
    val pairsBroadcastOk = probedEdges >= 0 &&
      Decide.broadcast(edges.sparkSession, "one_to_one_constrained.pairs",
        probedEdges, Decide.PairRows) == Decide.Broadcast.Broadcasted
    // isDupFree as a Column predicate (shared by dropTies and the round-1
    // pair-level constraint below)
    val isDupFreeCol: Column => Column = duplicateFreeDatasets match {
      case Some(ds) => c => c.isin(ds: _*)
      case None => _ => lit(true)
    }
    val (e0, invalid1) = tiesMethod match {
      case "drop" =>
        // dropTies materialises its own outputs, so the raw edge frame —
        // whose last distributed-path consumer it is — is strong-releasable
        val (d, iv) = dropTies(e0raw, nodeDatasets, isDupFreeCol,
          pairsBroadcastOk)
        Materialise.release(e0raw)
        (d, iv)
      case _ =>
        // round-1 invalid pairs (endpoints sharing a duplicate-free
        // dataset) straight from the constraining table; single lazy
        // consumer, so no materialisation
        val iv = e0raw.alias("s")
          .join(constraining.alias("dl"), col("s.na") === col("dl.node_id"))
          .join(constraining.alias("dr"), col("s.nb") === col("dr.node_id"))
          .filter(col("dl.source_dataset") === col("dr.source_dataset"))
          .select(col("s.na"), col("s.nb"))
        (e0raw, iv)
    }
    // LAZY: the initial identity membership is only ever read as the
    // final output when NO merge round lands — a merge round derives the
    // node universe from the rank aggregate instead (one row per node by
    // construction, so the full-width union+distinct here never runs)
    var membership = e0.select(col("na").as("node_id"))
      .unionByName(e0.select(col("nb").as("node_id")))
      .distinct()
      .withColumn("rep", col("node_id"))
    // Cluster-level dataset sets, maintained INCREMENTALLY from round 2
    // on: built once from the post-round-1 membership, then each accepted
    // merge re-keys the absorbed cluster's row to the absorber and unions
    // the two arrays — a cluster-count-sized aggregate per round instead
    // of a corpus-sized join (the driver fast path keeps the same
    // invariant in its index arrays). Round 1 needs no sets at all: its
    // clusters are single nodes, so the constraint collapses to the
    // pair-level invalid1 anti-join below — a one-round run (common for
    // the reference's default) never pays a set build.
    var clusterSets: DataFrame = null
    // Cluster-level candidate edges, ALSO maintained incrementally: round
    // 1 starts from the node-level edges verbatim (initial membership is
    // the identity, so the reference's membership re-join would be an
    // identity join); each later round rewrites the surviving edges'
    // endpoints through the merge map. Dropping an edge is PERMANENT and
    // sound because cluster dataset sets only ever grow: an edge whose
    // endpoint sets overlap at round k overlaps at every later round
    // (both clusters' sets are supersets by then), and an intra-cluster
    // edge stays intra-cluster — so re-deriving candidates from the full
    // node-level frame every round (the from-scratch formulation) yields
    // exactly this surviving multiset.
    var ce: DataFrame =
      e0.select(col("na").as("ra"), col("nb").as("rb"), col("p"))
    var round = 0
    var done = false
    // true once membership is a loop-owned checkpoint (>= 1 merge round):
    // only then is the output independent of e0 and the exit releases safe
    var membershipMaterialised = false
    while (round < maxRounds && !done) {
      round += 1
      // the dataset-disjointness constraint applies BEFORE best-rank
      // selection: an invalid merge does not consume a cluster's "best
      // link" — the next-best valid cluster can still win (reference
      // filters invalid merges out of the candidate set,
      // `one_to_one_clustering.py:203-246`).
      if (round >= 2 && clusterSets == null) {
        // deferred init (see the declaration comment): membership is the
        // post-round-1 checkpoint here, so the sets carry round 1's merges
        clusterSets = membership.alias("m")
          .join(constraining.alias("d"), col("m.node_id") === col("d.node_id"))
          .groupBy(col("m.rep").as("r"))
          .agg(collect_set(col("d.source_dataset")).as("ds"))
          .breakLineage(eager = true)
      }
      // Round 1: single-node clusters — the constraint is exactly "the
      // endpoints share no duplicate-free dataset", a pair-level lookup
      // against the precomputed invalid pairs (no set arrays involved).
      // Kept as a LEFT join with a `bad` flag rather than an anti-join:
      // the round-1 rank aggregate doubles as the output's node
      // UNIVERSE, and a node whose EVERY edge is invalid still owns an
      // output row (singleton) — it must reach the aggregate. Flagged
      // edges rank after every valid edge (boolean false < true leads
      // the min_by key) and are filtered out of merge candidacy, so
      // merge semantics are untouched. Duplicate invalid-combo rows
      // only ever duplicate `bad` rows, which neither the rank, the
      // merge filter, nor the groupBy universe can observe.
      // Later rounds: left joins + empty-set default — a cluster
      // holding no record from any duplicate-free dataset constrains
      // nothing (universe = the maintained membership there).
      val noDs = array().cast("array<string>")
      val flagged1: DataFrame =
        if (round != 1) null
        else {
          val f = ce.alias("e").join(invalid1.alias("iv"),
              col("e.ra") === col("iv.na") && col("e.rb") === col("iv.nb"),
              "left")
            .select(col("e.ra"), col("e.rb"), col("e.p"),
              col("iv.na").isNotNull.as("bad"))
          // two consumers while the loop continues (the eager valid
          // checkpoint and the rank aggregate); the final round's single
          // consumer chain streams instead
          if (round < maxRounds) f.breakLineage(spill = true) else f
        }
      val validPlan =
        if (round == 1)
          flagged1.filter(!col("bad")).select(col("ra"), col("rb"), col("p"))
        else ce.alias("e")
          .join(clusterSets.alias("sa"), col("e.ra") === col("sa.r"), "left")
          .join(clusterSets.alias("sb"), col("e.rb") === col("sb.r"), "left")
          .filter(!arrays_overlap(coalesce(col("sa.ds"), noDs),
            coalesce(col("sb.ds"), noDs)))
          .select(col("e.ra"), col("e.rb"), col("e.p"))
      // eager ONLY while the loop continues (the post-merge endpoint
      // rewrite re-reads it); on the final round its one consumer is the
      // persisted rank frame, which materialises it exactly once anyway
      val valid =
        if (round < maxRounds) validPlan.breakLineage(eager = true, spill = true)
        else validPlan
      // symmetric via one explode: a union would evaluate the input
      // twice. Round 1 explodes the FLAGGED frame (bad rows ride along
      // so their nodes reach the universe); later rounds the valid one.
      val sym =
        if (round == 1) flagged1.select(explode(array(
            struct(col("ra"), col("rb"), col("p"), col("bad")),
            struct(col("rb").as("ra"), col("ra").as("rb"), col("p"),
              col("bad")))).as("e"))
          .select(col("e.ra"), col("e.rb"), col("e.p"), col("e.bad"))
        else valid.select(explode(array(
            struct(col("ra"), col("rb"), col("p")),
            struct(col("rb").as("ra"), col("ra").as("rb"), col("p")))).as("e"))
          .select(col("e.ra"), col("e.rb"), col("e.p"))
      // best neighbour per cluster as a HASH AGGREGATE, not a sort window:
      // min_by over struct(-p, rb) reproduces ORDER BY p DESC, rb ASC
      // rank-1 exactly (lexicographic min = largest p, then smallest id;
      // null AND NaN p coalesced to -Inf — missing probability ranks
      // last, and nanvl keeps this aggregate consistent with the driver
      // path). The partial aggregate combines map-side, so the
      // exchange carries one row per cluster instead of the whole
      // symmetric edge frame, and the full-frame sort disappears.
      val rankP = -coalesce(nanvl(col("p"), lit(Double.NegativeInfinity)),
        lit(Double.NegativeInfinity))
      // Round 1 only: the rank output doubles as the NODE UNIVERSE for
      // the membership update (exactly one row per node by groupBy
      // construction), so it goes through a checkpoint both consumers
      // read — this is what lets round 1 skip a full-width
      // union+distinct over the edge frame entirely. Later rounds'
      // universe is the maintained membership; their rank frame has one
      // consumer and stays a streaming plan.
      val best =
        if (round == 1) sym.groupBy(col("ra"))
          .agg(min_by(struct(col("rb"), col("bad")),
            struct(col("bad"), rankP, col("rb"))).as("b"))
          .select(col("ra"), col("b.rb").as("rb"), col("b.bad").as("bad"))
          .breakLineage(spill = true)
        else sym.groupBy(col("ra"))
          .agg(min_by(col("rb"), struct(rankP, col("rb"))).as("rb"))
      // mutuality as ONE aggregate on the unordered pair key (see
      // oneToOne above): best is one row per cluster, so a {u, v} group
      // holds at most the two directed rows and count = 2 is exactly
      // "both rank-1". One exchange of one row per cluster replaces the
      // self-join's two exchanges (or its broadcast build) + persist.
      val merges =
        (if (round == 1) best.filter(!col("bad")).select(col("ra"), col("rb"))
         else best)
        .groupBy(least(col("ra"), col("rb")).as("ka"),
          greatest(col("ra"), col("rb")).as("kb"))
        .agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") === 2)
        .select(col("ka"), col("kb"))
        .breakLineage()
      // wide probe — see the comment on the mutual-best loop above; the
      // exact count doubles as the merge frame's own broadcast decision
      // for the three endpoint-rewrite joins below
      val mergeCount = merges.count()
      val anyMerge = mergeCount > 0
      val mergesJ = if (Decide.broadcast(edges.sparkSession,
          "one_to_one_constrained.merges", mergeCount, Decide.MergeRows) ==
          Decide.Broadcast.Broadcasted) broadcast(merges) else merges
      // round 1's valid frame (eager or via the persisted rank frame) has
      // consumed the invalid-pair table by now; under "lowest_id" it is a
      // lazy plan and this is a no-op
      if (round == 1) Materialise.release(invalid1)
      if (!anyMerge) {
        done = true
        Materialise.release(valid)
        if (round == 1) {
          Materialise.release(best)
          Materialise.release(flagged1)
        }
      } else {
        // mutual-best merges never chain inside a round (each cluster has
        // exactly one rank-1 neighbour), so a single-step kb -> ka rewrite
        // is the full round update for all three maintained frames. Every
        // successor is eagerly materialised before its predecessor's
        // blocks are strong-released — EXCEPT on the final executed
        // round, where the updated membership's only consumer is the
        // caller's action: it stays a streaming plan over the (already
        // materialised) universe + merge blocks, which then must survive
        // to that read (no releases on that exit path).
        val finalRound = round == maxRounds
        val base =
          if (round == 1)
            best.select(col("ra").as("node_id"), col("ra").as("rep"))
          else membership
        val upd = base.alias("m")
          .join(mergesJ.alias("g"), col("m.rep") === col("g.kb"), "left")
          .select(col("m.node_id"),
            coalesce(col("g.ka"), col("m.rep")).as("rep"))
        if (finalRound) {
          membership = upd
        } else {
        val prevMembership = membership
        membership = upd.breakLineage(eager = true, spill = true)
        if (round == 1) Materialise.release(best)
        else Materialise.release(prevMembership)
        membershipMaterialised = true
        // the continuing loop's candidate state rolls forward; on the
        // final round the merge lands in the output membership alone.
        // clusterSets is null until its deferred round-2 init — which
        // absorbs this round's merges via membership, so there is
        // nothing to roll yet.
        if (clusterSets != null) {
          val prevSets = clusterSets
          clusterSets = clusterSets.alias("s")
            .join(mergesJ.alias("g"), col("s.r") === col("g.kb"), "left")
            .select(coalesce(col("g.ka"), col("s.r")).as("r"), col("s.ds"))
            .groupBy(col("r"))
            .agg(array_distinct(flatten(collect_list(col("ds")))).as("ds"))
            .breakLineage(eager = true)
          Materialise.release(prevSets)
        }
        val prevCe = ce
        ce = valid.alias("e")
          .join(mergesJ.alias("ga"), col("e.ra") === col("ga.kb"), "left")
          .join(mergesJ.alias("gb"), col("e.rb") === col("gb.kb"), "left")
          .select(coalesce(col("ga.ka"), col("e.ra")).as("ra"),
            coalesce(col("gb.ka"), col("e.rb")).as("rb"), col("e.p"))
          .filter(col("ra") =!= col("rb"))
          .breakLineage(eager = true, spill = true)
        // round 1's ce is a projection of e0, not a materialised frame
        // of its own — e0 is torn down once at exit instead
        if (round > 1) Materialise.release(prevCe)
        Materialise.release(valid)
        Materialise.release(merges)
        if (round == 1) Materialise.release(flagged1)
        }
      }
    }
    // everything the loop owned besides the output membership is dead
    // when the loop CLOSED ITSELF (no-merge round): the last eager
    // frames consumed ce/e0 fully. When the final round merged, the
    // output is a streaming plan over its universe + merge blocks —
    // those stay alive (membershipMaterialised gates the e0 teardown,
    // and the merge/best blocks were deliberately not released).
    // With NO merge round at all the output is the lazy identity plan
    // over e0 — the edge frame must then survive for the caller.
    if (round > 1) Materialise.release(ce)
    if (clusterSets != null)
      Materialise.release(clusterSets)
    if (membershipMaterialised) {
      if (tiesMethod == "drop") Materialise.release(e0)
      else Materialise.release(e0raw)
    }
    membership.select(col("node_id"), col("rep").as("cluster_id"))
  }

  /** Driver-side constrained mutual-best rounds, identical semantics to
    * the distributed loop (cluster-level candidates under the
    * dataset-disjointness constraint; best per cluster by p desc then
    * lowest rep node id; simultaneous mutual merges per round).
    * Index-array state with INCREMENTALLY merged cluster-dataset sets —
    * no per-round group-by materialisation, so rounds cost O(E). */
  private def driverOneToOneConstrained(e0raw: DataFrame,
      nodeDatasets: DataFrame, duplicateFreeDatasets: Option[Seq[String]],
      tiesMethod: String, maxRounds: Int): DataFrame = {
    val spark = e0raw.sparkSession
    import spark.implicits._
    // null/NaN probability = -Inf, matching the distributed aggregate
    // (both coalesced there) instead of a data-dependent NPE or an
    // inconsistent NaN ordering
    val allEdges = e0raw.collect().map { r =>
      val p = if (r.isNullAt(2)) Double.NaN else r.getDouble(2)
      (r.getLong(0), r.getLong(1),
        if (p.isNaN) Double.NegativeInfinity else p)
    }
    // the collect fully consumed the loop-owned materialised edge frame
    Materialise.release(e0raw)
    val nodes0 = allEdges.flatMap(e => Seq(e._1, e._2)).distinct
    // fetch datasets only for nodes in play (the corpus can be far larger
    // than the edge set) — broadcast semi-join, then one small collect
    val nodesDf = nodes0.toSeq.toDF("__node")
    // a null source_dataset never constrains: the distributed loop's
    // collect_set drops nulls and dropTies joins a null-filtered dataset
    // table — the driver replay must see exactly the same rows
    val dsPairs = nodeDatasets
      .select(col("node_id"), col("source_dataset"))
      .filter(col("source_dataset").isNotNull)
      .join(broadcast(nodesDf), col("node_id") === col("__node"), "left_semi")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val dsOf: Map[Long, Seq[String]] =
      dsPairs.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
        .withDefaultValue(Nil)
    val isDupFree: String => Boolean = duplicateFreeDatasets match {
      case Some(ds) => ds.toSet
      case None => _ => true
    }
    // ties_method="drop" replayed in memory, same semantics as [[dropTies]]
    // (inner joins to the dataset table: an edge with a dataset-less
    // endpoint yields no joined row and is dropped; otherwise it drops
    // only when EVERY (sd_l, sd_r) combination is tied in one direction
    // or the other)
    // under "drop" the distributed path's final semi-join equates on p, so
    // a null-probability edge (here -Inf) never matches and is dropped —
    // replay that before the tie logic
    val tiesInput =
      if (tiesMethod == "drop") allEdges.filter(_._3 != Double.NegativeInfinity)
      else allEdges
    val edges = if (tiesMethod != "drop") allEdges else {
      val tieCount = scala.collection.mutable.Map.empty[(Long, String, String, Double), scala.collection.mutable.Set[Long]]
      def note(a: Long, b: Long, p: Double): Unit =
        for (sa <- dsOf(a); sb <- dsOf(b))
          tieCount.getOrElseUpdate((a, sa, sb, p),
            scala.collection.mutable.Set.empty[Long]) += b
      allEdges.foreach { case (a, b, p) => note(a, b, p); note(b, a, p) }
      def tied(a: Long, sa: String, sb: String, p: Double): Boolean =
        isDupFree(sb) && tieCount.get((a, sa, sb, p)).exists(_.size > 1)
      tiesInput.filter { case (a, b, p) =>
        val combos = for (sa <- dsOf(a); sb <- dsOf(b)) yield (sa, sb)
        combos.nonEmpty && combos.exists { case (sa, sb) =>
          !tied(a, sa, sb, p) && !tied(b, sb, sa, p) }
      }
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val rep = Array.tabulate(n)(identity) // node index -> rep node index
    val clusterDs = Array.fill(n)(Set.empty[String])
    dsPairs.foreach { case (node, d) =>
      if (isDupFree(d))
        idx.get(node).foreach(i => clusterDs(i) = clusterDs(i) + d) }
    val eIdx = edges.map { case (a, b, p) => (idx(a), idx(b), p) }
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      round += 1
      // best valid neighbour cluster per cluster: p desc, then lowest rep
      // node id (the distributed window's ORDER BY p DESC, rb ASC)
      val best = scala.collection.mutable.LongMap.empty[(Double, Int)]
      def offer(ra: Int, rb: Int, p: Double): Unit = best.get(ra.toLong) match {
        case Some((bp, bi)) =>
          if (p > bp || (p == bp && nodes(rb) < nodes(bi)))
            best(ra.toLong) = (p, rb)
        case None => best(ra.toLong) = (p, rb)
      }
      eIdx.foreach { case (ai, bi, p) =>
        val (ra, rb) = (rep(ai), rep(bi))
        if (ra != rb && !clusterDs(ra).exists(clusterDs(rb))) {
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
          clusterDs(ka) = clusterDs(ka) ++ clusterDs(kb)
        }
        var i = 0
        while (i < n) {
          val r = m.getOrElse(rep(i).toLong, -1)
          if (r >= 0) rep(i) = r
          i += 1
        }
      }
    }
    // parallelized RDD, not a LocalRelation (same rationale as the CC
    // driver path: a LocalRelation this size re-pays driver conversion
    // per downstream action)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("node_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.LongType)))
    val out = nodes.indices.map(i =>
      org.apache.spark.sql.Row(nodes(i), nodes(rep(i))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(out,
        math.max(1, spark.sparkContext.defaultParallelism / 4)), schema)
  }

  /** Broadcast wrap for the node-dataset table, by the record-side stats
    * decision. The constraint joins pair a modest per-node table against
    * edge frames that dwarf it in the 100M+-pairs regime — when the node
    * table fits, the edge side must never shuffle. */
  private def broadcastIfFits(what: String, df: DataFrame): DataFrame =
    if (Decide.broadcastByStats(what, df)) broadcast(df) else df

  /** `ties_method = "drop"` (`one_to_one_clustering.py:14-100`): on the
    * symmetric neighbours frame, a link is TIED when its source node has
    * equal-probability links to more than one distinct record of a single
    * duplicate-free dataset; every such link is dropped. Both directions of
    * an undirected link drop together: the reference's tie_l/tie_r pair of
    * aggregates collapses, by the symmetry of the neighbours frame, to
    * "row (a,b) survives iff neither (a,b) nor (b,a) is tie_l-marked". */
  private def dropTies(e0: DataFrame, nodeDatasets: DataFrame,
      isDupFree: Column => Column,
      broadcastKept: Boolean = false): (DataFrame, DataFrame) = {
    // null datasets constrain nothing (collect_set in the round loop drops
    // them); filtering here also makes the documented behaviour true — an
    // edge whose endpoint has only a null dataset drops out of the inner
    // joins below exactly like a dataset-less endpoint
    val nd = broadcastIfFits("drop_ties.node_datasets",
      nodeDatasets.select(col("node_id"), col("source_dataset"))
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
      .filter(col("mn") =!= col("mx") && isDupFree(col("sd_r")))
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
        // row — the documented (and spec-pinned) drop-path behaviour.
        // LAZY: the caller consumes this through a single streaming
        // chain (the round-1 flagged frame), so an eager 13M-row
        // write+read here is pure overhead; the combo/tie blocks it
        // reads are disk-backed and survive until the caller's action
        // (they are NOT released below on this branch).
        kept.select(col("na"), col("nb"), col("p"))
          .filter(col("p").isNotNull)
      else {
        // duplicate edges in, duplicate edges out: the semi-join restores
        // e0's exact row multiset. Output materialised HERE so the working
        // frames above can be strong-released before returning — callers
        // receive a flat checkpoint-backed frame.
        // under the caller's probed edge-count ceiling the kept-combo frame
        // (bounded by edges x dataset-combinations) broadcasts, so the edge
        // frame streams through the semi-join without an exchange
        val keptBuild =
          if (broadcastKept) broadcast(kept.alias("k")) else kept.alias("k")
        e0.alias("e").join(keptBuild,
          col("e.na") === col("k.na") && col("e.nb") === col("k.nb") &&
            col("e.p") === col("k.p"), "left_semi")
          .breakLineage(eager = true, spill = true)
      }
    // round-1 invalid pairs for the caller's pair-level constraint, free
    // off the already-materialised combo frame: an edge between two
    // single-node clusters is invalid exactly when some combination pairs
    // the same duplicate-free dataset on both ends. Materialised (tiny)
    // BEFORE withBoth's blocks are dropped.
    val invalid1 = withBoth
      .filter(col("sd_a") === col("sd_b") && isDupFree(col("sd_a")))
      .select(col("na"), col("nb"))
      .breakLineage(eager = true)
    // the fast path's lazy output still reads the combo/tie blocks —
    // only the semi-join branch (eager output) may drop them here
    if (!singlePerNode) {
      Materialise.release(withBoth)
      Materialise.release(tied)
    }
    (out, invalid1)
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
