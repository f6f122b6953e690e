package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model._
import graft.model.{LevelLibrary => ll}
import graft.clustering.ClusteringOps
import graft.operators.Decide
import graft.evaluation.Evaluation
import graft.pipeline.{DedupOps, MultimodalOps, TextOps}

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("settings JSON round-trips") {
    val s = LinkSettings(
      linkType = LinkType.LinkAndDedupe,
      blockingRules = Seq(BlockingRule.blockOn("surname", "substring(first_name, 1, 1)"),
        BlockingRule.CustomBlockingRule("l.dob = r.dob")),
      comparisons = Seq(
        Comparison("name", Seq(ll.nullLevel("name"),
          ll.exactMatch("name", tfAdjustment = true).withM(0.8).withU(0.01),
          ll.jaroWinkler("name", 0.9).withM(0.1).withU(0.02),
          ll.elseLevel.withM(0.1).withU(0.97)))),
      probabilityTwoRandomRecordsMatch = 0.013,
      additionalColumnsToRetain = Seq("city"))
    val json = SettingsJson.toJson(s)
    val back = SettingsJson.fromJson(json)
    assert(back.linkType == s.linkType)
    assert(back.probabilityTwoRandomRecordsMatch == s.probabilityTwoRandomRecordsMatch)
    assert(back.blockingRules.size == 2)
    assert(back.blockingRules.head.asInstanceOf[BlockingRule.BlockOnRule].exprs ==
      Seq("surname", "substring(first_name, 1, 1)"))
    val c = back.comparisonByName("name")
    assert(c.levels.size == 4)
    assert(c.levels(1).m.contains(0.8))
    assert(c.levels(1).tfColumn.contains("name"))
    assert(back.additionalColumnsToRetain == Seq("city"))
    // round-trip again is identical
    assert(SettingsJson.toJson(back) == json)
  }

  test("one-to-one clustering picks mutual best links only (both paths)") {
    // 1-2 (0.9), 2-3 (0.8): 2's best is 1, mutual; 3 unmatched
    val edges = Seq((1L, 2L, 0.9), (2L, 3L, 0.8))
      .toDF("unique_id_l", "unique_id_r", "match_probability")
    val edges2 = Seq((1L, 2L, 0.9), (2L, 3L, 0.8), (3L, 4L, 0.7))
      .toDF("unique_id_l", "unique_id_r", "match_probability")
    for (path <- Decide.Collect.paths) Decide.forcing(Decide.Collect -> path) {
      val got = ClusteringOps.oneToOne(edges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == Map(1L -> 1L, 2L -> 1L), s"path $path")
      // second round: after 1-2 merge, 3-4 mutual
      val got2 = ClusteringOps.oneToOne(edges2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got2 == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L), s"path $path")
    }
  }

  test("one-to-one random-graph parity across paths (nulls and ties)") {
    // coarse probabilities manufacture ties (broken by lowest id on both
    // paths); ~10% null and ~10% NaN probabilities must rank last, not NPE
    val rng = new scala.util.Random(123)
    val raw = Seq.fill(80)((rng.nextInt(30).toLong, rng.nextInt(30).toLong,
        rng.nextInt(10) match {
          case 0 => None
          case 1 => Some(Double.NaN)
          case _ => Some((rng.nextInt(6) + 1) / 6.0)
        }))
      .filter { case (a, b, _) => a != b }
    val edges = raw.toDF("unique_id_l", "unique_id_r", "match_probability")
    // one and two rounds cut the rounds off before the fixpoint
    for (rounds <- Seq(1, 2, 10)) {
      val expect = GraphOracle.oneToOne(raw, GraphOracle.Singletons, rounds)
      assert(expect.nonEmpty)
      for (path <- Decide.Collect.paths) {
        val got = Decide.forcing(Decide.Collect -> path) {
          ClusteringOps.oneToOne(edges, maxRounds = rounds)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        }
        assert(got == expect, s"path $path, maxRounds $rounds")
      }
    }
  }

  test("one-to-one with string ids and no mutual pairs keeps the id type") {
    // self-loops only -> filtered -> no matches; the empty frame must carry
    // the INPUT id type (string), not a hardcoded long
    val edges = Seq(("a", "a", 0.9))
      .toDF("unique_id_l", "unique_id_r", "match_probability")
    val got = Decide.forcing(Decide.Collect -> Decide.Collect.Distributed)(
      ClusteringOps.oneToOne(edges))
    assert(got.schema("node_id").dataType ==
      org.apache.spark.sql.types.StringType)
    assert(got.count() == 0)
    // unions cleanly with a non-empty string-typed cluster frame
    val other = Seq(("x", "x")).toDF("node_id", "cluster_id")
    assert(got.unionByName(other).count() == 1)
  }

  test("multi-threshold clustering splits as threshold rises") {
    val edges = Seq((1L, 2L, 0.9), (2L, 3L, 0.4), (3L, 4L, 0.9))
      .toDF("unique_id_l", "unique_id_r", "match_probability")
    val got = ClusteringOps.atMultipleThresholds(edges, Seq(0.3, 0.5))
      .collect().map(r => (r.getDouble(2), r.getLong(0)) -> r.getLong(1)).toMap
    assert(got((0.3, 4L)) == 1L) // all connected at 0.3
    assert(got((0.5, 4L)) == 3L) // split at 0.5
    assert(got((0.5, 2L)) == 1L)
  }

  test("graph metrics: degree, size, centrality, density") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (5L, 6L))
      .toDF("unique_id_l", "unique_id_r")
    val clusters = graft.clustering.ConnectedComponents.run(edges)
    val nm = ClusteringOps.nodeMetrics(clusters, edges).collect()
      .map(r => r.getAs[Long]("node_id") ->
        (r.getAs[Long]("degree"), r.getAs[Long]("cluster_size"),
          r.getAs[Double]("centrality"))).toMap
    assert(nm(1L) == (2L, 3L, 1.0))
    assert(nm(5L) == (1L, 2L, 1.0))
    val cm = ClusteringOps.clusterMetrics(clusters, edges).collect()
      .map(r => r.getAs[Long]("cluster_id") ->
        (r.getAs[Long]("n_nodes"), r.getAs[Long]("n_edges"),
          r.getAs[Double]("density"))).toMap
    assert(cm(1L) == (3L, 3L, 1.0))
  }

  test("truth space table computes confusion matrix at each threshold") {
    val scored = Seq(
      (10.0, 1), (8.0, 1), (5.0, 0), (2.0, 1), (-1.0, 0), (-3.0, 0))
      .toDF("match_weight", "clerical_match")
    val ts = Evaluation.truthSpaceTable(scored).collect()
      .map(r => r.getAs[Double]("truth_threshold") ->
        (r.getAs[Long]("tp"), r.getAs[Long]("fp"),
          r.getAs[Long]("tn"), r.getAs[Long]("fn"))).toMap
    assert(ts(10.0) == (1L, 0L, 3L, 2L))
    assert(ts(5.0) == (2L, 1L, 2L, 1L))
    assert(ts(-3.0) == (3L, 3L, 0L, 0L))
  }

  test("exploding blocking rule generates pairs from array elements") {
    val df = Seq(
      (1L, Seq("a", "b")), (2L, Seq("b", "c")), (3L, Seq("x")), (4L, Seq("c", "b")))
      .toDF("unique_id", "tags")
    val settings = LinkSettings(
      linkType = LinkType.DedupeOnly,
      blockingRules = Seq(BlockingRule.BlockOnRule(Seq("tags"),
        arraysToExplode = Seq("tags"))),
      comparisons = Seq(Comparison("unique_id", Seq(
        ll.exactMatch("unique_id"), ll.elseLevel))))
    val pairs = graft.operators.Blocking.blockedIdPairs(df, settings)
      .select("join_key_l", "join_key_r").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // shared tags: (1,2) via b, (2,4) via b AND c (deduped), (1,4) via b
    assert(pairs == Set((1L, 2L), (2L, 4L), (1L, 4L)))
  }

  test("multimodal: metadata, frame sampling, decode plumbing") {
    val docs = Seq((1L, "hello world of spark"), (2L, "tiny")).toDF("doc_id", "text")
    val media = MultimodalOps.asMediaTable(docs, "doc_id", "text")
    assert(media.schema("payload").dataType.typeName == "binary")
    val meta = media.select(col("media_id"),
      MultimodalOps.payloadMetadata(col("payload")).head._2.as("n_bytes")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(meta(1L) == 20L && meta(2L) == 4L)
    val frames = media.filter(col("media_id") === 1)
      .select(MultimodalOps.frameSample(col("payload"), 3, 4).as("f"))
      .first().getSeq[Array[Byte]](0)
    assert(frames.size == 3 && frames.forall(_.length == 4))
    val decoded = MultimodalOps.decode(media).collect()
    assert(decoded.length == 2)
    assert(decoded.forall(r => r.getAs[String]("format") == "synthetic" &&
      r.getAs[Int]("width") >= 64 && r.getAs[Seq[Float]]("feature").size == 8))
    // determinism
    val again = MultimodalOps.decode(media).collect()
    assert(decoded.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  /** Near-duplicate texts spread over two block keys: some near-dup pairs
    * share both keys, others only one. */
  def twoKeyDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "en", 1),
    (2L, "the quick brown fox jumped over the lazy dog", "en", 1),
    (3L, "the quick brown fox jumps over the lazy dog", "en", 2),
    (4L, "the quick brown fox jumps over the lazy dog", "de", 1),
    (5L, "quick the brown fox jumps over the dog lazy", "en", 2),
    (6L, "the quick brown fox", "en", 1),
    (7L, "the lazy dog sleeps", "de", 1),
    (8L, "completely unrelated text about query planning", "en", 1))
  val twoKeys = Seq(col("k1"), col("k2"))

  /** Brute force: every id pair (a < b) of [[twoKeyDocs]] sharing both
    * keys, with `sets` of both texts. */
  def sameBlockPairs[A](sets: String => Set[A]): Seq[((Long, Long), Set[A], Set[A])] =
    for {
      (a, ta, a1, a2) <- twoKeyDocs; (b, tb, b1, b2) <- twoKeyDocs
      if a < b && a1 == b1 && a2 == b2
    } yield ((a, b), sets(ta), sets(tb))

  def jaccard[A](a: Set[A], b: Set[A]): Double =
    a.intersect(b).size.toDouble / a.union(b).size

  def words(s: String): Set[String] = s.toLowerCase.split("\\s+").toSet

  def qgrams(s: String): Set[String] =
    s.trim.toLowerCase.replaceAll("\\s+", " ").sliding(5).toSet

  /** Asserts `got` holds exactly `expected`'s pairs, each value within
    * the 9dp rounding. */
  def assertPairs(got: Map[(Long, Long), Double],
      expected: Map[(Long, Long), Double]): Unit = {
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-6, k) }
  }

  test("ngram jaccard pairs find reordered near-dups that token sets also find") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumped over the lazy dog"), // near-dup
      (3L, "completely unrelated text about query planning"),
      (4L, "quick the brown fox jumps over the dog lazy")   // reordered
    ).toDF("doc_id", "text")
    val pairs = DedupOps.ngramJaccardPairs(docs, "doc_id", "text",
      Seq(lit(1)), threshold = 0.4, q = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.keySet.exists { case (a, b) => a == 3L || b == 3L })
    // hand-check: jaccard of (1,2) matches brute-force shingle sets
    def sh(s: String) = s.trim.toLowerCase.replaceAll("\\s+", " ")
      .sliding(5).toSet
    val expected = {
      val (a, b) = (sh("the quick brown fox jumps over the lazy dog"),
        sh("the quick brown fox jumped over the lazy dog"))
      a.intersect(b).size.toDouble / a.union(b).size
    }
    assert(math.abs(pairs((1L, 2L)) - expected) < 1e-6)
    // two key columns: exactly the pairs sharing both keys
    val keyed = DedupOps.ngramJaccardPairs(twoKeyDocs.toDF("doc_id", "text",
        "k1", "k2"), "doc_id", "text", twoKeys, threshold = 0.4, q = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val brute = sameBlockPairs(qgrams).map { case (k, a, b) => k -> jaccard(a, b) }
      .filter(_._2 >= 0.4).toMap
    assertPairs(keyed, brute)
    assert(brute.nonEmpty)
  }

  test("token jaccard over hashed longs equals brute-force string sets") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumped over a lazy dog"),
      (3L, "completely unrelated text about query planning"),
      (4L, "dog lazy the over jumps fox brown quick the") // reordered = same set
    ).toDF("doc_id", "text")
    val got = DedupOps.tokenJaccardPairs(docs, "doc_id", "text",
      Seq(lit(1)), threshold = 0.3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    def tok(s: String) = s.toLowerCase.split("\\s+").toSet
    val all = Seq(1L, 2L, 3L, 4L).map(i =>
      i -> tok(docs.collect().find(_.getLong(0) == i).get.getString(1))).toMap
    val expected = (for {
      a <- all.keys; b <- all.keys if a < b
      j = all(a).intersect(all(b)).size.toDouble / all(a).union(all(b)).size
      if j >= 0.3
    } yield (a, b) -> j).toMap
    assertPairs(got, expected)
    assert(got((1L, 4L)) == 1.0) // reordering invisible to token sets
    // two key columns: exactly the pairs sharing both keys
    val keyed = DedupOps.tokenJaccardPairs(twoKeyDocs.toDF("doc_id", "text",
        "k1", "k2"), "doc_id", "text", twoKeys, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val brute = sameBlockPairs(words).map { case (k, a, b) => k -> jaccard(a, b) }
      .filter(_._2 >= 0.3).toMap
    assertPairs(keyed, brute)
    assert(brute.keySet == Set((1L, 2L), (1L, 6L), (2L, 6L), (3L, 5L), (4L, 7L)))
    // scale shape: the join input carries hashed longs, not strings
    val plan = DedupOps.tokenJaccardPairs(docs, "doc_id", "text",
      Seq(lit(1)), 0.3).queryExecution.analyzed.toString
    assert(!plan.contains("array_intersect"))
  }

  test("simhash of similar docs is close, dissimilar far") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    val b = "the quick brown fox jumps over the lazy dog again and again!"
    val c = "completely different content about database query optimization"
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "text")
    val sh = df.select(col("id"),
      DedupOps.simhash(DedupOps.shingles(col("text"), 8)).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(sh(1L), sh(2L)) < hamming(sh(1L), sh(3L)))
    assert(hamming(sh(1L), sh(2L)) <= 8)
  }

  test("unicode text (accents, CJK, emoji surrogate pairs) through the kernels") {
    val base = "Ḏé jà vu — 你好世界 🌍🌍 çafé naïve 日本語テキスト íñtërnâtiônàl"
    val docs = Seq(
      (1L, base),
      (2L, base),                              // exact dup
      (3L, base.replace("naïve", "naive")),    // near dup
      (4L, "🦄" * 40),                          // surrogate-pair run
      (5L, "plain ascii text entirely different here"))
      .toDF("doc_id", "text")
    // one-pass kernels must not crash, and must be deterministic
    val stats = docs.select(col("doc_id"),
      TextOps.tokenCount(col("text")).as("tok"),
      DedupOps.simhash(DedupOps.shingles(col("text"), 8)).as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(stats(1) == stats(2)) // identical text -> identical signature
    // exact dedup groups 1 and 2 together
    val exact = DedupOps.exactDedup(docs, "doc_id", "text")
    assert(exact.count() == 4)
    // minhash finds the unicode near-dup pair (1,3) or (2,3) and the
    // exact pair (1,2); jaccard of identical shingle sets is exactly 1
    val pairs = DedupOps.minhashDedupPairs(docs, "doc_id", "text",
      threshold = 0.5)
      .select("id_l", "id_r", "jaccard")
      .as[(Long, Long, Double)].collect()
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    assert(pairSet.contains((1L, 2L)))
    assert(pairs.find(p => (p._1, p._2) == (1L, 2L)).get._3 == 1.0)
    assert(pairSet.exists(p => p._2 == 3L))
    assert(!pairSet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minhash size-ratio prune is exact: equals the unpruned band+verify pipeline") {
    // Corpus engineered to stress the |A|/|B| >= t prefilter boundary:
    // doc pairs share long identical prefixes (so LSH bands collide) while
    // their shingle-set sizes straddle the ratio that could legally reach
    // the jaccard threshold. The pruned operator must return EXACTLY the
    // pairs of the reference pipeline (band collision + true jaccard, no
    // size filter) — the prune may only cut work, never results.
    val prefix = "the quick brown fox jumps over the lazy dog again and again "
    val docs = Seq(
      (1L, prefix),
      (2L, prefix),                                   // exact dup (ratio 1)
      (3L, prefix + "with a small tail"),             // ratio just under 1
      (4L, prefix * 3),                               // superset, ratio ~1/3
      (5L, prefix + "completely different continuation of considerable length here"),
      (6L, prefix * 2),                               // ratio ~1/2 vs 1
      (7L, "entirely unrelated content that shares nothing with the rest"))
      .toDF("doc_id", "text")
    // reference: same kernels, band-collision candidates WITHOUT the
    // size prefilter, verified with the same exact jaccard; `right` = None
    // is the self-join (l.id < r.id), else probe `left` x corpus `right`
    def unpruned(left: DataFrame, right: Option[DataFrame], t: Double) = {
      def prep(d: DataFrame) = {
        val base = d.select(col("doc_id").as("id"),
            graft.functions.funcs.shingles_minhash(col("text"), 8, 32).as("sm"))
          .select(col("id"), col("sm.toks").as("toks"), col("sm.sig").as("sig"))
        (base.select(col("id"), col("toks")), base.select(col("id"),
            explode(DedupOps.lshBands(col("sig"), 32, 4)).as("b"))
          .select(col("id"), col("b.band"), col("b.band_hash")))
      }
      val (lt, lb) = prep(left)
      val (rt, rb) = right.fold((lt, lb))(prep)
      val cands = lb.alias("l").join(rb.alias("r"),
          col("l.band") === col("r.band") &&
          col("l.band_hash") === col("r.band_hash") &&
          (if (right.isEmpty) col("l.id") < col("r.id") else lit(true)))
        .select(col("l.id").as("id_l"), col("r.id").as("id_r")).distinct()
      val jac = graft.functions.funcs
        .jaccard_sorted_longs(col("lt.toks"), col("rt.toks"))
      cands.join(lt.alias("lt"), col("id_l") === col("lt.id"))
        .join(rt.alias("rt"), col("id_r") === col("rt.id"))
        .filter(jac >= t)
        .select(col("id_l"), col("id_r"), round(jac, 9).as("jaccard"))
        .as[(Long, Long, Double)].collect().toSet
    }
    val probe = docs.filter(col("doc_id") % 2 === 0)
    val corpus = docs.filter(col("doc_id") % 2 =!= 0)
    for (t <- Seq(0.3, 0.5, 0.7)) {
      val pruned = DedupOps.minhashDedupPairs(docs, "doc_id", "text",
          threshold = t)
        .select("id_l", "id_r", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val ref = unpruned(docs, None, t)
      assert(pruned == ref, s"threshold $t")
      assert(ref.nonEmpty, s"threshold $t: fixture must exercise the boundary")
      // the probe-vs-corpus shape prunes inside the same band join
      val probed = DedupOps.minhashNearDuplicates(corpus, probe, "doc_id",
          "text", threshold = t)
        .select("probe_id", "corpus_id", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
      val probeRef = unpruned(probe, Some(corpus), t)
      assert(probed == probeRef, s"probe shape, threshold $t")
      assert(probeRef.nonEmpty, s"probe shape, threshold $t: empty fixture")
    }
  }

  test("containment pairs: short doc inside long doc, low jaccard, both directions") {
    import graft.pipeline.DedupOps
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma"),           // fully contained in 1
      (3L, "unrelated words entirely"),   // nothing shared
      (4L, "beta alpha gamma"))           // same set as 2 (reordered)
      .toDF("doc_id", "text")
    val out = DedupOps.containmentPairs(docs, "doc_id", "text",
        Seq(lit(1)), threshold = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    // 2-in-1: containment 1.0 one way, 0.3 the other; jaccard is only 0.3
    assert(out((1L, 2L)) == ((0.3, 1.0)))
    assert(out((1L, 4L)) == ((0.3, 1.0)))
    assert(out((2L, 4L)) == ((1.0, 1.0)))
    assert(!out.contains((1L, 3L)) && !out.contains((2L, 3L)))
    // two key columns: exactly the pairs sharing both keys
    val keyed = DedupOps.containmentPairs(twoKeyDocs.toDF("doc_id", "text",
        "k1", "k2"), "doc_id", "text", twoKeys, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3)))).toMap
    val brute = sameBlockPairs(words).flatMap { case (k, a, b) =>
      val inter = a.intersect(b).size.toDouble
      val (lr, rl) = (inter / a.size, inter / b.size)
      if (inter > 0 && (lr >= 0.9 || rl >= 0.9)) Some(k -> ((lr, rl))) else None
    }.toMap
    assert(keyed.keySet == brute.keySet && brute.contains((1L, 6L)))
    brute.foreach { case (k, (lr, rl)) =>
      assert(math.abs(keyed(k)._1 - lr) < 1e-6 && math.abs(keyed(k)._2 - rl) < 1e-6, k)
    }
  }

  test("BPE-ish token counting: contraction splits, digit runs, punctuation") {
    import graft.pipeline.TextOps
    val out = TextOps.tokenCounts(
      Seq((1L, "it's a test-case with 42 items,  ok?"), (2L, ""))
        .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // pre-tokens: it|'s| a| test|-|case| with| 42| items|,|(space)| ok|?
    assert(out(1L) == ((7L, 13L, 36L)))
    assert(out(2L) == ((0L, 0L, 0L)))
  }
}
