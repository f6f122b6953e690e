package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Materialise.Ops

/**
 * Deduplication operators for training-data pipelines, each shaped for a
 * 1000-executor cluster: candidate generation is always a key-partitioned
 * join (never all-pairs), verification runs only inside candidate buckets.
 *
 *  - exact: hash-groupBy on normalised content
 *  - MinHash + LSH: shingle -> minhash signature -> banded bucket join
 *  - SimHash: 64-bit signature -> band join -> hamming verify
 *  - token-Jaccard: blocked self-join + set overlap
 *  - embedding cosine: bucketed pairs above a similarity threshold
 */
object DedupOps {

  /** Normalised token set of a text column. */
  def tokenSet(text: Column): Column =
    array_distinct(TextOps.tokens(lower(text)))

  /** Narrow raw projection, widened to session parallelism BEFORE the
    * per-document shingle/signature kernels run: a single-row-group input
    * file must not serialise the kernel scan (and the quadratic bucket
    * joins fed by it) onto one core. No-op at scale — see
    * [[graft.operators.Repartition.ensureMinParallel]]. */
  private def widened(df: DataFrame, cols: Seq[Column]): DataFrame =
    graft.operators.Repartition.ensureMinParallel(df.select(cols: _*))

  // ---------------------------------------------------------------- exact

  /** One representative (min id) per exact normalised text. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** EXACT set-size prune shared by every jaccard-thresholded pair
    * generator: J(A,B) >= t forces |A∩B| >= t*|A∪B| >= t*max(|A|,|B|),
    * and |A∩B| <= min(|A|,|B|) — so min >= t*max or the pair can never
    * verify. Zero false negatives (round-to-nearest of t*max can never
    * overshoot the representable integer min). ONE definition: the four
    * band/blocked joins that prune on it must never diverge. */
  private def sizeRatioOk(nl: Column, nr: Column, threshold: Double): Column =
    least(nl, nr).cast("double") >= lit(threshold) * greatest(nl, nr)

  // -------------------------------------------------------- token jaccard

  /** Candidate pairs from equality blocking, verified by token-set Jaccard
    * >= threshold. blockKeys must be cheap, low-ish-cardinality columns.
    *
    * Shuffle rows carry SORTED HASHED tokens (array<long>), never the raw
    * `array<string>` token sets: an order of magnitude fewer shuffle bytes
    * for prose, and verification is a linear merge over sorted longs
    * instead of an interpreted string array_intersect. Jaccard over 64-bit
    * token hashes equals true Jaccard up to ~1e-19 collision probability. */
  def tokenJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockKeys: Seq[Column], threshold: Double): DataFrame = {
    val raw = widened(df, col(idCol).as("id") +: col(textCol).as("__text") +:
      blockKeys.zipWithIndex.map { case (k, i) => k.as(s"bk$i") })
    val withTok = raw.select(
      (col("id") +:
        graft.functions.funcs.hashed_tokens(col("__text")).as("toks") +:
        blockKeys.indices.map(i => col(s"bk$i"))): _*)
    val keys = blockKeys.indices.map(i => s"bk$i")
    val l = withTok.alias("l")
    val r = withTok.alias("r")
    val joinCond = keys.map(k => col(s"l.$k") === col(s"r.$k"))
      .reduce(_ && _) && col("l.id") < col("r.id")
    val jac = graft.functions.funcs.jaccard_sorted_longs(col("l.toks"), col("r.toks"))
    // filter on the UNROUNDED jaccard (round only in the projection) so the
    // threshold semantics match an oracle that filters the raw ratio.
    // The set-size check runs FIRST (And short-circuits in codegen): a
    // pruned pair skips the linear merge entirely — see [[sizeRatioOk]].
    val sizeOk =
      sizeRatioOk(size(col("l.toks")), size(col("r.toks")), threshold)
    l.join(r, joinCond)
      .filter(sizeOk && jac >= threshold)
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"),
        round(jac, 9).as("jaccard"))
  }

  /** Asymmetric containment pairs: containment(A⊂B) = |A∩B| / |A| — the
    * boilerplate/quotation detector Jaccard cannot express (a short doc
    * fully contained in a long one has low Jaccard but containment 1).
    * Same blocked-join shape as [[tokenJaccardPairs]] (hashed sorted
    * longs, one native linear-merge intersection per candidate pair);
    * emits a pair when EITHER direction clears the threshold, with both
    * directions reported. Empty-token docs never qualify. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockKeys: Seq[Column], threshold: Double): DataFrame = {
    val raw = widened(df, col(idCol).as("id") +: col(textCol).as("__text") +:
      blockKeys.zipWithIndex.map { case (k, i) => k.as(s"bk$i") })
    val withTok = raw.select(
      (col("id") +:
        graft.functions.funcs.hashed_tokens(col("__text")).as("toks") +:
        blockKeys.indices.map(i => col(s"bk$i"))): _*)
    val keys = blockKeys.indices.map(i => s"bk$i")
    val l = withTok.alias("l")
    val r = withTok.alias("r")
    val joinCond = keys.map(k => col(s"l.$k") === col(s"r.$k"))
      .reduce(_ && _) && col("l.id") < col("r.id")
    val inter = graft.functions.funcs
      .intersect_sorted_longs(col("l.toks"), col("r.toks"))
    val nl = size(col("l.toks")).cast("double")
    val nr = size(col("r.toks")).cast("double")
    // unrounded filter, rounded projection — see tokenJaccardPairs
    l.join(r, joinCond)
      .withColumn("__inter", inter)
      .filter(col("__inter") > 0 &&
        (col("__inter") / nl >= threshold || col("__inter") / nr >= threshold))
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"),
        round(col("__inter") / nl, 9).as("containment_l_in_r"),
        round(col("__inter") / nr, 9).as("containment_r_in_l"))
  }

  /** Character n-gram Jaccard pairs: same blocked-join shape as
    * [[tokenJaccardPairs]] but over shingle sets (hashed + sorted, linear-
    * merge verify) — catches near-dups that word-level sets miss
    * (reorderings, joined/split words). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockKeys: Seq[Column], threshold: Double, q: Int = 5): DataFrame = {
    val raw = widened(df, col(idCol).as("id") +: col(textCol).as("__text") +:
      blockKeys.zipWithIndex.map { case (k, i) => k.as(s"bk$i") })
    val withTok = raw.select(
      (col("id") +:
        graft.functions.funcs.hashed_shingles(col("__text"), q).as("toks") +:
        blockKeys.indices.map(i => col(s"bk$i"))): _*)
    val keys = blockKeys.indices.map(i => s"bk$i")
    val l = withTok.alias("l")
    val r = withTok.alias("r")
    val joinCond = keys.map(k => col(s"l.$k") === col(s"r.$k"))
      .reduce(_ && _) && col("l.id") < col("r.id")
    val jac = graft.functions.funcs.jaccard_sorted_longs(col("l.toks"), col("r.toks"))
    // unrounded filter, rounded projection; [[sizeRatioOk]] short-circuits
    // the linear merge for pairs that cannot reach the threshold
    val sizeOk =
      sizeRatioOk(size(col("l.toks")), size(col("r.toks")), threshold)
    l.join(r, joinCond)
      .filter(sizeOk && jac >= threshold)
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"),
        round(jac, 9).as("jaccard"))
  }

  // ------------------------------------------------------- minhash + LSH

  /** Character shingles (qgrams) of normalised text — native expression
    * ([[graft.functions.CharShingles]]); the pure-Column equivalent
    * (transform over sequence + substr) is O(n^2) per document. */
  def shingles(text: Column, q: Int = 5): Column =
    graft.functions.funcs.char_shingles(text, q)

  /** MinHash signature of a text column (native one-pass expression; see
    * [[graft.functions.MinHashSig]] — Column-level `a*h+b` arithmetic would
    * throw under Spark 4's default ANSI mode on the intended wrap-around). */
  def minhashSignature(text: Column, q: Int, k: Int): Column =
    graft.functions.funcs.minhash_sig(text, q, k)

  /** LSH band signatures: k minhashes split into bands of `rowsPerBand`,
    * each band hashed to one value. Returns array of (bandIdx, bandHash)
    * structs for exploding.
    *
    * The band key hashes the slot LONGS directly — two signatures share a
    * band iff their slots agree, identical collision classes to hashing a
    * string rendering of the slots, without allocating per-row strings in
    * the hottest dedupe scan (the external replay joins on slot equality,
    * so the key representation is free to change). */
  def lshBands(sig: Column, k: Int, rowsPerBand: Int): Column = {
    val bands = k / rowsPerBand
    array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64((0 until rowsPerBand)
          .map(j => element_at(sig, b * rowsPerBand + j + 1)): _*)
          .as("band_hash"))
    }: _*)
  }

  /** 4x16-bit band split of a 64-bit signature (SimHash / perceptual
    * hash): array of (band, `valName`) structs for exploding. Two
    * signatures within hamming distance 3 share at least one band
    * (pigeonhole over 4 disjoint 16-bit slices); the DuckDB oracles and
    * the streaming twins replay exactly this split, so every batch and
    * streaming band join MUST go through this one definition. */
  def bands64(sig: Column, valName: String = "band_val"): Column =
    array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftright(sig, b * 16).bitwiseAND(lit(0xFFFFL)).as(valName))
    }: _*)

  /** Shingle -> signature -> band prep shared by the MinHash-LSH dedupe
    * operators. Returns the checkpointed `(id, toks)` shingle sets and the
    * banded `(id, n, band, band_hash)` frame built from the same scan.
    *
    * Char shingles, not word tokens: small-vocabulary corpora make word
    * sets near-identical across documents, which melts LSH buckets into
    * one giant quadratic bucket; shingles keep signatures diverse.
    * Shingle sets travel as SORTED HASHED longs, not strings (smaller
    * rows, linear-merge intersection; jaccard over 64-bit hashes equals
    * true jaccard up to ~1e-19 collision probability), and come from ONE
    * fused text pass with the signature (bit-identical to the separate
    * hashed_shingles / minhash_sig kernels).
    * One checkpointed scan feeds both phases — the banded frame carries
    * ONLY scalars (id, band, hash), never the shingle arrays: exploding
    * the arrays x(bands) through the bucket shuffle would move 8x the
    * bytes of the whole corpus. Candidates dedupe as scalar pairs, then
    * two id-keyed joins fetch the shingle sets once for verification.
    * Set-size `n` travels with the band rows (one extra int per scalar
    * row) to power an EXACT prune inside the bucket join: J(A,B) >= t
    * forces |A intersect B| >= t*|A union B| >= t*max(|A|,|B|), and the
    * intersection is at most min(|A|,|B|) — so min >= t*max or the pair
    * can never verify. Pruning there (before the distinct and before any
    * shingle array is fetched) cuts both the candidate-dedupe shuffle and
    * the verification joins with zero false negatives. */
  private def minhashBands(df: DataFrame, idCol: String, textCol: String,
      k: Int, rowsPerBand: Int, shingleQ: Int): (DataFrame, DataFrame) = {
    val base = widened(df, Seq(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"),
        graft.functions.funcs.shingles_minhash(col("__text"), shingleQ, k).as("sm"))
      .select(col("id"), col("sm.toks").as("toks"), col("sm.sig").as("sig"))
      .filter(size(col("toks")) > 0)
      .breakLineage()
    val banded = base
      .select(col("id"), size(col("toks")).as("n"),
        explode(lshBands(col("sig"), k, rowsPerBand)).as("b"))
      .select(col("id"), col("n"), col("b.band"), col("b.band_hash"))
    (base.select(col("id"), col("toks")), banded)
  }

  /**
   * MinHash-LSH near-duplicate candidate pairs, verified with true token
   * Jaccard. Scale shape: explode to (band, band_hash) — the shuffle key —
   * then self-join per bucket; buckets are tiny for non-pathological data.
   */
  def minhashDedupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 32, rowsPerBand: Int = 4, threshold: Double = 0.7,
      shingleQ: Int = 8): DataFrame = {
    val (toks, banded) = minhashBands(df, idCol, textCol, k, rowsPerBand,
      shingleQ)
    val cands = banded.alias("l").join(banded.alias("r"),
        col("l.band") === col("r.band") &&
        col("l.band_hash") === col("r.band_hash") &&
        col("l.id") < col("r.id") &&
        sizeRatioOk(col("l.n"), col("r.n"), threshold))
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"))
      .distinct()
    val jac = graft.functions.funcs
      .jaccard_sorted_longs(col("lt.toks"), col("rt.toks"))
    cands.join(toks.alias("lt"), col("id_l") === col("lt.id"))
      .join(toks.alias("rt"), col("id_r") === col("rt.id"))
      .filter(jac >= threshold) // unrounded filter, rounded projection
      .select(col("id_l"), col("id_r"), round(jac, 9).as("jaccard"))
  }

  /**
   * Incremental near-duplicate detection: every near-dup of a `probe`
   * batch against an existing corpus (the ingestion-time shape — score a
   * day's crawl against the accumulated corpus without re-pairing the
   * corpus with itself). Both sides band their minhash signatures; only
   * bucket collisions between a probe row and a corpus row become
   * candidates, verified with exact jaccard over hashed shingle sets. The
   * corpus banding is embarrassingly cacheable across batches; the
   * streaming twin is `StreamingLink.simhashBandDedupStream`.
   *
   * @return (probe_id, corpus_id, jaccard), one row per verified near-dup
   */
  def minhashNearDuplicates(corpus: DataFrame, probe: DataFrame,
      idCol: String, textCol: String, k: Int = 32, rowsPerBand: Int = 4,
      threshold: Double = 0.7, shingleQ: Int = 8): DataFrame = {
    def prep(df: DataFrame) =
      minhashBands(df, idCol, textCol, k, rowsPerBand, shingleQ)
    val (corpusToks, corpusBands) = prep(corpus)
    val (probeToks, probeBands) = prep(probe)
    // exact set-size prune (see minhashBands): min >= t*max or the
    // jaccard can never reach the threshold
    val cands = probeBands.alias("p").join(corpusBands.alias("c"),
        col("p.band") === col("c.band") &&
        col("p.band_hash") === col("c.band_hash") &&
        sizeRatioOk(col("p.n"), col("c.n"), threshold))
      .select(col("p.id").as("probe_id"), col("c.id").as("corpus_id"))
      .distinct()
    val jac = graft.functions.funcs
      .jaccard_sorted_longs(col("pt.toks"), col("ct.toks"))
    cands.join(probeToks.alias("pt"), col("probe_id") === col("pt.id"))
      .join(corpusToks.alias("ct"), col("corpus_id") === col("ct.id"))
      .filter(jac >= threshold)
      .select(col("probe_id"), col("corpus_id"), round(jac, 9).as("jaccard"))
  }

  /**
   * End-to-end near-duplicate dedupe: MinHash-LSH candidate pairs ->
   * connected components -> one canonical document (min id) per near-dup
   * cluster. Documents with no near-duplicate map to themselves.
   *
   * The full 100 TB shape in one operator: candidate generation is the
   * banded bucket join above (never all-pairs), the transitive closure is
   * the same pointer-jumping CC the linker uses (reference
   * `connected_components.py`), and the final mapping is one left join back
   * to the corpus keyed on the id.
   *
   * @return DataFrame(doc_id, canonical_id, keep) — keep = 1 on the one
   *         retained document per cluster (and on all singletons)
   */
  def dedupeByMinhash(df: DataFrame, idCol: String, textCol: String,
      k: Int = 32, rowsPerBand: Int = 4, threshold: Double = 0.7,
      shingleQ: Int = 8): DataFrame =
    canonicalKeep(df, idCol, minhashDedupPairs(df, idCol, textCol, k,
      rowsPerBand, threshold, shingleQ))

  /** CC closure over `(id_l, id_r)` near-dup pairs -> `(doc_id,
    * canonical_id, keep)` for every document of `df`: canonical = min id
    * of the near-dup cluster (itself for singletons), keep = 1 on the
    * canonical document. */
  private def canonicalKeep(df: DataFrame, idCol: String, pairs: DataFrame)
      : DataFrame = {
    val cc = graft.clustering.ConnectedComponents.run(pairs, "id_l", "id_r")
    df.select(col(idCol).as("doc_id"))
      .join(cc.withColumnRenamed("node_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"))
      .withColumn("keep",
        (col("doc_id") === col("canonical_id")).cast("int"))
  }

  /** End-to-end SimHash dedupe — the simhash twin of [[dedupeByMinhash]]:
    * band-blocked hamming pairs -> CC closure -> canonical (min id) keep
    * flag per near-dup cluster. */
  def dedupeBySimhash(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, shingleQ: Int = 8,
      blockKeys: Seq[Column] = Nil): DataFrame =
    canonicalKeep(df, idCol, simhashDedupPairs(df, idCol, textCol,
      maxHamming, shingleQ, blockKeys))

  // ------------------------------------------------------------- simhash

  /** 64-bit SimHash from a token array (native expression, see
    * [[graft.functions.SimHash64]]). */
  def simhash(tokens: Column): Column = graft.functions.funcs.simhash64(tokens)

  /** SimHash near-dup pairs: 4x16-bit band blocking (any equal band ->
    * candidate; hamming distance <= maxHamming verifies). A pair within
    * hamming distance d < 4 is guaranteed to share an exact band.
    *
    * `blockKeys` adds cheap equality pre-blocking to the bucket join —
    * corpora with a shared small vocabulary produce tightly-clustered
    * simhash values whose bands collide near-quadratically; a coarse
    * length/lang key bounds bucket size (near-dups share it by
    * construction). */
  def simhashDedupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, shingleQ: Int = 8,
      blockKeys: Seq[Column] = Nil): DataFrame = {
    val raw = widened(df, col(idCol).as("id") +: col(textCol).as("__text") +:
      blockKeys.zipWithIndex.map { case (k, i) => k.as(s"bk$i") })
    val base = raw.select(
      (col("id") +: simhash(shingles(col("__text"), shingleQ)).as("sh") +:
        blockKeys.indices.map(i => col(s"bk$i"))): _*)
    val keyCols = blockKeys.indices.map(i => s"bk$i")
    val banded = base.select(
      (col("id") +: col("sh") +: keyCols.map(col) :+
        explode(bands64(col("sh"))).as("b")): _*)
      .select((col("id") +: col("sh") +: keyCols.map(col) :+
        col("b.band") :+ col("b.band_val")): _*)
    val l = banded.alias("l")
    val r = banded.alias("r")
    val joinCond = (Seq(col("l.band") === col("r.band"),
      col("l.band_val") === col("r.band_val"), col("l.id") < col("r.id")) ++
      keyCols.map(k => col(s"l.$k") === col(s"r.$k"))).reduce(_ && _)
    l.join(r, joinCond)
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"),
        bit_count(col("l.sh").bitwiseXOR(col("r.sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * Perceptual image near-duplicates: decode pixels, hash with aHash (or
   * dHash), then EXACTLY the SimHash scale shape — 4x16-bit band blocking
   * over the 64-bit signature, hamming verify at `maxHamming`. A pair
   * within hamming distance < 4 always shares an exact band; the banded
   * frame carries only (id, hash, band) scalars, never pixels, so the
   * shuffle is as narrow as the text path's. Makes multimodal columns
   * first-class dedup citizens: brightness/contrast-shifted or lightly
   * edited copies land within a few bits of each other.
   *
   * @param media  frame with (media_id, payload binary) — see
   *               [[MultimodalOps.imageHashes]]
   * @param useDHash verify on the difference hash instead of aHash
   * @return (id_l, id_r, hamming), id_l < id_r, undecodable payloads absent
   */
  def imageNearDuplicates(media: DataFrame, maxHamming: Int = 3,
      useDHash: Boolean = false): DataFrame = {
    // the codegen'd native expression keeps the decode inside the columnar
    // plan — no RDD boundary, payload column prunable upstream
    val hash =
      if (useDHash) graft.functions.funcs.dhash64(col("payload"))
      else graft.functions.funcs.ahash64(col("payload"))
    val base = media
      .select(col("media_id").as("id"), hash.as("sh"))
      .filter(col("sh").isNotNull)
    val banded = base.select(col("id"), col("sh"),
        explode(bands64(col("sh"))).as("b"))
      .select(col("id"), col("sh"), col("b.band"), col("b.band_val"))
    banded.alias("l").join(banded.alias("r"),
        col("l.band") === col("r.band") &&
          col("l.band_val") === col("r.band_val") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"),
        bit_count(col("l.sh").bitwiseXOR(col("r.sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // --------------------------------------------------- embedding cosine

  /** Cosine similarity of two float/double-array columns (double
    * accumulation). Native one-pass kernel ([[graft.functions.CosineSim]]):
    * Spark evaluates higher-order `aggregate`/`zip_with` lambdas
    * interpreted, which would put four closure calls per element in the
    * ANN re-rank hot loop; the kernel is bit-identical (same fold order)
    * and stays inside whole-stage codegen. */
  def cosine(l: Column, r: Column): Column =
    graft.functions.funcs.cosine_sim(l, r)

  /** Deterministic seed centroids: the `k` corpus vectors with the
    * smallest portable id hash, in hash order (rank = cell index). A
    * hash-ranked bottom-k is a uniform deterministic sample over the WHOLE
    * corpus (same shape as the IVF quantizer sample — never `limit(n)`,
    * which reads one file's rows) that runs as a distributed top-k, and
    * that any engine with md5 can replay exactly. */
  def seedCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int): Array[Array[Double]] =
    // a vector containing a null ELEMENT can never win a cosine (the
    // kernel nulls out), so it must not become a centroid either — and the
    // driver-side Number match below would throw on it
    df.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0 &&
        !exists(col(vecCol), _.isNull))
      .select(col(vecCol), TextOps.portableHash(col(idCol)).as("__h"),
        col(idCol).as("__id"))
      .orderBy(col("__h"), col("__id")).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Any](0).map {
        case f: java.lang.Float => f.toDouble
        case n: java.lang.Number => n.doubleValue
      }.toArray)

  /** Cell = index of the highest-cosine seed (9dp-rounded so the argmax is
    * engine-portable; ties break to the lower cell index). */
  private def cellByCosine(vec: Column, seeds: Array[Array[Double]]): Column = {
    val pairs = array(seeds.zipWithIndex.map { case (sv, i) =>
      struct((-round(cosine(vec, typedLit(sv.toSeq)), 9)).as("d"),
        lit(i).as("i"))
    }: _*)
    array_min(pairs).getField("i")
  }

  /**
   * SemDeDup-style semantic deduplication (embedding-space near-dup
   * removal; Abbas et al. 2023, arXiv:2303.09540): partition the embedding
   * space into cells around deterministic seed centroids, emit within-cell
   * pairs at cosine >= threshold, close transitively (same CC as every
   * other dedupe), keep one canonical id (min) per semantic group.
   *
   * 100 TB shape: seeds are driver literals folded into one codegen'd
   * assignment scan; the only shuffle keys on the cell id; pair expansion
   * is quadratic ONLY within a cell, so `nCells` is the cost dial
   * (SemDeDup's k in the paper) — size it so corpus/nCells rows fit a
   * task. Transitive closure is the pointer-jumping CC.
   *
   * @return (idCol, canonical_id, keep) — keep = 1 on the retained row
   */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      nCells: Int, threshold: Double): DataFrame = {
    val seeds = seedCentroids(df, idCol, vecCol, nCells)
    // null/empty vectors can't be assigned a cell — they fall out of the
    // pair stage and come back as their own singleton via the final join
    val base = widened(df, Seq(col(idCol).as("id"), col(vecCol).as("vec")))
      .filter(col("vec").isNotNull && size(col("vec")) > 0)
      .select(col("id"), col("vec"), cellByCosine(col("vec"), seeds).as("cell"))
    val l = base.alias("l")
    val r = base.alias("r")
    // cosine filtered on the ROUNDED value (float math; see embeddingDupPairs)
    val pairs = l.join(r,
        col("l.cell") === col("r.cell") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"),
        round(cosine(col("l.vec"), col("r.vec")), 9).as("cosine"))
      .filter(col("cosine") >= threshold)
    val cc = graft.clustering.ConnectedComponents.run(pairs, "id_l", "id_r")
    df.select(col(idCol))
      .join(cc.withColumnRenamed("node_id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("canonical_id"))
      .withColumn("keep",
        (col(idCol) === col("canonical_id")).cast("int"))
  }

  /** Embedding near-dup pairs above a cosine threshold, within blocking
    * buckets given by `bucket` (pass a constant to brute-force a subset). */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
      bucket: Column, threshold: Double): DataFrame = {
    val base = widened(df,
      Seq(col(idCol).as("id"), col(vecCol).as("vec"), bucket.as("bk")))
    val l = base.alias("l")
    val r = base.alias("r")
    // NOTE: unlike the jaccard operators (exact rational arithmetic, filtered
    // unrounded), cosine is float math whose last ulp differs across engines —
    // filtering the ROUNDED value keeps thresholds deterministic everywhere.
    l.join(r, col("l.bk") === col("r.bk") && col("l.id") < col("r.id"))
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"),
        round(cosine(col("l.vec"), col("r.vec")), 9).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  // ------------------------------------- duplicated spans (exact substrings)

  /** xxhash64 of every k-token window of a token array, by start position.
    * Entirely codegen'd built-ins (sequence/transform/slice/array_join);
    * empty for documents shorter than k tokens. Kept for caller-supplied
    * token arrays; the span-dedup operators below take the raw text
    * through [[windowHashesText]] instead. */
  def windowHashes(tokens: Column, k: Int): Column = {
    require(k >= 1, s"window size must be >= 1; got $k")
    when(size(tokens) >= k,
      transform(sequence(lit(0), size(tokens) - k),
        i => xxhash64(array_join(slice(tokens, i + 1, lit(k)), " "))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** [[windowHashes]] over `TextOps.tokens(text)` as ONE native kernel
    * pass (`token_window_hashes`): the tokens -> transform -> slice ->
    * array_join -> xxhash64 chain allocated a token array, k sliced
    * arrays and a joined STRING per window just to produce a long; the
    * kernel hashes each token once over its UTF-8 bytes and folds the k
    * token hashes per window. Window equality fidelity is unchanged
    * (64-bit hash keys, internal only), actual hash VALUES differ from
    * [[windowHashes]] — never mix the two within one operator. */
  def windowHashesText(text: Column, k: Int): Column = {
    require(k >= 1, s"window size must be >= 1; got $k")
    graft.functions.funcs.token_window_hashes(text, k)
  }

  /** Cross-document duplicated-span detection at token granularity —
    * exact-substring training-data dedup in the style of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better"
    * (arXiv:2107.06499), re-shaped for Spark instead of a suffix array:
    * every k-token window is hashed; a window whose hash occurs in at
    * least `minDocs` distinct documents is duplicated; per document,
    * overlapping or token-adjacent duplicated windows merge into maximal
    * spans with a gaps-and-islands window pass, so every token inside a
    * reported span is covered by some cross-document duplicated window.
    *
    * 100 TB shape: the wide exchange carries only (hash, id, pos) scalars
    * — no text leaves the scan stage; the duplicated-hash table is
    * typically tiny and the join back broadcasts. The island merge
    * shuffles one row per duplicated window, keyed by document.
    *
    * @return (idCol, span_start, span_end, n_windows) with inclusive
    *         0-based token indices.
    */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 10, minDocs: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wins = widened(df, Seq(col(idCol).as("__id"),
        col(textCol).as("__text")))
      .select(col("__id"),
        posexplode(windowHashesText(col("__text"), k)).as(Seq("pos", "h")))
    val dupHashes = wins.groupBy("h")
      .agg(count_distinct(col("__id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("h")
    val w = Window.partitionBy("__id").orderBy("pos")
    val prevEnd = max(col("pos") + lit(k - 1))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    val island = sum(
      when(col("pos") > coalesce(prevEnd, lit(Int.MinValue)) + 1, 1).otherwise(0)).over(w)
    wins.join(dupHashes, "h")
      .withColumn("__island", island)
      .groupBy(col("__id"), col("__island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("__id").as(idCol), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  /** Remove cross-document duplicated spans — the "apply" step of
    * exact-substring dedup (Lee et al. arXiv:2107.06499 remove
    * all-but-one occurrence). Each duplicated k-token window is owned by
    * the smallest document id that contains it; every token of a window
    * occurring in a NON-owning document is dropped. Retention is
    * PER-WINDOW, not per-span: a document keeps the tokens of windows it
    * owns unless a DIFFERENT overlapping duplicated window owned by a
    * third document covers them, so an exact duplicated substring can in
    * principle vanish from every document when ownership of its
    * overlapping windows is split (same property as the reference
    * implementation of the paper, which cuts each marked byte range
    * independently). Output text is single-space re-joined tokens
    * (whitespace-normalised).
    *
    * Same scale shape as [[duplicatedSpans]], plus one bounded
    * `collect_set` of foreign window starts per document (list size <=
    * the document's own window count) consumed by a codegen'd
    * filter/exists mask — no per-token shuffle.
    *
    * @return (idCol, text_deduped, n_removed) with n_removed counting
    *         dropped tokens.
    */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 10, minDocs: Int = 2): DataFrame = {
    // __t tokens are still needed for the re-join of kept tokens; the
    // window HASHES come from the kernel over the raw text (same token
    // semantics, verified in ShingleKernelSpec)
    val base = widened(df, Seq(col(idCol).as("__id"),
      col(textCol).as("__text"), TextOps.tokens(col(textCol)).as("__t")))
    val wins = base.select(col("__id"),
      posexplode(windowHashesText(col("__text"), k)).as(Seq("pos", "h")))
    val owners = wins.groupBy("h")
      .agg(count_distinct(col("__id")).as("__nd"), min(col("__id")).as("__owner"))
      .filter(col("__nd") >= minDocs)
      .select(col("h"), col("__owner"))
    val foreignStarts = wins.join(owners, "h")
      .filter(col("__id") =!= col("__owner"))
      .groupBy(col("__id"))
      .agg(collect_set(col("pos")).as("__starts"))
    base.join(foreignStarts, Seq("__id"), "left")
      .withColumn("__s", coalesce(col("__starts"), array().cast("array<int>")))
      .withColumn("__kept", filter(col("__t"), (tok, i) =>
        !exists(col("__s"), s => i >= s && i <= s + (k - 1))))
      .select(col("__id").as(idCol),
        array_join(col("__kept"), " ").as("text_deduped"),
        (size(col("__t")) - size(col("__kept"))).cast("bigint").as("n_removed"))
  }

  /** Per-document duplicated-token summary over [[duplicatedSpans]]:
    * token count, tokens covered by duplicated spans, and their ratio.
    * Documents with no duplicated span report 0. */
  def duplicatedTokenStats(df: DataFrame, idCol: String, textCol: String,
      k: Int = 10, minDocs: Int = 2): DataFrame = {
    val spans = duplicatedSpans(df, idCol, textCol, k, minDocs)
      .groupBy(col(idCol))
      .agg(sum(col("span_end") - col("span_start") + 1).as("dup_tokens"))
    df.select(col(idCol),
        TextOps.tokenCountNative(col(textCol)).cast("bigint").as("n_tokens"))
      .join(spans, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)) /
          greatest(col("n_tokens"), lit(1L)).cast("double"), 9).as("dup_ratio"))
  }
}
