package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.funcs
import graft.operators.Decide
import graft.operators.Materialise.Ops

/**
 * Deduplication operators for training-data pipelines, each shaped for a
 * 1000-executor cluster: candidate generation is always a key-partitioned
 * join (never all-pairs), verification runs only inside candidate buckets.
 *
 *  - exact: hash-groupBy on normalised content
 *  - set pairs (token / n-gram Jaccard, containment): one blocked set-join
 *    ([[blockedSetPairs]]), each operator adding only its verify step
 *  - MinHash + LSH and SimHash / image hashes: one band join
 *    ([[bandJoin]]) for the self and the probe-vs-corpus shapes, which
 *    reports the recall its bands guarantee
 *  - embedding cosine: bucketed pairs above a similarity threshold
 *  - near-dup clusters: one CC closure to a canonical id ([[canonicalKeep]])
 */
object DedupOps {

  /** Narrow raw projection, widened BEFORE the per-document
    * shingle/signature kernels run when too few tasks would scan it: a
    * single-row-group input file must not serialise the kernel scan (and
    * the quadratic bucket joins fed by it) onto one core. One
    * `Decide.widen` event, `what=dedup.docs` — see
    * [[graft.operators.Materialise.Ops.widened]]. */
  private def widened(df: DataFrame, cols: Seq[Column]): DataFrame =
    df.select(cols: _*).widened("dedup.docs")

  /** The widened `(id, __text, bk0, bk1, ...)` projection of the blocked
    * operators, and the names of its key columns. */
  private def keyedText(df: DataFrame, idCol: String, textCol: String,
      blockKeys: Seq[Column]): (DataFrame, Seq[String]) = {
    val keys = blockKeys.indices.map(i => s"bk$i")
    (widened(df, col(idCol).as("id") +: col(textCol).as("__text") +:
      blockKeys.zip(keys).map { case (k, n) => k.as(n) }), keys)
  }

  // ---------------------------------------------------------------- exact

  /** One representative (min id) per exact normalised text. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** EXACT set-size prune of every jaccard-thresholded pair: J(A,B) >= t
    * forces |A∩B| >= t*|A∪B| >= t*max(|A|,|B|), and |A∩B| <= min(|A|,|B|)
    * — so min >= t*max or the pair can never verify. Zero false negatives
    * (round-to-nearest of t*max can never overshoot the representable
    * integer min). ONE definition, applied in the jaccard verify step
    * ([[jaccardVerified]]) and in the MinHash band join, before the
    * candidate `distinct` and before any shingle array is fetched. */
  private def sizeRatioOk(nl: Column, nr: Column, threshold: Double): Column =
    least(nl, nr).cast("double") >= lit(threshold) * greatest(nl, nr)

  /** `(names, jaccard)` of pairs whose `l` and `r` sides carry `id` and
    * sorted hashed `toks`, at jaccard >= threshold: filtered UNROUNDED (as
    * an oracle filters the raw ratio), rounded in the projection; the
    * size check short-circuits the linear merge of a pruned pair. */
  private def jaccardVerified(pairs: DataFrame, threshold: Double,
      names: (String, String) = ("id_l", "id_r")): DataFrame = {
    val jac = funcs.jaccard_sorted_longs(col("l.toks"), col("r.toks"))
    pairs.filter(sizeRatioOk(size(col("l.toks")), size(col("r.toks")),
        threshold) && jac >= threshold)
      .select(col("l.id").as(names._1), col("r.id").as(names._2),
        round(jac, 9).as("jaccard"))
  }

  // ------------------------------------------------------------ set pairs

  /** The one blocked set-join: every pair `l.id < r.id` that agrees on all
    * `blockKeys` (cheap, low-ish-cardinality columns), each side carrying
    * `toks = kernel(text)`. Each set-pair operator adds only its verify.
    *
    * Shuffle rows carry SORTED HASHED sets (array<long>), never raw
    * `array<string>` sets: an order of magnitude fewer shuffle bytes for
    * prose, and verification is a native linear merge over sorted longs.
    * Jaccard over 64-bit hashes equals true Jaccard up to ~1e-19
    * collision probability. */
  private def blockedSetPairs(df: DataFrame, idCol: String, textCol: String,
      blockKeys: Seq[Column], kernel: Column => Column): DataFrame = {
    require(blockKeys.nonEmpty, "a blocked set-join needs at least one key")
    val (raw, keys) = keyedText(df, idCol, textCol, blockKeys)
    val sets = raw.select(
      col("id") +: kernel(col("__text")).as("toks") +: keys.map(col): _*)
    sets.alias("l").join(sets.alias("r"),
      (keys.map(k => col(s"l.$k") === col(s"r.$k")) :+
        (col("l.id") < col("r.id"))).reduce(_ && _))
  }

  /** Token-set Jaccard pairs within equality blocks, at jaccard >=
    * threshold: (id_l, id_r, jaccard). */
  def tokenJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockKeys: Seq[Column], threshold: Double): DataFrame =
    jaccardVerified(blockedSetPairs(df, idCol, textCol, blockKeys,
      funcs.hashed_tokens), threshold)

  /** Asymmetric containment pairs: containment(A⊂B) = |A∩B| / |A| — the
    * boilerplate/quotation detector Jaccard cannot express (a short doc
    * fully contained in a long one has low Jaccard but containment 1).
    * Token sets through [[blockedSetPairs]], one native linear-merge
    * intersection per candidate pair; emits a pair when EITHER direction
    * clears the threshold, with both directions reported. Empty-token
    * docs never qualify. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockKeys: Seq[Column], threshold: Double): DataFrame = {
    val inter = funcs.intersect_sorted_longs(col("l.toks"), col("r.toks"))
    val nl = size(col("l.toks")).cast("double")
    val nr = size(col("r.toks")).cast("double")
    // unrounded filter, rounded projection — see jaccardVerified
    blockedSetPairs(df, idCol, textCol, blockKeys, funcs.hashed_tokens)
      .withColumn("__inter", inter)
      .filter(col("__inter") > 0 &&
        (col("__inter") / nl >= threshold || col("__inter") / nr >= threshold))
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"),
        round(col("__inter") / nl, 9).as("containment_l_in_r"),
        round(col("__inter") / nr, 9).as("containment_r_in_l"))
  }

  /** Character n-gram Jaccard pairs: [[tokenJaccardPairs]] over q-shingle
    * sets — catches near-dups that word-level sets miss (reorderings,
    * joined/split words). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockKeys: Seq[Column], threshold: Double, q: Int = 5): DataFrame =
    jaccardVerified(blockedSetPairs(df, idCol, textCol, blockKeys,
      funcs.hashed_shingles(_, q)), threshold)

  // ----------------------------------------------------------- band join

  /** The bands a [[bandJoin]] matches on, the prune their rows allow, and
    * the recall they guarantee. */
  private sealed abstract class Banding(val key: String) {
    def prune: Seq[Column] = Nil
    def recall: String
  }

  /** [[lshBands]] rows with set size `n`: a pair at jaccard t shares one
    * of the k / rows bands with probability 1 - (1 - t^rows)^bands. */
  private final case class MinhashBanding(k: Int, rows: Int, t: Double)
      extends Banding("band_hash") {
    override def prune: Seq[Column] =
      Seq(sizeRatioOk(col("l.n"), col("r.n"), t))
    def recall: String = s"b=${k / rows} r=$rows t=$t " +
      s"recall=${1 - math.pow(1 - math.pow(t, rows), k / rows)}"
  }

  /** [[bands64]] rows: complete below hamming distance 4 (pigeonhole over
    * 4 disjoint slices), approximate above it. */
  private final case class HammingBanding(maxHamming: Int)
      extends Banding("band_val") {
    def recall: String = s"max_hamming=$maxHamming complete=${maxHamming < 4}"
  }

  /** The one band join: `left` against itself (`l.id < r.id`) or against
    * `right`, on (`band`, band key) and `extra`, the left side aliased `l`
    * and the right `r`. Banded rows carry only scalars, so only scalars
    * cross the band exchange. Reports one `recall what=<what> ...` event
    * on the `graft` logger. */
  private def bandJoin(what: String, banding: Banding, left: DataFrame,
      right: Option[DataFrame] = None, extra: Seq[Column] = Nil): DataFrame = {
    Decide.report("recall", what, banding.recall)
    val order = if (right.isEmpty) Seq(col("l.id") < col("r.id")) else Nil
    left.alias("l").join(right.getOrElse(left).alias("r"),
      (Seq(col("l.band") === col("r.band"),
        col(s"l.${banding.key}") === col(s"r.${banding.key}")) ++ order ++
        banding.prune ++ extra).reduce(_ && _))
  }

  // ------------------------------------------------------- minhash + LSH

  /** Character shingles (qgrams) of normalised text — native expression
    * ([[graft.functions.CharShingles]]); the pure-Column equivalent
    * (transform over sequence + substr) is O(n^2) per document. */
  def shingles(text: Column, q: Int = 5): Column =
    funcs.char_shingles(text, q)

  /** MinHash signature of a text column (native one-pass expression; see
    * [[graft.functions.MinHashSig]] — Column-level `a*h+b` arithmetic would
    * throw under Spark 4's default ANSI mode on the intended wrap-around). */
  def minhashSignature(text: Column, q: Int, k: Int): Column =
    funcs.minhash_sig(text, q, k)

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

  /** Shingle -> signature -> band prep of one MinHash side: the
    * checkpointed `(id, toks)` shingle sets and the banded `(id, n, band,
    * band_hash)` frame built from the same scan.
    *
    * Char shingles, not word tokens: small-vocabulary corpora make word
    * sets near-identical across documents, which melts LSH buckets into
    * one giant quadratic bucket; shingles keep signatures diverse.
    * Shingle sets travel as SORTED HASHED longs and come from ONE fused
    * text pass with the signature (bit-identical to the separate
    * hashed_shingles / minhash_sig kernels). The banded frame carries ONLY
    * scalars, never the shingle arrays: exploding the arrays x(bands)
    * through the bucket shuffle would move 8x the bytes of the whole
    * corpus. Set size `n` rides along (one int per row) for the band
    * join's exact [[sizeRatioOk]] prune. */
  private def minhashBands(df: DataFrame, idCol: String, textCol: String,
      k: Int, rowsPerBand: Int, shingleQ: Int): (DataFrame, DataFrame) = {
    val base = widened(df, Seq(col(idCol).as("id"), col(textCol).as("__text")))
      .select(col("id"),
        funcs.shingles_minhash(col("__text"), shingleQ, k).as("sm"))
      .select(col("id"), col("sm.toks").as("toks"), col("sm.sig").as("sig"))
      .filter(size(col("toks")) > 0)
      .breakLineage()
    val banded = base
      .select(col("id"), size(col("toks")).as("n"),
        explode(lshBands(col("sig"), k, rowsPerBand)).as("b"))
      .select(col("id"), col("n"), col("b.band"), col("b.band_hash"))
    (base.select(col("id"), col("toks")), banded)
  }

  /** MinHash-LSH pairs of `left` with itself, or with `right`, verified
    * with exact jaccard. Candidates dedupe as scalar id pairs; then two
    * id-keyed joins fetch the shingle sets once for verification. */
  private def minhashPairs(left: DataFrame, right: Option[DataFrame],
      names: (String, String), idCol: String, textCol: String, k: Int,
      rowsPerBand: Int, threshold: Double, shingleQ: Int): DataFrame = {
    def prep(df: DataFrame) =
      minhashBands(df, idCol, textCol, k, rowsPerBand, shingleQ)
    val (lToks, lBands) = prep(left)
    val (rToks, rBands) = right.fold((lToks, lBands))(prep)
    val (idL, idR) = names
    val cands = bandJoin("dedup.minhash",
        MinhashBanding(k, rowsPerBand, threshold), lBands,
        right.map(_ => rBands))
      .select(col("l.id").as(idL), col("r.id").as(idR))
      .distinct()
    jaccardVerified(cands
      .join(lToks.alias("l"), col(idL) === col("l.id"))
      .join(rToks.alias("r"), col(idR) === col("r.id")), threshold, names)
  }

  /**
   * MinHash-LSH near-duplicate candidate pairs, verified with true token
   * Jaccard. Scale shape: explode to (band, band_hash) — the shuffle key —
   * then self-join per bucket; buckets are tiny for non-pathological data.
   */
  def minhashDedupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 32, rowsPerBand: Int = 4, threshold: Double = 0.7,
      shingleQ: Int = 8): DataFrame =
    minhashPairs(df, None, ("id_l", "id_r"), idCol, textCol, k, rowsPerBand,
      threshold, shingleQ)

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
      threshold: Double = 0.7, shingleQ: Int = 8): DataFrame =
    minhashPairs(probe, Some(corpus), ("probe_id", "corpus_id"), idCol,
      textCol, k, rowsPerBand, threshold, shingleQ)

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
      rowsPerBand, threshold, shingleQ), "doc_id")

  /** The one CC closure over `(id_l, id_r)` near-dup pairs -> `(outCol,
    * canonical_id, keep)` for every document of `df`: canonical = min id
    * of the near-dup cluster (itself for singletons), keep = 1 on the
    * canonical document. */
  private def canonicalKeep(df: DataFrame, idCol: String, pairs: DataFrame,
      outCol: String): DataFrame = {
    val cc = graft.clustering.ConnectedComponents.run(pairs, "id_l", "id_r")
    df.select(col(idCol).as(outCol))
      .join(cc.withColumnRenamed("node_id", outCol), Seq(outCol), "left")
      .select(col(outCol),
        coalesce(col("cluster_id"), col(outCol)).as("canonical_id"))
      .withColumn("keep", (col(outCol) === col("canonical_id")).cast("int"))
  }

  /** End-to-end SimHash dedupe — the simhash twin of [[dedupeByMinhash]]:
    * band-blocked hamming pairs -> CC closure -> canonical (min id) keep
    * flag per near-dup cluster. */
  def dedupeBySimhash(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, shingleQ: Int = 8,
      blockKeys: Seq[Column] = Nil): DataFrame =
    canonicalKeep(df, idCol, simhashDedupPairs(df, idCol, textCol,
      maxHamming, shingleQ, blockKeys), "doc_id")

  // ------------------------------------------------------------- simhash

  /** 64-bit SimHash from a token array (native expression, see
    * [[graft.functions.SimHash64]]). */
  def simhash(tokens: Column): Column = funcs.simhash64(tokens)

  /** Pairs of `(id, sh, keys...)` rows whose 64-bit hashes `sh` lie within
    * `maxHamming` bits, through the [[bands64]] band join (any equal band
    * and equal keys -> candidate): (id_l, id_r, hamming), id_l < id_r. */
  private def hammingPairs(what: String, hashed: DataFrame, keys: Seq[String],
      maxHamming: Int): DataFrame = {
    val banded = hashed.select(col("*"), explode(bands64(col("sh"))).as("b"))
      .select(hashed.columns.toSeq.map(col) :+ col("b.band") :+ col("b.band_val"): _*)
    bandJoin(what, HammingBanding(maxHamming), banded,
      extra = keys.map(k => col(s"l.$k") === col(s"r.$k")))
      .select(col("l.id").as("id_l"), col("r.id").as("id_r"),
        bit_count(col("l.sh").bitwiseXOR(col("r.sh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

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
    val (raw, keys) = keyedText(df, idCol, textCol, blockKeys)
    hammingPairs("dedup.simhash", raw.select(col("id") +:
      simhash(shingles(col("__text"), shingleQ)).as("sh") +: keys.map(col): _*),
      keys, maxHamming)
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
      if (useDHash) funcs.dhash64(col("payload"))
      else funcs.ahash64(col("payload"))
    hammingPairs("dedup.image", media
      .select(col("media_id").as("id"), hash.as("sh"))
      .filter(col("sh").isNotNull), Nil, maxHamming)
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
    // pair stage and come back as their own singleton via canonicalKeep
    val assignable = df.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0)
    canonicalKeep(df, idCol, embeddingDupPairs(assignable, idCol, vecCol,
      cellByCosine(col(vecCol), seeds), threshold), idCol)
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
