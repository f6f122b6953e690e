package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Decide
import graft.operators.Materialise.Ops

/**
 * Corpus-level operators a large-scale training-data pipeline needs beyond
 * per-document text stats: benchmark decontamination (word-n-gram overlap),
 * TF-IDF keyword extraction, sliding-window chunking for embedding
 * pipelines, PII detection/redaction, and repetition-based quality metrics.
 *
 * Scale shape: every op is a single scan plus at most one shuffle keyed on
 * the document id (TF-IDF adds one term-keyed shuffle for document
 * frequencies); the probe set in [[contaminationReport]] is broadcast, so
 * the 100 TB corpus never reshuffles for decontamination.
 */
object CorpusOps {

  /** Word n-grams of the whitespace-tokenised text, joined by single
    * spaces; [] when the text has fewer than n tokens.
    *
    * Shape matters: the n shifted views of the token array are passed as
    * `arrays_zip` ARGUMENTS (each evaluated once per row) and the lambda
    * touches only its lambda variable. Referencing the tokenise expression
    * from inside a lambda re-evaluates the whole split per element —
    * O(tokens²) per document — which made the corpus-metric scans the two
    * slowest queries in the suite (q_repetition 16 s -> ~1 s at sf0.1). */
  def wordNgrams(c: Column, n: Int): Column = {
    val toks = TextOps.tokens(c)
    if (n == 1) toks
    else {
      // arrays_zip names positional fields "0".."n-1" for non-attribute
      // children; the zip pads to the longest input so slice to L-n+1
      val zipped = arrays_zip((0 until n).map(k =>
        if (k == 0) toks else slice(toks, lit(k + 1), size(toks))): _*)
      when(size(toks) < n, array().cast("array<string>"))
        .otherwise(transform(slice(zipped, lit(1), size(toks) - n + 1),
          s => concat_ws(" ", (0 until n).map(k => s(k.toString)): _*)))
    }
  }

  /**
   * Benchmark-decontamination report: for every corpus document, how many
   * of its word n-grams (total and distinct) also appear in the probe
   * (benchmark) collection. Docs with zero overlap are kept with 0 counts
   * so the result is a complete filter column.
   *
   * The distinct probe n-gram set is broadcast — a benchmark suite is tiny
   * next to a training corpus — so the corpus side is one scan + one
   * doc-keyed aggregation, no corpus shuffle on the n-gram key.
   */
  def contaminationReport(corpus: DataFrame, idCol: String, textCol: String,
      probes: DataFrame, probeTextCol: String, n: Int): DataFrame = {
    // grams travel as xxhash64 longs, not strings: the exploded corpus side
    // is the big relation, and 8-byte keys shrink its shuffle/aggregation
    // footprint several-fold (collisions ~grams²/2^64 — negligible)
    // widen the corpus side before the n-gram kernel: a single-row-group
    // parquet scan would otherwise serialise the explode (and the
    // per-doc aggregation it feeds) onto a handful of cores — at sf0.1
    // this was the single slowest query in the suite (8 tasks, ~15s).
    // The probe side is only broadcast, so it is never widened.
    // gram hashing is the native one-pass word_ngram_hashes kernel (r13):
    // the tokens -> arrays_zip -> concat_ws -> xxhash64 chain allocated a
    // token array, n sliced arrays, a struct per position and an n-gram
    // STRING per gram just to produce a long — the kernel FNV-hashes each
    // gram's contiguous span of the normalised text in place. Both sides
    // MUST share the kernel (the hash is the join key).
    val probeGrams = probes
      .select(explode(graft.functions.funcs
        .word_ngram_hashes(col(probeTextCol), n)).as("gram"))
      .distinct()
    val corpusGrams = corpus.select(col(idCol), col(textCol))
      .widened("contamination.corpus")
      .select(col(idCol),
        explode(graft.functions.funcs
          .word_ngram_hashes(col(textCol), n)).as("gram"))
    val hits = corpusGrams.join(broadcast(probeGrams), Seq("gram"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"),
        count_distinct(col("gram")).as("n_distinct_hits"))
    corpus.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("n_distinct_hits"), lit(0L)).as("n_distinct_hits"))
  }

  /**
   * Top-k TF-IDF keywords per document. Rank is fully integer-deterministic
   * (term frequency desc, document frequency asc, term asc) so results are
   * reproducible across engines; the reported score is the standard
   * smoothed tf-idf `tf * (ln((N+1)/(df+1)) + 1)`.
   *
   * The (doc, term) aggregate feeds both the document-frequency rollup and
   * the final join, so it is materialised once (eager lineage break) —
   * without that Spark re-runs the tokenize+explode+aggregate, doubling the
   * heaviest stage. Document frequencies are vocabulary-sized; when the
   * vocabulary is small enough they are broadcast so the big (doc, term)
   * relation never reshuffles on the term key. The per-doc top-k window
   * partitions on the doc id — no global sort.
   */
  def tfidfTopK(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    // per-doc (term, tf) comes from the one-pass token_tf kernel: the old
    // tokenize -> explode -> groupBy(doc, term) chain shuffled one row per
    // (doc, term) pair and allocated a string per TOKEN; the kernel
    // aggregates locally per document, so this frame is computed NARROW
    // (no exchange) and only distinct terms materialise as rows
    val docTerms = df
      .select(col(idCol),
        explode(graft.functions.funcs.token_tf(col(textCol))).as("__tt"))
      .select(col(idCol), col("__tt.term").as("term"),
        col("__tt.tf").cast("bigint").as("tf"))
      .breakLineage(true)
    val docFreqRaw = docTerms.groupBy("term")
      .agg(count(lit(1)).as("doc_freq"))
      .breakLineage(true)
    // Broadcast cutover is byte-estimated, not row-counted: a wide
    // vocabulary of long terms must not OOM the driver just because its
    // row count looks modest. The estimate reads the ALREADY-MATERIALISED
    // frame's real byte size (cached UnsafeRow blocks / parquet file stats)
    // — zero extra Spark jobs, under every policy; a size that cannot be
    // read (blocks lost since the eager break) counts as too big. The
    // forced hint exists because the LogicalRDD leaf has no stats for
    // Catalyst to auto-broadcast on.
    val estBytes = graft.operators.Materialise.materialisedSizeBytes(docFreqRaw)
      .getOrElse(Long.MaxValue)
    val docFreq =
      if (Decide.broadcast(df.sparkSession, "tfidf.vocabulary",
          estBytes) == Decide.Broadcast.Broadcasted) broadcast(docFreqRaw)
      else docFreqRaw
    val total = df.agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(idCol)
      .orderBy(col("tf").desc, col("doc_freq").asc, col("term").asc)
    docTerms
      .join(docFreq, Seq("term"))
      .crossJoin(broadcast(total))
      .withColumn("score", round(col("tf") *
        (log((col("__n") + 1).cast("double") / (col("doc_freq") + 1)) + 1.0), 9))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("doc_freq"),
        col("score"), col("rank"))
  }

  /**
   * Sliding-window character chunking for embedding pipelines: windows of
   * `size` chars every `stride` chars (stride <= size gives overlap), final
   * partial window kept. Empty documents produce no chunks. Pure per-row
   * explode — embarrassingly parallel, no shuffle.
   */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(stride >= 1 && size >= 1, "size and stride must be >= 1")
    val len = length(col(textCol))
    val nChunks = (lit(1) +
      ceil(greatest(len - size, lit(0)).cast("double") / stride)).cast("int")
    df.filter(len > 0)
      .select(col(idCol), col(textCol),
        posexplode(sequence(lit(0), nChunks - 1)).as(Seq("chunk_id", "__i")))
      .select(col(idCol), col("chunk_id"),
        col(textCol).substr(col("chunk_id") * stride + 1, lit(size))
          .as("chunk_text"))
      .withColumn("chunk_chars", length(col("chunk_text")))
  }

  // ---- PII detection ----------------------------------------------------
  // Patterns stay in the common Java-regex / RE2 subset (no lookaround, no
  // backreferences) so external engines can replay the counts exactly.
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
  val PhonePattern = "\\+[0-9]{2}[0-9 -]{7,12}[0-9]"
  val SsnPattern = "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b"

  private val piiPatterns = Seq(
    "n_emails" -> EmailPattern, "n_ipv4" -> Ipv4Pattern,
    "n_phones" -> PhonePattern, "n_ssn" -> SsnPattern)

  /** Per-kind non-overlapping PII match counts plus an `any_pii` flag. */
  def piiCounts(c: Column): Seq[(String, Column)] = {
    val counts = piiPatterns.map { case (name, pat) =>
      name -> regexp_count(c, lit(pat))
    }
    counts :+ ("any_pii" -> counts.map(_._2).reduce(_ + _).>(0))
  }

  /** Text with every PII match replaced by a typed placeholder. */
  def redactPii(c: Column): Column =
    Seq(EmailPattern -> "<EMAIL>", Ipv4Pattern -> "<IP>",
      PhonePattern -> "<PHONE>", SsnPattern -> "<SSN>")
      .foldLeft(c) { case (acc, (pat, tag)) => regexp_replace(acc, pat, tag) }

  // ---- repetition / quality metrics ------------------------------------

  /** Fraction of tokens that are repeats of an earlier token (0 if empty).
    *
    * Distinct-counting runs over xxhash64 of each token, not the strings:
    * `array_distinct` on primitive longs uses a hash set (O(n)) while the
    * string path falls back to pairwise comparison (O(n²) per document).
    * A within-document hash collision (~n²/2^64) would undercount by one —
    * negligible against the ratio's 9-decimal rounding. */
  def dupTokenRatio(c: Column): Column = {
    val toks = TextOps.tokens(lower(c))
    val hashed = transform(toks, t => xxhash64(t))
    when(size(toks) === 0, lit(0.0))
      .otherwise((size(toks) - size(array_distinct(hashed))).cast("double") /
        size(toks))
  }

  /** Fraction of word bigrams that are repeats — catches repeated phrases
    * that token-level dedup misses (boilerplate, chorus lines). Bigram
    * identity is the xxhash64 of the adjacent-token struct (tokens carry
    * no whitespace, so the pair is equivalent to the joined string); longs
    * keep `array_distinct` on its O(n) primitive path. */
  def dupBigramRatio(c: Column): Column = {
    val toks = TextOps.tokens(lower(c))
    val zipped = arrays_zip(toks, slice(toks, lit(2), size(toks)))
    val hashed = transform(
      slice(zipped, lit(1), greatest(size(toks) - 1, lit(0))),
      s => xxhash64(s))
    when(size(toks) < 2, lit(0.0))
      .otherwise((size(hashed) - size(array_distinct(hashed))).cast("double") /
        size(hashed))
  }

  /** Length of the longest whitespace token (0 if empty) — flags
    * base64/URL junk that inflates token counts. */
  def maxWordLen(c: Column): Column = {
    val toks = TextOps.tokens(c)
    when(size(toks) === 0, lit(0))
      .otherwise(array_max(transform(toks, t => length(t))))
  }

  /** Fraction of characters that are ASCII digits (0 for empty text). */
  def digitRatio(c: Column): Column =
    when(length(c) === 0, lit(0.0))
      .otherwise((length(c) - length(regexp_replace(c, "[0-9]", "")))
        .cast("double") / length(c))

  /** All four repetition metrics via the one-pass native kernel
    * ([[graft.functions.RepetitionStats]]): one regex split + one scan per
    * document instead of ~8 interpreted higher-order passes. Output is
    * identical to the individual Column functions above. */
  def repetitionFrame(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val stats = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.RepetitionStats(
        org.apache.spark.sql.GraftSqlBridge.expression(col(textCol))))
    df.select(col(idCol), stats.as("__r"))
      .select(col(idCol),
        round(col("__r.dup_token_ratio"), 9).as("dup_token_ratio"),
        round(col("__r.dup_bigram_ratio"), 9).as("dup_bigram_ratio"),
        col("__r.max_word_len").as("max_word_len"),
        round(col("__r.digit_ratio"), 9).as("digit_ratio"))
  }

  // ---- sequence packing / corpus mixing ---------------------------------

  /**
   * Pack documents into fixed token-budget training sequences, GPT-style:
   * concatenate documents in a deterministic order and cut every `budget`
   * tokens; a document is assigned to the sequence where its first token
   * falls (it may straddle the boundary — exactly what concat-then-chunk
   * pretraining pipelines do).
   *
   * Global concatenation order would serialise the corpus through one
   * task, so documents are first spread over `numBuckets` independent
   * streams by a PORTABLE hash of the id (md5-derived — any engine can
   * replay the assignment) and packed per stream: one shuffle keyed on the
   * bucket, cumulative sum per bucket, no global sort. At 100 TB pick
   * numBuckets ~ executors so each stream packs in parallel.
   *
   * Output: (doc_id, bucket, n_tokens, seq_id, seq_offset) — all integers,
   * so cross-engine comparison is exact.
   */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      budget: Int, numBuckets: Int): DataFrame = {
    require(budget >= 1 && numBuckets >= 1, "budget and numBuckets must be >= 1")
    val base = df.select(col(idCol).as("doc_id"),
      TextOps.tokenCountNative(col(textCol)).cast("bigint").as("n_tokens"),
      (TextOps.portableHash(col(idCol)) % numBuckets).as("bucket"))
    val w = Window.partitionBy("bucket").orderBy("doc_id")
    val start = sum(col("n_tokens")).over(w) - col("n_tokens")
    base.select(col("doc_id"), col("bucket"), col("n_tokens"),
      floor(start / budget).cast("bigint").as("seq_id"),
      (start % budget).as("seq_offset"))
  }

  /**
   * Deterministic weighted corpus mixing: keep each row with a per-group
   * sampling rate (domain/source weighting for training-data mixes). The
   * portable md5 hash makes the sample reproducible across engines and
   * runs; a pure filter, no shuffle, fully pushdown-friendly.
   *
   * Use rates that are exact multiples of 2^-32 (0.5, 0.25, 0.125, ...) if
   * an external engine must replay the cut EXACTLY: the threshold
   * `rate * 2^32` is then an exact integer in both engines.
   */
  def weightedSample(df: DataFrame, idCol: String, groupCol: String,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val rateCol = rates.foldLeft(lit(defaultRate)) {
      case (acc, (k, v)) => when(col(groupCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(TextOps.portableHash(col(idCol)) <
      (rateCol * 4294967296.0).cast("bigint"))
  }

  /**
   * Deterministic train/val/test split assignment: the portable id hash
   * lands each row in one bucket of the cumulative fraction ladder. Same
   * row -> same split on every run, every engine, any partitioning — and
   * the split is a pure scan (no shuffle, no sample()).
   *
   * Thresholds are computed ONCE on the driver and folded in as integer
   * literals, so external replays compare against the identical integers.
   *
   * For leakage-safe splits of near-duplicate corpora, split on the dedup
   * CANONICAL id (`DedupOps.dedupeByMinhash` / `semanticDedup` output)
   * instead of the row id: every member of a dup cluster then lands in
   * the same split (asserted in CorpusOpsSpec).
   */
  def assignSplits(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val thresholds = splits.scanLeft(0.0)(_ + _._2).tail
      .map(c => math.min((c * 4294967296.0).toLong, 4294967296L))
    val h = TextOps.portableHash(col(idCol))
    val assigned = splits.init.zip(thresholds.init)
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), thr), acc) => when(h < thr, lit(name)).otherwise(acc)
      }
    df.withColumn("split", assigned)
  }
}
