package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.clustering.ConnectedComponents
import graft.pipeline.{DedupOps, TextOps}

/** Training-data dedup pass: Gopher quality rules -> MinHash-LSH near-dup
  * dedupe (candidates, connected components, canonical document) ->
  * cross-document duplicated-span removal. */
final class CorpusDedup(spark: SparkSession, scale: Scale, seed: Long,
    injectFault: Boolean) extends Workload {
  import Workload._

  /** Window of the span remover, in tokens (the planted span is 20). */
  private val SpanK = 10
  private val WarmUpPasses = 3

  private var planted: Gen.Corpus = _
  private var docs: DataFrame = _
  private var textMb = 0.0
  private var last = Map.empty[String, Double]

  def prepare(dir: String): Unit = {
    planted = Gen.corpus(scale.docs, seed)
    import spark.implicits._
    val path = s"$dir/docs"
    planted.docs.toSeq.map(d => (d.id, d.text)).toDF("id", "text")
      .repartition(8).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    textMb = planted.docs.iterator.map(_.text.length.toLong).sum / 1e6
  }

  /** Untimed passes until the JIT has settled. */
  def warmUp(tracer: Tracer): Seq[OpOutcome] =
    Seq.fill(WarmUpPasses)(op(tracer, 0, traced = false, trace = -1))

  def op(tracer: Tracer, client: Int, traced: Boolean, trace: Long): OpOutcome = {
    val t = if (traced) tracer else Tracer.off
    val (nKept, flags, removed) = t.root("corpus_dedup.pass", trace) {
      val kept = t.span("pipeline.quality") {
        val q = TextOps.gopherRules(docs, "id", "text").filter(col("keep") === 1).select("id")
        val k = docs.join(q, "id").persist(StorageLevel.MEMORY_AND_DISK)
        (k, k.count())
      }
      var traceCache = Seq.empty[DataFrame]
      val dedup =
        if (!traced) DedupOps.dedupeByMinhash(kept._1, "id", "text")
        else {
          // dedupeByMinhash's three steps, each forced at its layer boundary
          val pairs = t.span("pipeline.minhash") {
            val p = DedupOps.minhashDedupPairs(kept._1, "id", "text")
              .persist(StorageLevel.MEMORY_AND_DISK)
            p.count(); p
          }
          val cc = t.span("clustering.cc") {
            val c = ConnectedComponents.run(pairs, "id_l", "id_r")
              .persist(StorageLevel.MEMORY_AND_DISK)
            c.count(); c
          }
          traceCache = Seq(pairs, cc)
          last = Map("pipeline.near_dup_pairs" -> pairs.count().toDouble,
            "clustering.cc_edges" -> pairs.count().toDouble,
            "clustering.clusters" -> cc.select("cluster_id").distinct().count().toDouble)
          kept._1.select(col("id").as("doc_id"))
            .join(cc.withColumnRenamed("node_id", "doc_id"), Seq("doc_id"), "left")
            .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("canonical_id"))
            .withColumn("keep", (col("doc_id") === col("canonical_id")).cast("int"))
        }
      val flagged = t.span("pipeline.canonical") {
        val d = dedup.persist(StorageLevel.MEMORY_AND_DISK)
        (d, d.select("doc_id", "canonical_id", "keep").collect())
      }
      traceCache.foreach(_.unpersist())
      val survivors = kept._1.join(
        flagged._1.filter(col("keep") === 1).select(col("doc_id").as("id")), "id")
      val spans = t.span("pipeline.span_dedup") {
        DedupOps.removeDuplicatedSpans(survivors, "id", "text", k = SpanK)
          .select("id", "n_removed").collect()
      }
      flagged._1.unpersist()
      kept._1.unpersist()
      (kept._2, flagged._2, spans)
    }
    val failures = CorpusDedup.check(planted, flags, removed, injectFault)
    if (traced) last ++= Map("pipeline.docs_kept" -> nKept.toDouble,
      "clustering.pairwise_f1" -> CorpusDedup.pairwiseF1(planted, flags))
    OpOutcome(failures)
  }

  /** The two text kernels over the corpus text, replicated to at least
    * 16 MB so the kernels, not per-job overhead, dominate. */
  override def kernels(tracer: Tracer): Map[String, KernelStat] = {
    import graft.functions.funcs
    val times = math.ceil(16.0 / textMb)
    val big = replicated(docs.select("text"), times)
    val n = big.count()
    def run(name: String, c: org.apache.spark.sql.Column) =
      name -> kernel(tracer, name, n, textMb * times, reps = 3)(big.agg(sum(size(c))).collect())
    try Map(
      run("shingles_minhash", funcs.shingles_minhash(col("text"), 8, 32).getField("toks")),
      run("window_hashes", funcs.token_window_hashes(col("text"), SpanK)))
    finally big.unpersist()
  }

  override def counts(): Map[String, Double] = last
}

object CorpusDedup {
  /** Least share of the planted near-duplicate pairs that must share a
    * canonical document. MinHash-LSH (32 minhashes in 8 bands of 4) finds
    * a pair of jaccard J with probability 1 - (1 - J^4)^8 only: at the
    * planted pairs' J of 0.8-0.9 it misses one pair in 70 to 5000; one
    * seed in sixteen tried missed one of its ~120 planted pairs. */
  val NearDupRecallFloor = 0.95

  /** Names of the failed checks: every planted exact copy is dropped
    * (keep = 0); at least [[NearDupRecallFloor]] of the planted
    * near-duplicate pairs share a canonical document; no document is
    * merged into a canonical document of another planted group; and the
    * planted span is cut from every document carrying it but one. */
  def check(c: Gen.Corpus, flags: Array[Row], removed: Array[Row],
      injectFault: Boolean): Seq[String] = {
    val keep = flags.iterator.map(r => r.getLong(0) -> r.getInt(2)).toMap
    val canon = flags.iterator.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cut = removed.iterator.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val group = plantedGroup(c)
    val exactOk = c.exactCopies.forall { case (_, copy) =>
      keep.get(copy).contains(if (injectFault) 1 else 0) }
    val found = c.nearDups.count { case (a, b) =>
      canon.contains(a) && canon.get(a) == canon.get(b) }
    val nearOk = found >= NearDupRecallFloor * c.nearDups.length
    val mergesOk = canon.forall { case (d, k) => group(d) == group(k) }
    val spanOk = c.spanDocs.nonEmpty && c.spanDocs.sorted.tail.forall(d =>
      cut.get(d).exists(_ >= 20))
    Seq("exact_copies_dropped" -> exactOk, "near_dups_found" -> nearOk,
      "no_false_merges" -> mergesOk, "span_removed" -> spanOk)
      .collect { case (n, false) => n }
  }

  /** The planted group of each document: the original it was copied or
    * near-duplicated from, else itself. */
  def plantedGroup(c: Gen.Corpus): Long => Long = {
    val group = scala.collection.mutable.Map.empty[Long, Long]
    def root(x: Long): Long = group.get(x).map(root).getOrElse(x)
    (c.exactCopies ++ c.nearDups).foreach { case (o, d) => group(d) = root(o) }
    root
  }

  /** Pairwise F1 of the near-dup clusters against the planted groups
    * (an original with its exact copies and near-duplicates). */
  def pairwiseF1(c: Gen.Corpus, flags: Array[Row]): Double = {
    val root = plantedGroup(c)
    def choose2(n: Long) = n * (n - 1) / 2
    val assign = flags.map(r => (r.getLong(0), r.getLong(1)))
    val predicted = assign.groupBy(_._2).valuesIterator.map(g => choose2(g.length)).sum
    val truth = assign.groupBy(a => root(a._1)).valuesIterator.map(g => choose2(g.length)).sum
    val both = assign.groupBy(a => (a._2, root(a._1))).valuesIterator
      .map(g => choose2(g.length)).sum
    if (predicted + truth == 0) 1.0 else 2.0 * both / (predicted + truth)
  }
}
