package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Linker
import graft.operators.{Blocking, ComparisonVectors, Predict, TermFrequency}

/** Bulk dedupe over planted entity clusters. Set-up trains the model once
  * (two EM sessions); each operation is one dedupe job with it: new
  * linker -> predict -> connected components. */
final class ErBatch(spark: SparkSession, scale: Scale, seed: Long,
    injectFault: Boolean) extends Workload {
  import Workload._

  /** Match probability at which pairs join a cluster. */
  private val Threshold = 0.95
  /** Pairwise F1 of the clusters against the planted entities must reach
    * this; with the generator's typo and null rates it lands near 0.8. */
  private val F1Floor = 0.7
  /** Each job runs ~40 Spark jobs, so the driver-side planning and
    * scheduling code the JIT compiles gets hot per job, not per row, and
    * job latency keeps falling for the first ~10 jobs. */
  private val WarmUpJobs = 8

  private var people: Gen.People = _
  private var records: DataFrame = _
  private var expectedPairs = 0L
  private var firstDigest: Option[Long] = None
  private var lastF1 = 0.0
  private var lastEmIterations = 0
  private var lastClusters = 0L
  private var lastPreds: Option[DataFrame] = None
  private var trained: graft.model.LinkSettings = _

  def prepare(dir: String): Unit = {
    people = Gen.people(scale.persons, seed)
    records = PersonModel.writeRead(spark, people.records, s"$dir/persons", 8)
    expectedPairs = ErBatch.expectedPairs(people.records, PersonModel.predictRules) +
      (if (injectFault) 1 else 0)
  }

  /** Train the model, then untimed jobs until the JIT has settled; the
    * first pins the pair digest later jobs must reproduce. */
  def warmUp(tracer: Tracer): Seq[OpOutcome] = {
    val linker = new Linker(records, PersonModel.settings(people.records.length))
    lastEmIterations = PersonModel.train(tracer, linker)
    trained = linker.settings
    Seq.fill(WarmUpJobs)(op(tracer, 0, traced = false, trace = -1))
  }

  def op(tracer: Tracer, client: Int, traced: Boolean, trace: Long): OpOutcome = {
    val t = if (traced) tracer else Tracer.off
    t.root("er_batch.job", trace) {
      val linker = t.span("linker.new")(new Linker(records, trained))
      val (preds, (pairs, dg)) =
        if (!traced) {
          val p = linker.predict().persist(StorageLevel.MEMORY_AND_DISK)
          (p, digest(p, col("unique_id_l"), col("unique_id_r")))
        } else {
          t.span("operators.concat_tf")(linker.concatWithTf.count())
          t.span("operators.blocking")(linker.computeBlockedPairsForPredict().count())
          val cv = t.span("operators.cv") {
            val c = linker.comparisonVectors().persist(StorageLevel.MEMORY_AND_DISK)
            c.count(); c
          }
          val out = t.span("operators.predict") {
            val p = Predict.score(cv, linker.settings).persist(StorageLevel.MEMORY_AND_DISK)
            (p, digest(p, col("unique_id_l"), col("unique_id_r")))
          }
          cv.unpersist()
          out
        }
      val clusters = t.span("clustering.cc") {
        linker.clusterPairwisePredictionsAtThreshold(preds, Threshold)
          .select(col("unique_id"), col("cluster_id")).collect()
      }
      val f1 = ErBatch.pairwiseF1(clusters.map(r => (r.getLong(0), r.getLong(1))), people.entity)
      lastF1 = f1
      lastClusters = clusters.iterator.map(_.getLong(1)).distinct.size.toLong
      if (traced) { lastPreds.foreach(_.unpersist()); lastPreds = Some(preds) }
      else preds.unpersist()
      linker.invalidateCache()
      if (firstDigest.isEmpty) firstDigest = Some(dg)
      val failures = Seq(
        "candidate_pairs" -> (pairs == expectedPairs),
        "pair_digest" -> firstDigest.contains(dg),
        "pairwise_f1" -> (f1 >= F1Floor)).collect { case (n, false) => n }
      OpOutcome(failures)
    }
  }

  override def kernels(tracer: Tracer): Map[String, KernelStat] =
    lastPreds.map(PersonModel.kernels(tracer, _)).getOrElse(Map.empty) +
      ("estimate_u" -> PersonModel.estimateU(tracer, new Linker(records, trained)))

  override def counts(): Map[String, Double] = {
    val base = Map(
      "operators.candidate_pairs" -> (expectedPairs - (if (injectFault) 1 else 0)).toDouble,
      "training.em_iterations" -> lastEmIterations.toDouble,
      "clustering.clusters" -> lastClusters.toDouble,
      "clustering.pairwise_f1" -> lastF1)
    lastPreds.fold(base) { preds =>
      val truth = spark.createDataFrame(people.entity.zipWithIndex.toSeq
        .map { case (e, i) => (i.toLong, e) }).toDF("uid", "entity")
      val truePairs = preds.select("unique_id_l", "unique_id_r")
        .join(truth.withColumnRenamed("uid", "unique_id_l").withColumnRenamed("entity", "el"),
          "unique_id_l")
        .join(truth.withColumnRenamed("uid", "unique_id_r").withColumnRenamed("entity", "er"),
          "unique_id_r")
        .filter(col("el") === col("er")).count()
      val edges = preds.filter(col("match_probability") >= Threshold).count()
      // distinct gamma patterns over each EM session's blocked pairs (the
      // rows the E-step iterates over, before term-frequency terms)
      val patterns = PersonModel.emRules.map { rule =>
        val s = trained.copy(blockingRules = Seq(rule))
        ComparisonVectors.compute(Blocking.blockedIdPairs(records, s),
            TermFrequency.joinAll(records, s.tfColumns), s)
          .select(s.comparisons.map(c => col(c.gammaColumnName)): _*)
          .distinct().count()
      }.sum
      base ++ Map(
        "operators.blocking_precision" -> truePairs.toDouble / math.max(1L, preds.count()),
        "clustering.cc_edges" -> edges.toDouble,
        "training.em_patterns" -> patterns.toDouble)
    }
  }

  override def close(): Unit = lastPreds.foreach(_.unpersist())
}

object ErBatch {
  /** Candidate pairs of a dedupe under block_on rules, counted without the
    * blocking join: by inclusion-exclusion over group sizes, pairs of rule
    * k agreeing on no earlier rule are
    * sum over subsets S of earlier rules of (-1)^|S| * pairs(keys(k) u keys(S)),
    * where pairs(cols) sums n(n-1)/2 over the groups of records whose cols
    * are all non-null. */
  def expectedPairs(records: Array[Gen.Person], rules: Seq[Seq[String]]): Long = {
    def value(p: Gen.Person, c: String): String = c match {
      case "first_name" => p.firstName
      case "surname" => p.surname
      case "dob" => p.dob
      case "city" => p.city
    }
    def pairs(cols: Seq[String]): Long =
      records.iterator.map(p => cols.map(value(p, _)))
        .filter(_.forall(_ != null))
        .toSeq.groupBy(identity).valuesIterator
        .map(g => g.size.toLong * (g.size - 1) / 2).sum
    rules.indices.map { k =>
      (0 until (1 << k)).map { mask =>
        val earlier = (0 until k).filter(j => (mask & (1 << j)) != 0)
        val cols = (rules(k) ++ earlier.flatMap(rules)).distinct.sorted
        val sign = if (earlier.size % 2 == 0) 1L else -1L
        sign * pairs(cols)
      }.sum
    }.sum
  }

  /** Pairwise F1 of predicted clusters (uid, cluster) against the planted
    * entity of each uid (uids index `entity`). */
  def pairwiseF1(assign: Array[(Long, Long)], entity: Array[Int]): Double = {
    def choose2(n: Long) = n * (n - 1) / 2
    val predicted = assign.groupBy(_._2).valuesIterator.map(g => choose2(g.length)).sum
    val truth = entity.groupBy(identity).valuesIterator.map(g => choose2(g.length)).sum
    val both = assign.groupBy { case (uid, c) => (c, entity(uid.toInt)) }
      .valuesIterator.map(g => choose2(g.length)).sum
    if (predicted + truth == 0) 1.0 else 2.0 * both / (predicted + truth)
  }
}
