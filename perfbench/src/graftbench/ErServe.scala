package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Linker

/** Find-matches serving: a closed loop of [[clients]] callers, each sending
  * `findMatchesToNewRecords` for a seeded batch of 1-10 held-out records to
  * one trained linker over a cached corpus. */
final class ErServe(spark: SparkSession, scale: Scale, seed: Long,
    injectFault: Boolean) extends Workload {
  override val clients = 2
  private val WarmUpRequests = 2
  private val Out = Seq("unique_id_l", "unique_id_r", "match_weight")

  private var pool: Array[Gen.Person] = _
  private var corpus: DataFrame = _
  private var linker: Linker = _
  private var emIterations = 0
  /** Rows of one bulk call over the whole pool: new id -> sorted
    * (corpus id, match weight). */
  private var reference: Map[Long, Seq[(Long, Double)]] = _
  private var bulk: DataFrame = _
  private val schedules = Array.tabulate(clients)(c => new SplittableRandom(seed * 7919 + c))

  def prepare(dir: String): Unit = {
    val people = Gen.people(scale.serveCorpus, seed).records
    pool = Gen.heldOut(people, scale.servePool, 1000000000L, seed)
    corpus = PersonModel.writeRead(spark, people, s"$dir/corpus", 8)
  }

  /** Train and cache the serving linker, take the reference rows from one
    * bulk call, then send a few untimed requests per client. */
  def warmUp(tracer: Tracer): Seq[OpOutcome] = {
    linker = new Linker(corpus, PersonModel.settings(scale.serveCorpus))
    emIterations = PersonModel.train(tracer, linker)
    linker.concatWithTf.count()
    bulk = linker.findMatchesToNewRecords(PersonModel.frame(spark, pool.toSeq))
      .persist(StorageLevel.MEMORY_AND_DISK)
    reference = rowsByNewId(bulk.select(Out.map(col): _*).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    if (injectFault) {
      val (k, v) = reference.head
      reference = reference.updated(k, (-1L, 0.0) +: v)
    }
    val out = new java.util.concurrent.ConcurrentLinkedQueue[OpOutcome]()
    val threads = (0 until clients).map { c =>
      new Thread(() => (0 until WarmUpRequests).foreach(_ =>
        out.add(op(tracer, c, traced = false, trace = -1))))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    out.toArray(Array.empty[OpOutcome]).toSeq
  }

  private def rowsByNewId(rows: Array[(Long, Long, Double)]): Map[Long, Seq[(Long, Double)]] =
    rows.groupBy(_._2).map { case (k, rs) => k -> rs.map(r => (r._1, r._3)).toSeq.sorted }

  private def batch(client: Int): Array[Gen.Person] = schedules(client).synchronized {
    val r = schedules(client)
    val n = 1 + r.nextInt(10)
    Iterator.continually(pool(r.nextInt(pool.length))).distinctBy(_.id).take(n).toArray
  }

  def op(tracer: Tracer, client: Int, traced: Boolean, trace: Long): OpOutcome = {
    val t = if (traced) tracer else Tracer.off
    val b = batch(client)
    val rows = t.root("er_serve.request", trace) {
      val found = t.span("linker.find_matches") {
        linker.findMatchesToNewRecords(PersonModel.frame(spark, b.toSeq)).select(Out.map(col): _*)
      }
      t.span("linker.plan")(found.queryExecution.executedPlan)
      t.span("operators.score_new")(found.collect())
    }
    val got = rowsByNewId(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    val ok = b.forall(p => got.getOrElse(p.id, Nil) == reference.getOrElse(p.id, Nil))
    OpOutcome(if (ok) Nil else Seq("rows_match_bulk"))
  }

  override def kernels(tracer: Tracer): Map[String, KernelStat] =
    PersonModel.kernels(tracer, bulk)

  override def counts(): Map[String, Double] = Map(
    "operators.candidate_pairs" -> bulk.count().toDouble / pool.length,
    "training.em_iterations" -> emIterations.toDouble)

  override def close(): Unit = if (bulk != null) bulk.unpersist()
}
