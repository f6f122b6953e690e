package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model._
import graft.model.{ComparisonLibrary => cl, LevelLibrary => ll}

/** What one operation reports: the names of the output checks it failed
  * (empty when correct). */
final case class OpOutcome(failures: Seq[String])

/** A kernel evaluated alone: rows it saw, input units (pairs or MB) and
  * the seconds of each repetition. */
final case class KernelStat(rows: Long, units: Double, seconds: Seq[Double])

/** One benchmark workload. The harness calls [[prepare]] (repeatedly, into
  * fresh directories), [[warmUp]] once, then [[op]] in a closed loop from
  * [[clients]] threads; traced runs add [[kernels]] and [[counts]]. */
trait Workload {
  def clients: Int = 1
  /** Generate the seeded inputs, write them under `dir` as parquet and
    * read them back (the program sees only `spark.read.parquet` frames). */
  def prepare(dir: String): Unit
  /** Untimed first operation(s): class loading, codegen, JIT, caches. */
  def warmUp(tracer: Tracer): Seq[OpOutcome]
  /** One operation of client `client`; spans are recorded when the
    * tracer is enabled and `traced` is set. */
  def op(tracer: Tracer, client: Int, traced: Boolean, trace: Long): OpOutcome
  /** Each kernel of the layer `graft.functions` this workload leans on,
    * evaluated alone over the workload's own data (traced run only). */
  def kernels(tracer: Tracer): Map[String, KernelStat] = Map.empty
  /** Per-layer counts measured where the work happens (traced run only). */
  def counts(): Map[String, Double] = Map.empty
  /** Release cached frames before the session stops. */
  def close(): Unit = ()
}

object Workload {
  def apply(name: String, spark: SparkSession, scale: Scale, seed: Long,
      injectFault: Boolean): Workload = name match {
    case "er_batch" => new ErBatch(spark, scale, seed, injectFault)
    case "er_serve" => new ErServe(spark, scale, seed, injectFault)
    case "corpus_dedup" => new CorpusDedup(spark, scale, seed, injectFault)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Force a frame's output with an aggregate the optimiser cannot fold
    * away: (rows, order-independent digest of `keys`). */
  def digest(df: DataFrame, keys: Column*): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(xxhash64(keys: _*).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1).remainder(java.math.BigDecimal.valueOf(Long.MaxValue)).longValue)
  }

  /** Time `body` `reps` times under span `functions.<name>`. */
  def kernel(tracer: Tracer, name: String, rows: Long, units: Double, reps: Int)(
      body: => Unit): KernelStat = {
    val secs = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      tracer.span(s"functions.$name")(body)
      (System.nanoTime() - t0) / 1e9
    }
    KernelStat(rows, units, secs)
  }

  /** `df` repeated ceil(`times`) times, cached and materialised. */
  def replicated(df: DataFrame, times: Double): DataFrame = {
    val big = df.sparkSession.range(math.max(1L, math.ceil(times).toLong)).toDF("__rep")
      .crossJoin(df).drop("__rep")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    big.count()
    big
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Input sizes of one scale. `full` is what the benchmark measures;
  * `tiny` exists for the benchmark's own smoke test. */
final case class Scale(name: String, persons: Int, serveCorpus: Int,
    servePool: Int, docs: Int)

object Scale {
  val full = Scale("full", persons = 40000, serveCorpus = 8000, servePool = 500,
    docs = 4000)
  val tiny = Scale("tiny", persons = 3000, serveCorpus = 3000, servePool = 200,
    docs = 1500)
  def apply(name: String): Scale = name match {
    case "full" => full
    case "tiny" => tiny
    case other => throw new IllegalArgumentException(s"unknown scale $other")
  }
}

/** The person records and the Fellegi-Sunter model both ER workloads use. */
object PersonModel {
  val schema: StructType = StructType(Seq(
    StructField("unique_id", LongType, nullable = false),
    StructField("first_name", StringType), StructField("surname", StringType),
    StructField("dob", StringType), StructField("city", StringType)))

  def row(p: Gen.Person): Row = Row(p.id, p.firstName, p.surname, p.dob, p.city)

  def frame(spark: SparkSession, ps: Seq[Gen.Person]): DataFrame =
    spark.createDataFrame(ps.map(row).asJava, schema)

  /** Write `ps` as parquet under `path` and read it back. */
  def writeRead(spark: SparkSession, ps: Array[Gen.Person], path: String,
      files: Int): DataFrame = {
    frame(spark, ps.toSeq).repartition(files).write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  /** Prediction blocking rules, in order (rule k emits only the pairs no
    * earlier rule caught). */
  val predictRules: Seq[Seq[String]] = Seq(
    Seq("first_name", "surname"), Seq("surname", "dob"),
    Seq("first_name", "dob"), Seq("city", "dob"))

  val emRules: Seq[BlockingRule] = Seq(
    BlockingRule.blockOn("first_name", "surname"), BlockingRule.blockOn("dob"))

  /** The model before training: levels carry the library's default m/u
    * (`Training.withDefaultMU`), which the EM sessions then refine. */
  def settings(records: Long): LinkSettings = graft.training.Training.withDefaultMU(LinkSettings(
    linkType = LinkType.DedupeOnly,
    blockingRules = predictRules.map(cols => BlockingRule.blockOn(cols: _*)),
    comparisons = Seq(
      cl.name("first_name", tfAdjustment = true),
      Comparison("surname", Seq(ll.nullLevel("surname"),
        ll.exactMatch("surname", tfAdjustment = true),
        ll.levenshtein("surname", 1), ll.levenshtein("surname", 2), ll.elseLevel)),
      cl.damerauLevenshteinAtThresholds("dob", Seq(1, 2)),
      cl.exactMatch("city")),
    // planted clusters average ~2.6 records: ~0.8 matching pairs per record
    probabilityTwoRandomRecordsMatch = 1.6 / records))

  /** Train a fresh linker the way the workloads do: one EM session per
    * training rule (m only; u keeps its default). Returns the EM iteration
    * count. */
  def train(tracer: Tracer, linker: graft.Linker): Int =
    emRules.map { rule =>
      tracer.span("training.em") {
        linker.training.estimateParametersUsingExpectationMaximisation(rule)
          .iterations
      }
    }.sum

  /** `estimateU` by random sampling, once, as a probe outside the measured
    * operations (traced runs only): rows sampled and seconds taken. */
  def estimateU(tracer: Tracer, linker: graft.Linker): KernelStat = {
    val t0 = System.nanoTime()
    tracer.span("training.estimate_u")(linker.training.estimateU(maxPairs = MaxUPairs, seed = Some(1L)))
    KernelStat(MaxUPairs, MaxUPairs / 1e6, Seq(Workload.secondsSince(t0)))
  }
  private val MaxUPairs = 1000000L

  /** The three ER kernels over a frame carrying `_l`/`_r` match columns,
    * replicated to at least a million pairs so the kernels, not per-job
    * overhead, dominate. */
  def kernels(tracer: Tracer, pairs: DataFrame): Map[String, KernelStat] = {
    import graft.functions.funcs
    val cols = Seq("first_name", "surname", "dob").flatMap(c => Seq(s"${c}_l", s"${c}_r"))
    val big = Workload.replicated(pairs.select(cols.map(col): _*), 1e6 / pairs.count())
    val n = big.count()
    def run(name: String, c: Column) =
      name -> Workload.kernel(tracer, name, n, n / 1e6, reps = 3) {
        big.agg(sum(c)).collect()
      }
    try Map(
      run("jaro_winkler", funcs.jaro_winkler(col("first_name_l"), col("first_name_r"))),
      run("levenshtein",
        funcs.levenshtein_lte(col("surname_l"), col("surname_r"), 2).cast("int")),
      run("damerau_levenshtein",
        funcs.damerau_levenshtein_lte(col("dob_l"), col("dob_r"), 2).cast("int")))
    finally big.unpersist()
  }
}
