package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
  Project, Repartition, RepartitionByExpression, Union}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.storage.StorageLevel

/**
 * Pluggable lineage-break policy for every iterative loop and multi-consumer
 * intermediate in the engine (reference:
 * `docs/topic_guides/performance/optimising_spark.md:36-57` and
 * `spark/database_api.py:289-349` — the reference exposes
 * `break_lineage_method = persist | checkpoint | parquet` and DEFAULTS to a
 * parquet round-trip on a real cluster, because non-replicated cached blocks
 * die with their executor and an executor loss mid-iteration then kills the
 * whole job unrecoverably).
 *
 * Every policy returns the same thing: a frame whose plan is ONE fresh
 * leaf, so a loop that joins its previous rounds keeps a flat plan under
 * any policy. Policies, selected per-session via `spark.graft.breakLineage`:
 *
 *  - `localCheckpoint` — the rows persist in non-replicated blocks and
 *    the RDD lineage is truncated. Fastest; safe on a single JVM
 *    (local[n], tests, benchmarks). NOT fault-tolerant on a multi-executor
 *    cluster. Default when the session master is local.
 *  - `persist` — the same blocks, but the RDD keeps its lineage: a lost
 *    block recomputes instead of failing.
 *  - `checkpoint` — the same blocks, plus a reliable checkpoint to the
 *    SparkContext checkpoint dir (set `spark.graft.scratchDir` or call
 *    `setCheckpointDir`); survives executor loss when the dir is on shared
 *    storage (HDFS/S3).
 *  - `parquet` — write + read-back under `spark.graft.scratchDir`; the leaf
 *    is a plain file scan with accurate size stats. The reference's cluster
 *    default: fully fault-tolerant. Default when the master is non-local.
 *
 * The three block-backed policies share one construction
 * (`GraftSqlBridge.rddLeaf`): a `LogicalRDD` over the frame's persisted
 * row RDD, with the origin plan's statistics dropped. Eagerness follows
 * the call site: `breakLineage(eager = true)` computes the frame now (a
 * parquet write is always eager). Every policy computes the frame at most
 * once across its consumers — the invariant every caller relies on.
 *
 * [[release]] is the one way to drop a materialisation before the JVM or
 * the ContextCleaner does; see its safety contract.
 */
object Materialise {

  sealed abstract class Policy(val name: String)
  case object LocalCheckpointPolicy extends Policy("localCheckpoint")
  case object PersistPolicy extends Policy("persist")
  case object CheckpointPolicy extends Policy("checkpoint")
  case object ParquetPolicy extends Policy("parquet")

  val ConfKey = "spark.graft.breakLineage"
  val ScratchDirKey = "spark.graft.scratchDir"

  private val all = Seq(LocalCheckpointPolicy, PersistPolicy,
    CheckpointPolicy, ParquetPolicy)
  private val counter = new AtomicLong(0)
  // default scratch dirs this JVM created, deleted on exit (explicit
  // spark.graft.scratchDir settings are the user's to manage)
  private val ownedDirs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private lazy val hookInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      ownedDirs.forEach(d => deleteRecursively(new java.io.File(d)))))
  }
  // every materialisation this JVM made and has not released: the block
  // RDDs of LogicalRDD leaves (by application and RDD id, so the registry
  // never keeps an RDD reachable from the ContextCleaner) and the scratch
  // paths of parquet leaves
  private val owned = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def rddKey(rdd: org.apache.spark.rdd.RDD[_]): String =
    s"rdd:${rdd.context.applicationId}:${rdd.id}"

  def policy(spark: SparkSession): Policy = {
    val name = spark.conf.get(ConfKey,
      if (spark.sparkContext.isLocal) LocalCheckpointPolicy.name
      else ParquetPolicy.name)
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"$ConfKey=$name is not a materialisation policy; expected one of " +
        all.map(_.name).mkString(", ")))
  }

  private def breakLineage(df: DataFrame, eager: Boolean,
      spill: Boolean): DataFrame = {
    val spark = df.sparkSession
    def blocks(mark: org.apache.spark.rdd.RDD[_] => Unit): DataFrame = {
      // DISK_ONLY for passes that hold MANY large frames alive at once
      // (the graph-metrics scaffold keeps ~8 frames of 35M+ rows live):
      // on-heap blocks become old-generation garbage the collector
      // re-walks every cycle (measured at sf10: 500s of task GC, 36% of
      // the fused query's task time)
      val level =
        if (spill) StorageLevel.DISK_ONLY else StorageLevel.MEMORY_AND_DISK
      val (out, rdd) = org.apache.spark.sql.GraftSqlBridge
        .rddLeaf(df, level, mark, eager)
      owned.add(rddKey(rdd))
      out
    }
    policy(spark) match {
      case LocalCheckpointPolicy => blocks(_.localCheckpoint())
      case PersistPolicy => blocks(_ => ())
      case CheckpointPolicy =>
        val sc = spark.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(scratchDir(spark) + "/checkpoints")
        blocks(_.checkpoint())
      case ParquetPolicy =>
        val path = scratchDir(spark) + f"/mat-${counter.incrementAndGet()}%06d"
        df.write.mode("overwrite").parquet(path)
        owned.add(path)
        // explicit schema: an empty frame writes no part files, and schema
        // inference over an empty directory would fail
        spark.read.schema(df.schema).parquet(path)
    }
  }

  /** The plan nodes holding `df`'s rows: its optimized plan with the views
    * a materialisation is read through stripped — Project, Filter, a
    * repartition (the stored rows, re-partitioned) and Union (a frame
    * stacked from several materialisations, e.g. ConnectedComponents'
    * per-jump slices). Any other node (a join, an aggregate) ends the walk
    * and is returned as it is. This is the one place that knows which plan
    * shapes a materialisation produces. */
  private def sources(df: DataFrame): Seq[LogicalPlan] = {
    def walk(p: LogicalPlan): Seq[LogicalPlan] = p match {
      case v @ (_: Project | _: Filter | _: Repartition |
          _: RepartitionByExpression) => walk(v.children.head)
      case u: Union => u.children.flatMap(walk)
      case other => Seq(other)
    }
    walk(df.queryExecution.optimizedPlan)
  }

  /** Drop every materialisation graft made that `df` reads through views
    * ([[sources]]): the blocks of the lineage-break RDDs and the scratch
    * files of parquet leaves, NOW instead of whenever the ContextCleaner's
    * GC hook or the JVM exit gets to them. Iterative loops need this: a
    * pointer-jump or mutual-best round supersedes a full working frame,
    * and under localCheckpoint the superseded blocks otherwise pile up in
    * unified memory until storage eviction fights join execution mid-loop
    * (measured as 3-10x per-round time spikes in the CC jump loop at
    * sf10); under parquet they pile up as one frame copy per round on
    * disk. Materialisations graft did not make — a user's cache, a file
    * the user loaded, a driver-parallelized frame — are never touched,
    * and nothing under a join or an aggregate is released.
    *
    * SAFETY CONTRACT (the caller's to uphold — MaterialiseSpec
    * fault-injects the violation): everything released must be DEAD.
    * Every frame derived from it that is still to be read must already
    * hold its own blocks or files (an eager breakLineage, or an action
    * that scanned all partitions), and no live frame may share a released
    * leaf — mind a Union, which releases every branch. After release a
    * localCheckpoint or parquet frame fails loudly on any read, a persist
    * frame recomputes from its lineage, a checkpoint frame re-reads its
    * checkpoint files. */
  def release(df: DataFrame): Unit =
    sources(df).foreach {
      case l: LogicalRDD if owned.remove(rddKey(l.rdd)) =>
        rddUnpersistWarnSilenced
        l.rdd.unpersist(blocking = false): Unit
      case rel: LogicalRelation => rel.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.toString).foreach { p =>
            val local = p.stripPrefix("file:")
            if (owned.remove(p) || owned.remove(local))
              deleteRecursively(new java.io.File(local))
          }
        case _ =>
      }
      case _ =>
    }

  /** Exact byte size of an already-materialised frame, read WITHOUT running
    * a Spark job: cached block sizes for block-backed leaves
    * (memSize + diskSize of UnsafeRow blocks is the real row-byte
    * footprint), optimizer file stats for parquet leaves, summed over a
    * stacked frame's leaves. `None` when some leaf's size cannot be read
    * off its materialisation (a lazy break whose blocks are not all
    * computed yet, or a frame that is not materialised). */
  def materialisedSizeBytes(df: DataFrame): Option[Long] = {
    val sizes = sources(df).map {
      case l: LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == l.rdd.id)
          .filter(i => i.numCachedPartitions == i.numPartitions)
          .map(i => i.memSize + i.diskSize)
      case rel: LogicalRelation =>
        Some(rel.stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong)
      case _ => None
    }
    if (sizes.forall(_.isDefined)) Some(sizes.flatten.sum) else None
  }

  /** How many tasks would do work scanning `df`, read WITHOUT running a
    * Spark job, through Project, Filter and Union: a block-backed leaf's
    * partition count, and for a file leaf the partitions its scan plans,
    * but at most one per parquet row group. A byte range of a file is not
    * a task that works: a row group is read by the one task holding its
    * midpoint, so a one-row-group file is one task however many splits
    * the scan cuts it into (a lone file of a few MB is cut into one per
    * core). Row groups are counted at `parquet.block.size`, the parquet
    * writer's row-group size. A persisted frame counts its cache's
    * partitions once every block is built; an unbuilt cache, like any
    * other source (a join, an aggregate, local rows), cannot be read
    * without a job and counts 0, so [[Decide.widen]] widens it. */
  def scanTasks(df: DataFrame): Long = {
    val spark = df.sparkSession
    val rowGroup = spark.sparkContext.hadoopConfiguration
      .getLong("parquet.block.size", 128L << 20)
    def walk(p: LogicalPlan): Long = p match {
      case v @ (_: Project | _: Filter) => walk(v.children.head)
      case u: Union => u.children.map(walk).sum
      case r: Repartition => r.numPartitions
      case r: RepartitionByExpression => r.optNumPartitions.fold(0L)(_.toLong)
      case l: LogicalRDD => l.rdd.getNumPartitions
      case m: InMemoryRelation if m.cacheBuilder.isCachedColumnBuffersLoaded =>
        m.cacheBuilder.cachedColumnBuffers.getNumPartitions
      case l @ LogicalRelation(fs: HadoopFsRelation, _, _, _, _) =>
        val rowGroups = fs.location.listFiles(Nil, Nil).flatMap(_.files)
          .map(f => math.max(1L, (f.getLen + rowGroup - 1) / rowGroup)).sum
        math.min(rowGroups,
          org.apache.spark.sql.GraftSqlBridge.scanPartitions(spark, l))
      case _ => 0L
    }
    walk(df.queryExecution.optimizedPlan)
  }

  /** Unpersisting a locally-checkpointed RDD makes Spark WARN that the
    * truncated lineage "cannot be recomputed after unpersisting" — which
    * is exactly this operator's documented contract (the caller proved
    * the frame dead), so an iterative solve would otherwise emit one
    * spurious warning line per released frame. Suppressed with a
    * MESSAGE-MATCHING filter on that one RDD logger (not a level
    * override): only events whose text contains the exact
    * lineage-truncation phrase are dropped, so every other warning the
    * class emits — including from unrelated user code sharing the JVM —
    * still reaches the log. */
  private lazy val rddUnpersistWarnSilenced: Unit =
    try {
      import org.apache.logging.log4j.core.{Filter, LogEvent, LoggerContext}
      import org.apache.logging.log4j.core.config.LoggerConfig
      import org.apache.logging.log4j.core.filter.AbstractFilter
      val loggerName = "org.apache.spark.rdd.MapPartitionsRDD"
      val ctx = org.apache.logging.log4j.LogManager
        .getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      val existing = cfg.getLoggerConfig(loggerName)
      // a dedicated LoggerConfig for exactly this logger name (additive,
      // same level): never mutate an ancestor config shared by other loggers
      val target =
        if (existing.getName == loggerName) existing
        else {
          val lc = new LoggerConfig(loggerName, existing.getLevel, true)
          cfg.addLogger(loggerName, lc)
          lc
        }
      target.addFilter(new AbstractFilter {
        override def filter(event: LogEvent): Filter.Result = {
          val msg = event.getMessage
          if (msg != null && String.valueOf(msg.getFormattedMessage)
              .contains("cannot be recomputed after unpersisting"))
            Filter.Result.DENY
          else Filter.Result.NEUTRAL
        }
      })
      ctx.updateLoggers()
    } catch { case _: Throwable => () } // non-log4j2 backends: keep the noise

  /** Run `body` with the session policy temporarily set to `p`. */
  def withSessionPolicy[T](spark: SparkSession, p: Policy)(body: => T): T = {
    val prev = spark.conf.getOption(ConfKey)
    spark.conf.set(ConfKey, p.name)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(ConfKey, v)
      case None => spark.conf.unset(ConfKey)
    }
  }

  private def scratchDir(spark: SparkSession): String =
    spark.conf.getOption(ScratchDirKey).getOrElse {
      val d = System.getProperty("java.io.tmpdir") + "/graft-scratch-" +
        spark.sparkContext.applicationId
      if (ownedDirs.add(d)) hookInstalled
      d
    }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(): Unit
  }

  /** `df.breakLineage(eager, spill)`: the one lineage break, under the
    * session's policy. `spill` keeps block-backed policies' blocks
    * DISK_ONLY (checkpoint files and parquet are on disk anyway).
    * `df.widened(what)`: the one partitioning decision applied. */
  implicit class Ops(private val df: DataFrame) extends AnyVal {
    def breakLineage(eager: Boolean = false,
        spill: Boolean = false): DataFrame =
      Materialise.breakLineage(df, eager, spill)

    /** `df`, or when [[Decide.widen]] says so for its [[scanTasks]], `df`
      * round-robin repartitioned as a one-leaf frame over one shuffle
      * (`GraftSqlBridge.shuffledLeaf`) that any number of consumers share.
      * For a frame feeding row-multiplying or per-row kernel work, which
      * must not run on a small file's one task; never for a frame that is
      * only broadcast. */
    def widened(what: String): DataFrame =
      Decide.widen(df.sparkSession, what, scanTasks(df)).fold(df)(n =>
        org.apache.spark.sql.GraftSqlBridge.shuffledLeaf(df, n))
  }
}
