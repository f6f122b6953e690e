package graft.operators

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
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
 * Policies, selected per-session via `spark.graft.breakLineage`:
 *
 *  - `localCheckpoint` — truncates lineage into non-replicated local blocks.
 *    Fastest; safe on a single JVM (local[n], tests, benchmarks). NOT
 *    fault-tolerant on a multi-executor cluster. Default when the session
 *    master is local.
 *  - `persist` — MEMORY_AND_DISK cache. Keeps lineage (slow plans regrow
 *    over long loops, but a lost block recomputes instead of failing).
 *  - `checkpoint` — reliable checkpoint to the SparkContext checkpoint dir
 *    (set `spark.graft.scratchDir` or call `setCheckpointDir`); blocks
 *    survive executor loss when the dir is on shared storage (HDFS/S3).
 *  - `parquet` — write + read-back under `spark.graft.scratchDir`. The
 *    reference's cluster default: fully fault-tolerant, frames come back as
 *    plain file scans with accurate size stats. Default when the master is
 *    non-local.
 *
 * Eagerness follows the call site: `breakLineage(true)` forces
 * materialisation now (parquet/checkpoint writes are inherently eager;
 * persist adds a count). All policies guarantee the frame is computed at
 * most once across its consumers — the invariant every caller relies on.
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

  def policy(spark: SparkSession): Policy = {
    val name = spark.conf.get(ConfKey,
      if (spark.sparkContext.isLocal) LocalCheckpointPolicy.name
      else ParquetPolicy.name)
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"$ConfKey=$name is not a materialisation policy; expected one of " +
        all.map(_.name).mkString(", ")))
  }

  /** Break lineage under the session's configured policy. */
  def apply(df: DataFrame, eager: Boolean = false): DataFrame =
    withPolicy(df, policy(df.sparkSession), eager)

  def withPolicy(df: DataFrame, p: Policy, eager: Boolean): DataFrame = p match {
    // (local)checkpoint results are rewrapped through
    // GraftSqlBridge.freshStats: Spark 4 copies the origin plan's size
    // estimate onto the checkpointed LogicalRDD, and in iterative loops
    // that join previous checkpoints the carried estimate compounds
    // exponentially until driver-side stats visits grind in BigInteger
    // math (measured: a forced-distributed CC recursion pinned the driver
    // for minutes at 135k edges). Fresh default stats per checkpoint keep
    // every downstream plan's estimate bounded; AQE still broadcasts from
    // actual runtime sizes.
    case LocalCheckpointPolicy =>
      org.apache.spark.sql.GraftSqlBridge.freshStats(df.localCheckpoint(eager))
    case PersistPolicy =>
      val out = df.persist(StorageLevel.MEMORY_AND_DISK)
      if (eager) out.count()
      out
    case CheckpointPolicy =>
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(scratchDir(df.sparkSession) + "/checkpoints")
      org.apache.spark.sql.GraftSqlBridge.freshStats(df.checkpoint(eager))
    case ParquetPolicy =>
      val spark = df.sparkSession
      val path = scratchDir(spark) + f"/mat-${counter.incrementAndGet()}%06d"
      df.write.mode("overwrite").parquet(path)
      matPaths.add(path)
      // explicit schema: an empty frame writes no part files, and schema
      // inference over an empty directory would fail
      spark.read.schema(df.schema).parquet(path)
  }

  /** Break lineage with the frame's blocks kept OFF-HEAP (DISK_ONLY).
    *
    * For a pass that must hold MANY large checkpoints alive at once —
    * the fused graph-metrics scaffold keeps ~8 frames of 35M+ rows live
    * until both verdict outputs materialise — on-heap localCheckpoint
    * blocks become old-generation garbage the collector re-walks on
    * every cycle (measured at sf10: 500s of task GC time, 36% of the
    * fused query's task run time). DISK_ONLY trades a per-read
    * deserialisation of small fixed-width rows for a heap that holds
    * only the frames actually being computed. Policies that are already
    * disk-backed (checkpoint, parquet) keep their normal behaviour.
    */
  def spilled(df: DataFrame, eager: Boolean): DataFrame =
    policy(df.sparkSession) match {
      case LocalCheckpointPolicy =>
        org.apache.spark.sql.GraftSqlBridge.freshStats(
          df.localCheckpoint(eager, StorageLevel.DISK_ONLY))
      case PersistPolicy =>
        val out = df.persist(StorageLevel.DISK_ONLY)
        if (eager) out.count()
        out
      case other => withPolicy(df, other, eager)
    }

  /** Break lineage with the frame's blocks kept ON-HEAP but SERIALIZED
    * (MEMORY_AND_DISK_SER).
    *
    * The default (local)checkpoint storage level is MEMORY_AND_DISK with
    * deserialized = true: every cached row is a live UnsafeRow object plus
    * its backing byte[] — a 35M-row frame is ~70M old-generation objects
    * the collector re-walks on every cycle. Measured in one local JVM
    * (32 task threads, 20 GB heap): ONE sort-merge join of two
    * such 35M-row checkpoints spends 762 task-seconds in GC and 42 s wall;
    * the same join over MEMORY_AND_DISK_SER blocks (a handful of byte
    * chunks per block) takes 9.4 s wall / 136 s GC, and over DISK_ONLY
    * 6.1 s / 28 s. The serialized levels pay a per-read deserialisation
    * (~6 CPU-s per full read of a 35M-row frame) — cheap next to the GC
    * bill whenever the frame is LARGE and the pipeline keeps allocating
    * while it is resident. Use for big scaffold/loop frames; small frames
    * and pure re-scan sources keep the deserialized default (re-reads of
    * deserialized blocks are the one shape that is cheapest as objects).
    * Policies that are already serialized on their own medium (checkpoint,
    * parquet) keep their normal behaviour. */
  def serialised(df: DataFrame, eager: Boolean): DataFrame =
    policy(df.sparkSession) match {
      case LocalCheckpointPolicy =>
        org.apache.spark.sql.GraftSqlBridge.freshStats(
          df.localCheckpoint(eager, StorageLevel.MEMORY_AND_DISK_SER))
      case PersistPolicy =>
        val out = df.persist(StorageLevel.MEMORY_AND_DISK_SER)
        if (eager) out.count()
        out
      case other => withPolicy(df, other, eager)
    }

  // parquet-policy scratch files this JVM wrote, releasable individually
  private val matPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Reclaim a PARQUET-policy frame's scratch directory NOW instead of at
    * JVM exit. ONLY for frames the caller can prove dead — an iterative
    * loop's superseded working frame. Safe exactly because the parquet
    * policy writes eagerly inside [[withPolicy]]: by the time the
    * successor frame exists on disk, the predecessor's files have been
    * fully consumed. Every other policy is a deliberate no-op — a
    * localCheckpoint successor created lazily still READS the
    * predecessor's blocks on first compute (unpersisting them would lose
    * data with no lineage to recompute), and checkpoint blocks belong to
    * the SparkContext. Without this, a long CC/bridges run under the
    * cluster-default parquet policy accumulates one full frame copy per
    * iteration in the scratch dir. */
  def release(df: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
      Project, Repartition, RepartitionByExpression}
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case pr: Project => strip(pr.child)
      case f: Filter => strip(f.child)
      // run()-style outputs wrap their materialised frame in a role
      // repartition; the exchange is a pure view over the scratch files
      case r: Repartition => strip(r.child)
      case r: RepartitionByExpression => strip(r.child)
      case other => other
    }
    strip(df.queryExecution.optimizedPlan) match {
      case rel: LogicalRelation => rel.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.toString).foreach { p =>
            val local = p.stripPrefix("file:")
            if (matPaths.remove(p) || matPaths.remove(local))
              deleteRecursively(new java.io.File(local))
          }
        case _ =>
      }
      case _ =>
    }
  }

  /** Strong release for a frame whose EVERY consumer is already
    * materialised: in addition to [[release]]'s parquet-scratch
    * reclamation, (local)checkpoint-backed frames get their block-manager
    * blocks dropped NOW instead of whenever the ContextCleaner's GC hook
    * notices the dead RDD. Iterative loops need this determinism: a
    * pointer-jump or mutual-best loop supersedes a full working frame per
    * round, and under the localCheckpoint policy the superseded blocks
    * (hundreds of MB each at scale) otherwise pile up in the unified
    * memory region until storage eviction starts fighting the join/sort
    * execution memory mid-loop — measured as 3-10x per-round time spikes
    * in the CC jump loop at sf10.
    *
    * SAFETY CONTRACT (the caller's to uphold — MaterialiseSpec
    * fault-injects the violation): a localCheckpoint has NO lineage to
    * recompute from, so the frame must be provably dead — every successor
    * frame derived from it must have finished materialising its own
    * blocks (an eager breakLineage, or a count()/action that scanned all
    * partitions). For a frame that a LAZY successor still references, use
    * [[release]], which never drops blocks. */
  def releaseConsumed(df: DataFrame): Unit = {
    release(df)
    rddUnpersistWarnSilenced
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan,
      Project, Repartition, RepartitionByExpression}
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case pr: Project => strip(pr.child)
      case f: Filter => strip(f.child)
      case r: Repartition => strip(r.child)
      case r: RepartitionByExpression => strip(r.child)
      case other => other
    }
    strip(df.queryExecution.optimizedPlan) match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false): Unit
      case _ =>
    }
    // persist-policy frames: unpersist is correctness-neutral (lineage
    // intact, a late reader recomputes), and a no-op when df isn't cached
    df.unpersist(blocking = false): Unit
  }

  /** [[releaseConsumed]] for a frame whose plan holds SEVERAL dead
    * materialisations: releases every (local)checkpoint-backed LogicalRDD
    * leaf and every owned parquet-scratch relation under `df`'s plan, not
    * just the single stripped leaf. For a frame that has just been COPIED
    * into a fresh eager checkpoint — e.g. a ConnectedComponents labelling
    * (whose empty-contraction path returns a UNION of per-jump slice
    * checkpoints) re-checkpointed by an iterative caller — the union shape
    * puts multiple dead checkpoints under one plan that releaseConsumed's
    * strip cannot reach.
    *
    * SAFETY CONTRACT (stronger than [[releaseConsumed]]'s, because it
    * applies to every leaf): the caller must have materialised a full
    * independent copy of `df` (an eager breakLineage), and NO other live
    * frame may share any checkpoint under this plan. Never call it on a
    * frame whose plan still embeds another caller-visible frame (e.g. a
    * union with a previous iteration's output that is itself returned). */
  def releaseConsumedLeaves(df: DataFrame): Unit = {
    rddUnpersistWarnSilenced
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    df.queryExecution.optimizedPlan.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false): Unit
      case rel: LogicalRelation => rel.relation match {
        case fs: HadoopFsRelation =>
          fs.location.rootPaths.map(_.toString).foreach { p =>
            val local = p.stripPrefix("file:")
            if (matPaths.remove(p) || matPaths.remove(local))
              deleteRecursively(new java.io.File(local))
          }
        case _ =>
      }
      case _ => ()
    }
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

  /** Exact byte size of an already-materialised frame, read WITHOUT running
    * a Spark job: cached block sizes for checkpoint-backed frames
    * (`LogicalRDD` leaf — localCheckpoint blocks hold UnsafeRows, so
    * memSize+diskSize is the real row-byte footprint), optimizer file stats
    * for parquet-policy frames (bare relation leaf). `None` when the size
    * cannot be read off the materialisation (persist policy keeps the full
    * plan; a lazy checkpoint has no cached blocks yet) — callers fall back
    * to an explicit stats query. */
  def materialisedSizeBytes(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
    @annotation.tailrec
    def strip(p: LogicalPlan): LogicalPlan = p match {
      case pr: Project => strip(pr.child)
      case f: Filter => strip(f.child)
      case other => other
    }
    strip(df.queryExecution.optimizedPlan) match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        df.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == l.rdd.id)
          .filter(i => i.numCachedPartitions == i.numPartitions)
          .map(i => i.memSize + i.diskSize)
      case rel: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        Some(rel.stats.sizeInBytes.min(BigInt(Long.MaxValue)).toLong)
      case _ => None
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

  /** `df.breakLineage(eager)` — drop-in replacement for the previous
    * hardcoded `df.localCheckpoint(eager)` call sites. */
  implicit class Ops(private val df: DataFrame) extends AnyVal {
    def breakLineage(eager: Boolean = false): DataFrame = Materialise(df, eager)
    /** [[Materialise.spilled]] — lineage break whose blocks stay off-heap. */
    def breakLineageSpilled(eager: Boolean = false): DataFrame =
      Materialise.spilled(df, eager)
    /** [[Materialise.serialised]] — lineage break whose blocks stay on-heap
      * but serialized (GC-cheap for large frames). */
    def breakLineageSer(eager: Boolean = false): DataFrame =
      Materialise.serialised(df, eager)
  }
}
