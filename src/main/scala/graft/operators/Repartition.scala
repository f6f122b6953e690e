package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/**
 * Per-role repartition policy for materialised intermediates (reference:
 * `spark/database_api.py:220-287` `_repartition_if_needed`).
 *
 * The reference repartitions named intermediate tables whenever they are
 * persisted, for two reasons it documents inline: (1) a predictable, modest
 * file count when the frame is written out (some stages otherwise emit one
 * file per shuffle task); (2) evenly-sized partitions for the downstream
 * stages that re-scan the materialised frame. Each table role gets a
 * divisor of the base parallelism `ceil(spark.sql.shuffle.partitions / 2)`
 * — pair-level frames keep the full base, per-entity frames shrink by the
 * reference's empirical factors (÷4 records, ÷6 id pairs, ÷10 clusters).
 *
 * Only applied at persist/checkpoint boundaries: repartitioning a lazy
 * frame that flows straight into another shuffle would be a wasted pass.
 */
object Repartition {
  /** Table roles, with the reference's divisor for each
    * (`spark/database_api.py:256-283`). The engine auto-applies a role
    * wherever it persists/checkpoints that frame itself; Predict and
    * Representatives are deliberately NOT auto-applied — predict() returns
    * a lazy frame (apply at your write site), and the CC loop's reps flow
    * straight into next round's keyed shuffle, where an extra exchange per
    * round buys nothing. */
  sealed abstract class Role(val divisor: Int)
  /** Scored pairs (`__splink__df_predict`) — full base parallelism. */
  case object Predict extends Role(1)
  /** Blocked id pairs (`__splink__blocked_id_pairs`) — 3 narrow columns. */
  case object BlockedIdPairs extends Role(6)
  /** Per-record frame with TF columns (`__splink__df_concat_with_tf`). */
  case object ConcatWithTf extends Role(4)
  /** Sampled records for estimate-u (`__splink__df_concat_with_tf_sample`). */
  case object ConcatWithTfSample extends Role(4)
  /** CC symmetric edge list (`__splink__df_neighbours`). */
  case object Neighbours extends Role(4)
  /** CC node -> representative frame (`__splink__df_representatives`). */
  case object Representatives extends Role(6)
  /** Final cluster outputs (`__splink__clusters_at_*`, nodes/edges in play). */
  case object ClusteringOutput extends Role(10)

  /** Base parallelism: half the session's shuffle partitions
    * (`spark/database_api.py:220-227`). */
  def base(df: DataFrame): Int = {
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    math.max(1, math.ceil(p / 2.0).toInt)
  }

  /** Target partition count for a role. */
  def numPartitions(df: DataFrame, role: Role): Int =
    math.max(1, math.ceil(base(df).toDouble / role.divisor).toInt)

  /** Role target with a SIZE floor: the divisor policy gives a modest
    * file/partition count for typical outputs, but it must never squeeze
    * a large frame into a handful of partitions — with 32 shuffle
    * partitions the clusters role collapses to 2, and a 15M-row label
    * frame then serialises through 2 tasks (measured ~15s of a 70s
    * solve). The floor keeps partitions proportional to the data
    * (`estimatedBytes / maxPartitionBytes`), capped at the session's
    * shuffle parallelism — the role only ever SHRINKS sanely. */
  def numPartitionsSized(df: DataFrame, role: Role,
      estimatedBytes: BigInt): Int = {
    val conf = df.sparkSession.conf
    val maxPartitionBytes = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val full = conf.get("spark.sql.shuffle.partitions", "200").toInt
    val sizeFloor = (estimatedBytes / maxPartitionBytes)
      .min(BigInt(full)).toInt
    math.max(numPartitions(df, role), sizeFloor)
  }

  /** Resize to the sized role target ([[numPartitionsSized]]) a frame
    * whose leaves are ALREADY materialised (checkpoint / parallelized
    * output): when the role target only
    * SHRINKS the partition count, a `coalesce` gets the same modest
    * file/partition count through a narrow dependency — no shuffle of
    * the full frame (a 15M-row labelling paid an 864MB round-robin
    * exchange here just to go 32 -> 7 partitions). Falls back to a real
    * repartition when the frame is narrower than the target (the floor
    * case) or when the leaf width cannot be read without planning. */
  def sizedShrink(df: DataFrame, role: Role, estimatedBytes: BigInt)
      : DataFrame = {
    val target = numPartitionsSized(df, role, estimatedBytes)
    val leafParts = df.queryExecution.optimizedPlan.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getNumPartitions
    }
    if (leafParts.nonEmpty && leafParts.max >= target) df.coalesce(target)
    else df.repartition(target)
  }

  /** [[byKeys]] with the size floor: iterative loops co-partition their
    * working frame once and inherit that parallelism in every
    * exchange-free stage that follows — an under-sized key exchange
    * (e.g. 27M symmetric edges in 4 partitions at 32 shuffle partitions)
    * then serialises the whole loop's propagation aggregates. */
  def sizedByKeys(df: DataFrame, role: Role, estimatedBytes: BigInt,
      keys: Column*): DataFrame =
    df.repartition(numPartitionsSized(df, role, estimatedBytes), keys: _*)

  /** Round-robin repartition to the role's target — use right before a
    * persist/checkpoint/write. */
  def apply(df: DataFrame, role: Role): DataFrame =
    df.repartition(numPartitions(df, role))

  /** Hash repartition on `keys` to the role's target — use when the loop
    * re-joining the materialised frame always joins on `keys`, so the
    * exchange doubles as co-location. */
  def byKeys(df: DataFrame, role: Role, keys: Column*): DataFrame =
    df.repartition(numPartitions(df, role), keys: _*)

  /** Widen a frame to the session's shuffle parallelism when its physical
    * partitioning is narrower. Guard for row-multiplying or kernel-heavy
    * stages (pair self-joins, per-document shingle/signature scans): those
    * must never inherit a tiny scan's task count — a single-row-group
    * parquet file otherwise serialises quadratic pair work onto one core.
    * At scale the scan already has >= target splits and this is a no-op.
    *
    * The probe is the OPTIMIZER'S size estimate (logical-plan stats), not
    * `df.rdd.getNumPartitions`: converting to an RDD forces full physical
    * planning of the subtree on every call (measurable per-query overhead,
    * and it would eagerly kick off broadcast futures if a join were in the
    * tree). A frame at least `target x maxPartitionBytes` is already split
    * into >= target scan tasks by the file source, so only smaller frames
    * get the widening exchange — tiny at exactly the times it fires.
    *
    * localCheckpoint'd / in-memory frames surface as `LogicalRDD` leaves
    * whose stats fall back to `defaultSizeInBytes` (Long.MaxValue), which
    * would make the size test always claim "wide enough". For those, the
    * real partition count is read straight off the leaf's already-built
    * RDD — no physical planning is forced, and the answer is exact.
    */
  def ensureMinParallel(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.conf
    val target = conf.get("spark.sql.shuffle.partitions", "200").toInt
    val plan = df.queryExecution.optimizedPlan
    val maxPartitionBytes = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val leaves = plan.collectLeaves()
    val rddLeafParts = leaves.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.getNumPartitions
    }
    if (rddLeafParts.isEmpty) {
      val size = plan.stats.sizeInBytes
      if (size >= BigInt(target) * maxPartitionBytes) df
      else df.repartition(target)
    } else {
      // PER-LEAF decision when checkpoint and file-scan leaves mix: a tiny
      // narrow checkpoint joined to an already-wide file scan must not
      // force a needless full repartition — any leaf wide enough makes the
      // downstream stage wide enough
      val fileScanTasks = leaves.collect {
        case l if !l.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD] =>
          (l.stats.sizeInBytes / maxPartitionBytes)
            .min(BigInt(Int.MaxValue)).toInt
      }
      if ((rddLeafParts ++ fileScanTasks).max >= target) df
      else df.repartition(target)
    }
  }
}
