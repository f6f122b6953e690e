package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Every data-dependent physical-path choice graft makes itself, one
 * function per decision kind, each taking the numbers its caller measured
 * (the way Spark's AQE picks strategies from observed sizes), partition
 * counts included. Driver-held
 * amounts, collected rows or broadcast bytes, follow one budget rule:
 * `min(cap, Runtime.maxMemory / (8 * bytesPerRow))`, so no path pulls more
 * than ~1/8 of the driver heap. Each decision is one DEBUG line on the
 * log4j logger `graft`; [[forcing]] pins a kind to a path for tests.
 */
object Decide {

  /** A choice between two paths. */
  sealed abstract class Kind(val name: String, first: String, second: String) {
    lazy val paths: Seq[Path] = Seq(new Path(this, first), new Path(this, second))
  }
  final class Path private[Decide] (val kind: Kind, val name: String) {
    override def toString: String = s"${kind.name}=$name"
  }
  /** Solve on the driver over collected rows, or distributed. */
  object Collect extends Kind("collect", "driver", "distributed") {
    def Driver: Path = paths(0); def Distributed: Path = paths(1)
  }
  /** Broadcast a join side, or shuffle both. */
  object Broadcast extends Kind("broadcast", "broadcast", "shuffle") {
    def Broadcasted: Path = paths(0); def Shuffled: Path = paths(1)
  }
  /** Keep a CC level's checkpoint blocks on-heap, or DISK_ONLY. */
  object Spill extends Kind("spill", "on_heap", "disk_only") {
    def OnHeap: Path = paths(0); def DiskOnly: Path = paths(1)
  }
  /** CC's whole-frame pointer-jump loop, or the settled/active split. */
  object JumpSplit extends Kind("jump_split", "whole_frame", "split") {
    def WholeFrame: Path = paths(0); def Split: Path = paths(1)
  }
  /** Keep a frame's partitioning, or repartition it before row-multiplying
    * or kernel-heavy work. */
  object Widen extends Kind("widen", "keep", "repartition") {
    def Keep: Path = paths(0); def Repartition: Path = paths(1)
  }
  val kinds: Seq[Kind] = Seq(Collect, Broadcast, Spill, JumpSplit, Widen)

  final case class Budget(bytesPerRow: Long, cap: Long) {
    def rows: Long =
      math.min(cap, Runtime.getRuntime.maxMemory() / (8 * bytesPerRow))
  }
  /** Collected graph edges (CC, one-to-one): Row + HashMap entry + boxed
    * pair + union-find slot. Below the cap the distributed loops measured
    * 2-3x slower than the driver solve; a 2 GB driver clamps it to ~1.6M. */
  val GraphEdges: Budget = Budget(150, 8000000L)
  /** Collected EM agreement patterns: the Row plus its `Pattern` copy. */
  val Patterns: Budget = Budget(256, 2000000L)
  /** Broadcast bytes of expanded rows; billions-of-records inputs exceed
    * it and keep sort-merge. */
  val Bytes: Budget = Budget(1, 256L << 20)
  /** One-to-one's edge- and merge-count-sized hashed join sides. */
  val PairRows: Budget = Budget(64, Bytes.cap / 64)
  val MergeRows: Budget = Budget(48, Bytes.cap / 48)
  /** CC's semi-reduced closing-jump lookup costs two driver round-trips of
    * ~|active| rows: measured slower than the sort-merge it replaces at
    * 2.7M rows (4.9s vs 3.6s), ~2x faster at 40k rows. */
  val JumpLookupRows: Budget = Budget(32, 1000000L)

  /** Parquet-compressed -> unsafe-row expansion of optimizer stats. An
    * underestimate OOMs the driver collect and executor hashed relations. */
  val StatsExpansion: Int = 4
  /** Share of aggregate storage memory a CC level's blocks may take
    * on-heap: beyond it, at 135M edges, on-heap checkpoints starved the
    * propagation aggregate into AGGREGATE_OUT_OF_MEMORY. */
  val SpillStorageFraction: Double = 0.4
  /** Edge count above which the split jump loop's per-jump fixed costs pay
    * off; below it the whole-frame loop measured ~2x faster. */
  val SplitJumpEdges: Long = 8000000L

  def collect(what: String, rows: Long, budget: Budget): Path =
    decide(Collect, what, rows, budget.rows,
      if (rows <= budget.rows) Collect.Driver else Collect.Distributed)

  /** The budget is 0 when `spark.sql.autoBroadcastJoinThreshold <= 0`,
    * Spark's own broadcast off switch. */
  def broadcast(spark: SparkSession, what: String, measured: BigInt,
      budget: Budget = Bytes): Path = {
    val raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    val sparkLimit = scala.util.Try(raw.trim.toLong).getOrElse(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))
    val limit = if (sparkLimit <= 0) 0L else budget.rows
    decide(Broadcast, what, measured, limit,
      if (measured <= limit && limit > 0) Broadcast.Broadcasted
      else Broadcast.Shuffled)
  }

  /** Whether [[broadcast]] broadcasts `df`, measured by optimizer stats
    * times [[StatsExpansion]]. Measure the RAW input: file sources report
    * real bytes, persisted or checkpointed frames estimate unknown-high
    * and decline. `sides = 2` splits the budget between two separately
    * measured frames that both broadcast. */
  def broadcastByStats(what: String, df: DataFrame,
      sides: Int = 1): Boolean = {
    val est =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes * StatsExpansion
      catch { case _: Exception => BigInt(Long.MaxValue) }
    broadcast(df.sparkSession, what, est * sides) == Broadcast.Broadcasted
  }

  /** `bytes` is measured off materialised blocks or files, never an
    * optimizer estimate. */
  def spill(spark: SparkSession, what: String, bytes: BigInt): Path = {
    val storage =
      spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum
    val limit = BigInt((storage * SpillStorageFraction).toLong)
    decide(Spill, what, bytes, limit,
      if (bytes > limit) Spill.DiskOnly else Spill.OnHeap)
  }

  def jumpSplit(what: String, edges: Long): Path =
    decide(JumpSplit, what, edges, SplitJumpEdges,
      if (edges > SplitJumpEdges) JumpSplit.Split else JumpSplit.WholeFrame)

  /** The session's parallelism, `spark.sql.shuffle.partitions`: the
    * partition count a widened frame gets. */
  def parallelism(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** Whether a frame on which `tasks` tasks would work is repartitioned
    * to [[parallelism]] before pair expansion or a per-row kernel:
    * `Some(n)` when fewer tasks than the cluster has cores would work,
    * `None` (keep the frame as it is; later exchanges are AQE's)
    * otherwise. `tasks` is read without a job and never from an optimizer
    * estimate: see `Materialise.scanTasks`. */
  def widen(spark: SparkSession, what: String, tasks: Long): Option[Int] = {
    val cores = spark.sparkContext.defaultParallelism
    val path = decide(Widen, what, tasks, cores,
      if (tasks >= cores) Widen.Keep else Widen.Repartition)
    if (path == Widen.Repartition) Some(parallelism(spark)) else None
  }

  private val forced = new scala.util.DynamicVariable(Map.empty[Kind, Path])

  /** Runs `body` with each listed kind pinned to its path on this thread;
    * decisions are still measured and reported. */
  private[graft] def forcing[T](pins: (Kind, Path)*)(body: => T): T = {
    pins.foreach { case (k, p) => require(p.kind eq k, s"$p is not a $k") }
    forced.withValue(forced.value ++ pins)(body)
  }

  private def decide(kind: Kind, what: String, measured: BigInt,
      budget: BigInt, chosen: Path): Path = {
    val pinned = forced.value.get(kind)
    val path = pinned.getOrElse(chosen)
    decided(kind, what, path, measured, budget, pinned.isDefined)
    path
  }

  private val log = org.apache.logging.log4j.LogManager.getLogger("graft")

  /** The one decision event, free unless someone listens at DEBUG. */
  private def decided(kind: Kind, what: String, path: Path,
      measured: BigInt, budget: BigInt, isForced: Boolean): Unit =
    if (log.isDebugEnabled)
      log.debug(s"decision kind=${kind.name} what=$what path=${path.name} " +
        s"measured=$measured budget=$budget forced=$isForced")
}
