package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Minimal bridge into `private[sql]` Spark internals needed to build
 * `Column`s from raw Catalyst `Expression`s (the supported extension path
 * for libraries shipping custom expressions on Spark 4's split sql/api
 * modules) and to build a frame over a `LogicalRDD` plan leaf.
 */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Raise a typed AnalysisException (the user-facing plan-time error) —
    * the errorClass constructors are private[sql], hence the bridge. */
  def analysisError(msg: String): Nothing =
    throw new AnalysisException(
      errorClass = "INTERNAL_ERROR", messageParameters = Map("message" -> msg))

  /** Parse a SQL expression string to a real (unresolved) Catalyst tree.
    * `functions.expr` on Spark 4 defers parsing inside a lazy
    * `SqlExpression` column node, which `transform`/`collect` cannot see
    * through — this gives us the actual tree. */
  def parseExpression(sql: String): Expression =
    classic.SparkSession.active.sessionState.sqlParser.parseExpression(sql)

  /** Compute `df` into an RDD of rows persisted at `level` and return it
    * with a frame over it whose plan is one fresh `LogicalRDD` leaf:
    * the one construction behind every block-backed lineage break
    * (`graft.operators.Materialise`). `mark` runs on the persisted RDD
    * before anything computes it (`localCheckpoint()`, `checkpoint()`,
    * or nothing); `eager` computes every partition now with one job.
    *
    * The leaf keeps the executed plan's output partitioning and ordering,
    * so joins and aggregates on the same keys stay exchange-free, and it
    * carries NO statistics or constraints from the origin plan. Spark's
    * own `Dataset.checkpoint` copies the origin's size estimate onto its
    * leaf, and Catalyst's size-only join estimate MULTIPLIES child sizes:
    * a loop whose rounds join earlier checkpoints compounds the carried
    * estimate until every stats visit pins the driver in BigInteger
    * multiplication. A leaf with default stats keeps each round's
    * estimate bounded; AQE still re-plans from actual sizes. */
  def rddLeaf(df: DataFrame, level: org.apache.spark.storage.StorageLevel,
      mark: org.apache.spark.rdd.RDD[catalyst.InternalRow] => Unit,
      eager: Boolean)
      : (DataFrame, org.apache.spark.rdd.RDD[catalyst.InternalRow]) = {
    import catalyst.plans.physical.{Partitioning, PartitioningCollection}
    @annotation.tailrec
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case other => other
    }
    val c = df.asInstanceOf[classic.Dataset[Row]]
    val qe = c.queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("breakLineage")) {
      val plan = qe.executedPlan
      val rdd = plan.execute().map(_.copy())
      rdd.persist(level)
      mark(rdd)
      if (eager) rdd.count()
      val leaf = execution.LogicalRDD(c.logicalPlan.output, rdd,
        firstLeaf(plan.outputPartitioning), plan.outputOrdering,
        c.isStreaming)(c.sparkSession)
      (classic.Dataset.ofRows(c.sparkSession, leaf), rdd)
    }
  }

  /** The partitions a scan of `leaf` alone plans: physical planning of
    * one leaf, no job. */
  def scanPartitions(spark: SparkSession,
      leaf: catalyst.plans.logical.LogicalPlan): Int =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], leaf)
      .queryExecution.sparkPlan.collectFirst {
        case s: execution.FileSourceScanExec => s.inputRDD.getNumPartitions
      }.getOrElse(0)

  /** `df` round-robin repartitioned into `n` partitions, as a frame whose
    * plan is one `LogicalRDD` leaf over ONE shuffle. Every consumer of the
    * leaf reads the same map output: a fan-out into k joins shuffles once,
    * where k consumers of `df.repartition(n)` each plan an exchange of
    * their own (the optimizer pushes each consumer's filters below it). No
    * job runs here unless `df`'s own plan holds an exchange, which AQE
    * runs while the leaf is built. The leaf carries `df`'s size estimate,
    * so join planning over it is the same as over `df`. */
  def shuffledLeaf(df: DataFrame, n: Int): DataFrame = {
    val c = df.asInstanceOf[classic.Dataset[Row]]
    val qe = c.queryExecution
    execution.SQLExecution.withNewExecutionId(qe, Some("widen")) {
      val rdd = execution.exchange.ShuffleExchangeExec(
        catalyst.plans.physical.RoundRobinPartitioning(n), qe.executedPlan,
        execution.exchange.REPARTITION_BY_NUM).execute()
      val leaf = execution.LogicalRDD(c.logicalPlan.output, rdd,
        catalyst.plans.physical.UnknownPartitioning(n), Nil, c.isStreaming)(
        c.sparkSession, Some(catalyst.plans.logical.Statistics(
          qe.optimizedPlan.stats.sizeInBytes)))
      classic.Dataset.ofRows(c.sparkSession, leaf)
    }
  }
}
