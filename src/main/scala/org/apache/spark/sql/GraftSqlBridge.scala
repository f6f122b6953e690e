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
}
