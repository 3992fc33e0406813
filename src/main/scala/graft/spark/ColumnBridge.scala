package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{LogicalRDD, SparkStrategy}

/** Bridge to Spark's `private[sql]` Column ↔ catalyst-Expression
  * conversion (Spark 4 wraps Columns in ColumnNodes; `classic.
  * ExpressionUtils` is the supported internal converter). Lets the engine
  * use its native expressions ([[graft.functions.H60]] etc.) as plain
  * `Column`s without registering SQL functions first.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a custom LogicalPlan (e.g. [[graft.plans.HybridSortPlan]]) as a
    * DataFrame — the internal `Dataset.ofRows`, which has no public
    * equivalent for plan-level extensions.
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame over rows that are already Catalyst rows of `output`
    * (a `queryExecution.toRdd`), with no `Row` conversion. `partitioning`
    * and `ordering` are PROMISES the planner acts on without checking:
    * declare only what the RDD holds by construction.
    */
  def ofRdd(spark: SparkSession, output: Seq[Attribute], rdd: RDD[InternalRow],
      partitioning: Partitioning = UnknownPartitioning(0),
      ordering: Seq[SortOrder] = Nil): DataFrame =
    ofRows(spark, LogicalRDD(output, rdd, partitioning, ordering)(
      spark.asInstanceOf[classic.SparkSession]))

  /** Idempotently add a planner strategy to THIS session (the per-session
    * analog of `GraftExtensions`' cluster-wide `injectPlannerStrategy`).
    */
  def addStrategy(spark: SparkSession, s: SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(s))
      exp.extraStrategies = exp.extraStrategies :+ s
  }
}
