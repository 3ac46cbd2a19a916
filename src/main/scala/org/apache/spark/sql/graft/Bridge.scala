package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioningLike
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Column ↔ Expression bridge. Spark 4 made these `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`), so the engine — a
  * Catalyst extension library — exposes them from a `sql` subpackage,
  * the conventional pattern for Spark-native extensions. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** FULL column-node → expression conversion: unlike
    * `ExpressionUtils.expression` (which only unwraps plain expression
    * nodes), this runs the classic converter, so UDF/UDAF invocation
    * nodes — e.g. `functions.udaf(agg).apply(col)` — resolve to their
    * real `ScalaAggregator` expressions. Needed to register Aggregators
    * in the SQL FunctionRegistry via expression builders. */
  def convertedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Register a SQL function on an EXISTING session (extensions only
    * apply at session build time). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")

  /** A view of a hash-partitioned Dataset that later plans read without
    * a further exchange: a `LogicalRDD` over the Dataset's memoized
    * `queryExecution.toRdd` that declares the plan's hash partitioning,
    * the way `Dataset.checkpoint` does but without the checkpoint. Every
    * plan built on the view reads the same RDD, so the exchange's map
    * stage runs once and later jobs skip it through the shuffle files
    * Spark keeps (lost ones are recomputed from lineage). Nothing is
    * cached or persisted.
    *
    * Taking the RDD runs under an SQL execution id, as `Dataset.rdd`
    * does; under adaptive execution that runs the exchange's map stage
    * now. The partitioning is read from the plan that produced the RDD,
    * the final adaptive plan: where adaptive execution coalesced the
    * exchange's partitions, that is the `CoalescedHashPartitioning`
    * Spark itself reports for a coalesced read. A plan whose output is
    * not hash partitioned into exactly the RDD's partitions fails
    * loudly. */
  def partitionedView[T](ds: Dataset[T]): Dataset[T] = {
    val qe = ds.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("partitionedView"))(qe.toRdd)
    val produced = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val part = produced.outputPartitioning match {
      case h: HashPartitioningLike => h
      case other => throw new IllegalArgumentException(
        s"partitionedView needs a hash-partitioned plan, got $other")
    }
    require(part.numPartitions == rdd.getNumPartitions,
      s"partitionedView: the plan declares ${part.numPartitions} partitions, " +
        s"its RDD has ${rdd.getNumPartitions}")
    val session = ds.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val view = LogicalRDD(qe.analyzed.output, rdd, part, Nil, isStreaming = false)(session)
    org.apache.spark.sql.classic.Dataset.ofRows(session, view).as[T](ds.encoder)
  }
}
