package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * standard pattern for third-party Catalyst extensions (a custom
  * Expression is useless without a way to wrap it in a user-facing
  * Column). Everything referenced here is Apache Spark's own API; only
  * the package placement grants access.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def dataFrame(spark: SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A frame over an RDD whose row count is known, planned with that
    * count as its statistics — as `Dataset.checkpoint` keeps its
    * source's — so a small result still broadcasts in a join. (A plain
    * `createDataFrame` over an RDD is sized at `defaultSizeInBytes`.) */
  def countedFrame(spark: SparkSession, schema: StructType,
                   rows: RDD[InternalRow], count: Long): DataFrame = {
    val attrs = DataTypeUtils.toAttributes(schema)
    val stats = Statistics(count * EstimationUtils.getSizePerRow(attrs),
      Some(BigInt(count)))
    val s = spark.asInstanceOf[classic.SparkSession]
    dataFrame(spark, LogicalRDD(attrs, rows)(s, Some(stats)))
  }
}
