package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Column ↔ catalyst Expression bridge (ExpressionUtils is private[sql] in
  * Spark 4's classic module; function registration needs raw Expressions).
  */
object Bridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** A grouping key as the physical aggregate normalizes it: -0.0 and 0.0
    * are one value, and all NaNs are one value (`normalize` is private[sql]).
    */
  def normalizeFloats(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)

  /** A checkpointed frame that reports `sizeInBytes` as its size estimate
    * instead of the estimate of the plan it was checkpointed from (a join's
    * estimate is the product of its sides'). Other frames are returned as
    * they are.
    */
  def withSizeInBytes(df: DataFrame, sizeInBytes: BigInt): DataFrame =
    df.queryExecution.analyzed match {
      case r: LogicalRDD =>
        val session = df.sparkSession.asInstanceOf[classic.SparkSession]
        classic.Dataset.ofRows(session,
          r.copy()(session, Some(Statistics(sizeInBytes)), None))
      case _ => df
    }
}
