package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal `private[sql]` bridge: Spark 4 made `Column` wrap a
  * `ColumnNode` rather than a Catalyst `Expression`, and the classic
  * converter (`ExpressionUtils`) is `private[sql]`. graft's function
  * registry covers every expression that can travel as literals, but
  * an expression carrying a RUNTIME object (the broadcast-backed Bloom
  * probe's `Broadcast` handle) cannot pass through a registry call —
  * it needs direct Expression↔Column conversion. This object is the
  * single sanctioned crossing point; keep it tiny. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** The one other crossing: a checkpoint's `LogicalRDD` carries its
  * origin plan's size estimate, and a self-join multiplies the sizes of
  * its sides, so an iterative loop that checkpoints a self-join every
  * round squares the estimate every round (uncapped, a 60-edge chain's
  * CC plans reached 13,131-bit `sizeInBytes` estimates). Every planner
  * threshold sits far below `Long.MaxValue`, so capping there changes
  * no join choice while keeping each round's statistics arithmetic
  * fixed-width. The re-wrap needs `LogicalRDD`'s second parameter list
  * and `Dataset.ofRows`, both `private[sql]`. */
object CheckpointBridge {
  def capSizeEstimate(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case r: LogicalRDD =>
      val stats = r.stats
      if (stats.sizeInBytes <= Long.MaxValue) df
      else {
        val session = df.sparkSession.asInstanceOf[SparkSession]
        Dataset.ofRows(session, r.copy()(session,
          Some(stats.copy(sizeInBytes = BigInt(Long.MaxValue))), Some(r.constraints)))
      }
    case _ => df
  }
}
