package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Minimal interop shim: Spark 4 made the Column↔Expression converters
  * (`classic.ExpressionUtils`) private[sql]; a library adding NATIVE
  * Catalyst expressions (graft.functions.WordCountExpression) still needs
  * them. This is the standard in-package bridge pattern — one-line
  * delegations, plus the one plan rewrite [[localCheckpoint]] needs. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a native Expression builder on an EXISTING session (the
    * extensions path only applies at session build time). */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** `df.localCheckpoint(eager = false, level)`: the cache of an operator
    * intermediate, held only by the frames that read it (Spark's
    * ContextCleaner unpersists it once they are unreachable). The
    * checkpoint's LogicalRDD drops the constraints Spark carries over from
    * `df`'s plan: `LogicalRDD.newInstance` (Spark 4.1) renames the output
    * and those constraints apart, so a plan that reads one checkpoint
    * twice (a self-join, a union of two projections) holds constraints on
    * attributes no node outputs, and constraint inference fails with "key
    * not found". The statistics are kept, so join planning is unchanged. */
  def localCheckpoint(df: DataFrame,
                      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    // rebuilt, not transformed: a plan transform keeps the old node, since
    // LogicalRDD's equality ignores the constraints
    val r = df.localCheckpoint(eager = false, level).queryExecution.logical
      .asInstanceOf[LogicalRDD]
    classic.Dataset.ofRows(spark, LogicalRDD(r.output, r.rdd, r.outputPartitioning,
      r.outputOrdering, r.isStreaming)(spark, Some(r.computeStats()), None))
  }
}
