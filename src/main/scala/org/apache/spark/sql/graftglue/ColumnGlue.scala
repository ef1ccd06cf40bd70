package org.apache.spark.sql.graftglue

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between graft's native Catalyst expressions and the public
  * Column API. ExpressionUtils is private[sql], so this one-file glue
  * lives in an org.apache.spark.sql subpackage — the standard pattern
  * for Spark extension libraries that define custom expressions
  * without a session-level FunctionRegistry registration. */
object ColumnGlue {
  /** AbstractDataType is private[sql]; graft expressions that declare
    * inputTypes (for ImplicitCastInputTypes coercion) name it through
    * this alias. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column's node tree to a catalyst Expression
    * tree (UnresolvedFunction etc., which the analyzer then
    * resolves). ExpressionUtils.expression wraps the tree in a LAZY
    * ColumnNodeExpression leaf that only Dataset API entry points
    * unwrap — a SQL FunctionRegistry builder must hand the analyzer
    * the converted tree, or codegen meets the unconverted wrapper. */
  def resolvedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Free the storage blocks behind a `localCheckpoint()`'d frame.
    * Dataset.unpersist only uncaches CacheManager entries; a local
    * checkpoint's blocks live on the LogicalRDD's backing RDD and are
    * otherwise released only when the ContextCleaner GCs the RDD
    * reference — storage pressure in a long-lived ingest driver doing
    * many pinned appends (ADVICE r15). No-op on frames that are not
    * checkpoint-backed, so callers can release unconditionally. The
    * blocks go through SparkContext.unpersistRDD, which frees the same
    * blocks as RDD.unpersist without its WARN that a locally
    * checkpointed RDD cannot be recomputed — the pinned frame is
    * never read again. */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df match {
      case d: org.apache.spark.sql.classic.Dataset[_] =>
        d.queryExecution.analyzed match {
          case lr: org.apache.spark.sql.execution.LogicalRDD =>
            d.sparkSession.sparkContext.unpersistRDD(lr.rdd.id, blocking = false)
          case _ => ()
        }
      case _ => ()
    }

  /** A frame over Catalyst rows of `schema`, read lazily from `rows`:
    * each action runs the RDD (SparkSession.internalCreateDataFrame). */
  def frame(spark: org.apache.spark.sql.SparkSession,
            rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
            schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Stop the streaming state-store maintenance thread pool (it is
    * JVM-global, started by the first stateful streaming query and
    * otherwise alive until JVM exit). A driver that stops its
    * SparkContext while a maintenance tick is mid-flight gets a
    * cosmetic post-shutdown WARN stack trace as its LAST output —
    * exactly where Bench's result line lives (VERDICT r17 item 4) —
    * so Bench calls this before session close. Safe to call with no
    * stateful query ever run; new queries restart the pool. */
  def stopStateStoreMaintenance(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Register a temp function on a LIVE session (sessionState is
    * private[sql]); config-driven deployments use GraftExtensions via
    * spark.sql.extensions instead. */
  def registerTempFunction(spark: org.apache.spark.sql.classic.SparkSession, name: String,
                           builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
