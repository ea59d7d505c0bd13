package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Minimal private[sql] bridge for the custom-operator layer
  * (graft.plans): building a DataFrame from a LogicalPlan and
  * extracting the Catalyst expression behind a public Column are
  * private[sql] in Spark 4 — the standard extension-library pattern
  * is a shim object under org.apache.spark.sql.
  */
object Bridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def expr(c: Column): Expression =
    classic.ExpressionUtils.expression(c)

  /** Inverse of [[expr]] — wrap a Catalyst expression as a public
    * Column. Needed for expressions whose parameters are not
    * SQL-literal-expressible (e.g. a Bloom filter's bit array), which
    * therefore can't go through the function-registry path the other
    * graft kernels use. */
  def column(e: Expression): Column =
    classic.ExpressionUtils.column(e)

  def analyzedPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** Collision-free per-session identity (ADVICE r4: identityHashCode
    * keys can alias across live sessions) — `sessionUUID` is
    * private[sql] in Spark 4's public facade. */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** Re-wrap a DataFrame's rows as a flat LogicalRDD leaf WITHOUT the
    * InternalRow → Row → InternalRow round-trip that
    * `createDataFrame(df.rdd, df.schema)` pays: `toRdd` hands back the
    * physical plan's InternalRow RDD directly (for a cached df, the
    * columnar-scan iterator), and `internalCreateDataFrame` wraps it
    * as a leaf — the same mechanism `Dataset.checkpoint` uses. This is
    * the iterative-algorithm pattern: each round's plan stays flat
    * instead of nesting the previous round's (analysis would otherwise
    * grow exponentially when a round references its predecessor more
    * than once), and a round's cache entry can be dropped without
    * CacheManager invalidating its successors' buffers.
    */
  def rewrapInternal(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[org.apache.spark.sql.Row]]
    // LogicalRDD.fromDataset (what Dataset.checkpoint uses) rather
    // than internalCreateDataFrame: it CARRIES THE ORIGIN'S STATISTICS
    // and constraints onto the new leaf. A bare LogicalRDD defaults to
    // sizeInBytes = defaultSizeInBytes (huge), which silently turns
    // every broadcast-eligible join over the rewrapped frame into a
    // sort-merge join — measured 1.7× on the CC loop.
    ofRows(ds.sparkSession, org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(ds.queryExecution.toRdd, ds, isStreaming = false))
  }
}
