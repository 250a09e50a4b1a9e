package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one internal hop a custom LogicalPlan needs: turn it into a
  * DataFrame (classic.Dataset.ofRows is private[sql], so this lives
  * under the org.apache.spark.sql namespace — the standard pattern for
  * Spark extension libraries). */
object DataFrameBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.queryExecution.logical

  /** `rows` (already in Catalyst's internal form, one field per column
    * of `schema`) as a DataFrame over a lineage-free LogicalRDD — how a
    * JVM kernel hands its output back to the SQL side without a
    * Row-to-InternalRow conversion pass. */
  def fromRows(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Waits until every event posted to `spark`'s listener bus has been
    * delivered (the bus is private to Spark), so a listener has seen
    * every job and stage that ran before the call. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
