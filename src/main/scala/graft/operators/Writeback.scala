package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DataFrameBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import graft.{Tables, WmCache}
import graft.functions.WmEmbed
import graft.sqlgen.WmParams

/** Distributed analog of the reference's vector UPDATE loop
  * (reference: database/pgvector/pg_func.py:332-395 embed_into_db —
  * perturb each carrier, then UPDATE it in place): one pass over the
  * corpus embeds each carrier and rounds every value, and the result
  * is overwritten as parquet in one columnar write — no driver-side
  * iteration, no intermediate stego table, scales with partitions. */
object Writeback {

  /** The watermarked table as (vec_id, embedding array<double>) under
    * `params`: the `vec_writeback` cells, (vec_id, pos, round(stego or
    * original value, 6)), as one array per vector in pos order.
    *
    * Each `embeddings` row is left-joined to the carriers (vec_id, blk)
    * of `params` ([[WmCache.carriers]]), a broadcast-sized side, and
    * [[overlay]] embeds each carrier with WmEmbed in the same map-side
    * pass that rounds every row — the corpus is never exploded into
    * cells, and no stego cells are built or regrouped. The rows are
    * hash-partitioned on vec_id into the session's shuffle partitions,
    * so every written file is a slice of the corpus. */
  def stegoTable(spark: SparkSession, sfDir: String,
                 params: WmParams = WmParams.Default): DataFrame = {
    Tables.register(spark, sfDir)
    val carriers = WmCache.carriers(spark, sfDir, params)
      .select(col("vec_id").cast("bigint").as("id"), col("blk").cast("int").as("blk"))
    val joined = spark.table("embeddings")
      // posexplode drops a vector with no cells from the exploded form
      .where(size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding"))
      // the raw rows cross the exchange, before the widening to double;
      // the map-side join keeps their partitioning
      .repartition(spark.sessionState.conf.numShufflePartitions, col("vec_id"))
      .join(carriers, col("vec_id") === col("id"), "left")
      .select(col("vec_id").cast("bigint"), col("embedding").cast("array<double>"), col("blk"))
    overlaid(spark, joined, params)
  }

  /** `rows` (vec_id bigint, embedding array<double>, blk int) as
    * (vec_id, embedding) with [[overlay]] applied, one pass per
    * partition: the partitioning of `rows` is kept. */
  private[graft] def overlaid(spark: SparkSession, rows: DataFrame, params: WmParams): DataFrame =
    DataFrameBridge.fromRows(spark,
      rows.queryExecution.toRdd.mapPartitions(_.map(overlay(_, params))), StegoSchema)

  private val StegoSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType, containsNull = true))))

  /** One (vec_id, x, blk) row as (vec_id, embedding): a carrier (blk
    * not null) as round(WmEmbed.embed(x, blk), 6) per position, any
    * other row as `transform(x, round(·, 6))`, whose null cells stay
    * null. */
  private def overlay(r: InternalRow, params: WmParams): InternalRow = {
    val x = r.getArray(1)
    val n = x.numElements()
    val arr =
      if (!r.isNullAt(2))
        UnsafeArrayData.fromPrimitiveArray(
          WmEmbed.embed(x.toDoubleArray(), r.getInt(2), params).map(PcaSolve.sparkRound(_, 6)))
      else if ((0 until n).exists(x.isNullAt))
        new GenericArrayData(Array.tabulate[Any](n)(i =>
          if (x.isNullAt(i)) null else PcaSolve.sparkRound(x.getDouble(i), 6)))
      else UnsafeArrayData.fromPrimitiveArray(x.toDoubleArray().map(PcaSolve.sparkRound(_, 6)))
    InternalRow(if (r.isNullAt(0)) null else r.getLong(0), arr)
  }

  /** Write the watermarked table; returns the row count written. */
  def writeStego(spark: SparkSession, sfDir: String, outPath: String,
                 params: WmParams = WmParams.Default): Long = {
    val df = stegoTable(spark, sfDir, params)
    df.write.mode("overwrite").parquet(outPath)
    Tables.footerRows(spark, outPath)
  }

  /** Bucketed variant: hash-bucket and sort by vec_id so every
    * downstream join/agg on vec_id is co-located — no shuffle
    * (SURVEY §4's pre-partitioning story; at 100 TB this is how the
    * stego table joins back against its source for audits). */
  def writeStegoBucketed(spark: SparkSession, sfDir: String,
                         table: String, path: String,
                         buckets: Int = 32): Long = {
    val abs = new java.io.File(path).getAbsolutePath
    stegoTable(spark, sfDir).write.mode("overwrite")
      .option("path", abs)
      .bucketBy(buckets, "vec_id").sortBy("vec_id")
      .format("parquet").saveAsTable(table)
    Tables.footerRows(spark, abs)
  }
}
