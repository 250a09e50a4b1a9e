package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.DataFrameBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
import graft.{Tables, WmCache}
import graft.sqlgen.WmParams

/** Distributed analog of the reference's vector UPDATE loop
  * (reference: database/pgvector/pg_func.py:389-395 — per-row UPDATE of
  * embedded vectors): materialize the watermarked table (stego values
  * for carriers, originals elsewhere) and overwrite it as parquet in
  * one columnar write — no driver-side iteration, scales with
  * partitions. */
object Writeback {

  /** The watermarked table as (vec_id, embedding array<double>) under
    * `params`: the `vec_writeback` cells, (vec_id, pos, round(stego or
    * original value, 6)), as one array per vector in pos order.
    *
    * Only carriers (~rate·N rows) change, so their stego values are
    * gathered into one array per carrier (a rate·N·d aggregation over
    * g_stego) and overlaid on each `embeddings` row map-side, next to a
    * broadcast-sized carrier side — the corpus is never exploded into
    * N·d cells and regrouped. The rows are hash-partitioned on vec_id
    * into the session's shuffle partitions, the layout the regrouped
    * form had, so every written file is a slice of the corpus. The
    * overlay itself is a JVM pass ([[overlay]]), not generated SQL. */
  def stegoTable(spark: SparkSession, sfDir: String,
                 params: WmParams = WmParams.Default): DataFrame = {
    Tables.register(spark, sfDir)
    val stego = WmCache.stego(spark, sfDir, params)
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("sval")))).as("s"))
      .select(col("id"), expr("transform(s, e -> e.sval)").as("sv"))
    val joined = spark.table("embeddings")
      // posexplode drops a vector with no cells from the exploded form
      .where(size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding"))
      // the raw rows cross the exchange, before the widening to double;
      // the map-side join keeps their partitioning
      .repartition(spark.sessionState.conf.numShufflePartitions, col("vec_id"))
      .join(stego, col("vec_id") === col("id"), "left")
      .select(col("vec_id").cast("bigint"), col("embedding").cast("array<double>"), col("sv"))
    overlaid(spark, joined)
  }

  /** `rows` (vec_id bigint, embedding array<double>, sv array<double>)
    * as (vec_id, embedding) with [[overlay]] applied, one pass per
    * partition: the partitioning of `rows` is kept. */
  private[graft] def overlaid(spark: SparkSession, rows: DataFrame): DataFrame =
    DataFrameBridge.fromRows(spark, rows.queryExecution.toRdd.mapPartitions(_.map(overlay)),
      StegoSchema)

  private val StegoSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType, containsNull = true))))

  /** One (vec_id, x, sv) row as (vec_id, round(coalesce(s_i, x_i), 6)
    * per position): `transform(x, round(·, 6))` where sv is null, else
    * `zip_with(x, sv, …)`, which pads the shorter array with nulls, so a
    * position null on both sides stays null. */
  private def overlay(r: InternalRow): InternalRow = {
    val x = r.getArray(1)
    val sv = if (r.isNullAt(2)) null else r.getArray(2)
    val n = if (sv == null) x.numElements() else math.max(x.numElements(), sv.numElements())
    val out = new Array[Double](n)
    var nulls: Array[Boolean] = null
    var i = 0
    while (i < n) {
      if (sv != null && i < sv.numElements() && !sv.isNullAt(i))
        out(i) = PcaSolve.sparkRound(sv.getDouble(i), 6)
      else if (i < x.numElements() && !x.isNullAt(i))
        out(i) = PcaSolve.sparkRound(x.getDouble(i), 6)
      else {
        if (nulls == null) nulls = new Array[Boolean](n)
        nulls(i) = true
      }
      i += 1
    }
    val arr =
      if (nulls == null) UnsafeArrayData.fromPrimitiveArray(out)
      else new GenericArrayData(Array.tabulate[Any](n)(i => if (nulls(i)) null else out(i)))
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
    stegoTable(spark, sfDir).write.mode("overwrite")
      .option("path", new java.io.File(path).getAbsolutePath)
      .bucketBy(buckets, "vec_id").sortBy("vec_id")
      .format("parquet").saveAsTable(table)
    spark.table(table).count()
  }
}
