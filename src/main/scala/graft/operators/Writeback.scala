package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
    * form had, so every written file is a slice of the corpus. */
  def stegoTable(spark: SparkSession, sfDir: String,
                 params: WmParams = WmParams.Default): DataFrame = {
    Tables.register(spark, sfDir)
    val stego = WmCache.stego(spark, sfDir, params)
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("sval")))).as("s"))
      .select(col("id"), expr("transform(s, e -> e.sval)").as("sv"))
    spark.table("embeddings")
      // posexplode drops a vector with no cells from the exploded form
      .where(size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding"))
      // the raw rows cross the exchange, before the widening to double;
      // the map-side join keeps their partitioning
      .repartition(spark.sessionState.conf.numShufflePartitions, col("vec_id"))
      .join(stego, col("vec_id") === col("id"), "left")
      .select(col("vec_id").cast("bigint").as("vec_id"), expr(
        """case when sv is null then transform(cast(embedding as array<double>), x -> round(x, 6))
          |else zip_with(cast(embedding as array<double>), sv, (x, s) -> round(coalesce(s, x), 6))
          |end""".stripMargin).as("embedding"))
  }

  /** Write the watermarked table; returns the row count written. */
  def writeStego(spark: SparkSession, sfDir: String, outPath: String,
                 params: WmParams = WmParams.Default): Long = {
    val df = stegoTable(spark, sfDir, params)
    df.write.mode("overwrite").parquet(outPath)
    spark.read.parquet(outPath).count()
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
