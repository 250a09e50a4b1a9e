package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables, WmCache}
import graft.functions.WmDecode
import graft.sqlgen.WmParams

/** Carrier backup/restore — the reference's pre-embed snapshot +
  * rollback (reference: database/pgvector/pg_func.py:441 backup_vectors,
  * attack/clear.py restore loop).
  *
  * The snapshot holds only the carriers' original cells (~rate·N·d
  * rows, the SMALL derived artifact), written as parquet so a restore
  * months later joins it back without recomputing the selection chain.
  * Restore is one broadcast-able left join + coalesce — no driver
  * iteration, unlike the reference's per-row UPDATE loop. */
object Backup {

  /** Snapshot the carriers' pre-embed cells to parquet; returns rows
    * written. */
  def backupCarriers(spark: SparkSession, sfDir: String, path: String): Long = {
    SparkEntry.queries("wm_backup")(spark, sfDir)
      .write.mode("overwrite").parquet(path)
    Tables.footerRows(spark, path)
  }

  /** Persist the carrier id list (vec_id, blk) as parquet — the
    * reference's save_low_degree_ids (pg_func.py:312-323): a later
    * extraction can consume the stored ids and skip rebuilding the
    * whole bucket→kNN→in-degree→selection chain. ~rate·N rows. The
    * carriers are those `params`' rate and key select. */
  def saveCarrierIds(spark: SparkSession, sfDir: String, path: String,
                     params: WmParams = WmParams.Default): Long = {
    Tables.register(spark, sfDir)
    WmCache.carriers(spark, sfDir, params)
      .select(col("vec_id").cast("bigint").as("vec_id"), col("blk").cast("bigint").as("blk"))
      .write.mode("overwrite").parquet(path)
    Tables.footerRows(spark, path)
  }

  /** Blind extraction from a PERSISTED id list — the reference's
    * extract_watermark(..., ids_file=...) flow (pg_func.py:723): filter
    * the (possibly attacked) vector table to the stored carrier ids,
    * decode each vector independently (graft.functions.WmDecode — CRC
    * gate included), majority-vote per block. NO selection-chain
    * rebuild, no g_* views: one broadcast semi-join (the id list is
    * rate·N, broadcast-sized) + one map pass over the matched rows +
    * the tiny vote aggregation. Output schema matches `wm_extract`:
    * (blk, bit_idx, bit, votes).
    *
    * The filter is an IN subquery, not a join: Catalyst pushes it
    * through `vectors`' deterministic projections (an attacked copy is
    * a view that rewrites every embedding) and plans it as a LeftSemi
    * over the scan, so only the carriers' rows are projected. The ids
    * are unique, so the rows equal those of an inner join.
    *
    * `vectors` is any (vec_id, embedding) table, e.g. the watermarked
    * parquet written by Writeback. */
  def extractFromIds(vectors: DataFrame, idsPath: String,
                     params: WmParams = WmParams.Default): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val ids = Tables.read(spark, idsPath).select("vec_id")
    vectors
      .where(col("vec_id").isin(ids))
      .select(col("embedding").cast("array<double>"))
      .as[Seq[Double]]
      .flatMap { v =>
        WmDecode.decode(v.toArray, params.key, params.delta).iterator
          .flatMap { case (blk, bits) =>
            bits.iterator.zipWithIndex.map { case (b, j) => (blk, j, b) } }
      }
      .toDF("blk", "bit_idx", "b")
      .groupBy("blk", "bit_idx")
      .agg(sum(col("b") * 2 - 1).as("vote"), count(lit(1)).as("votes"))
      .select(col("blk").cast("long").as("blk"),
        col("bit_idx").cast("long").as("bit_idx"),
        when(col("vote") > 0, 1L).otherwise(0L).as("bit"),
        col("votes"))
  }

  /** End-to-end: [[extractFromIds]] → reassemble the 256 payload bits →
    * AEAD-decrypt. Throws AEADBadTagException if the watermark was
    * destroyed (or the ids/key don't match). */
  def recoverFromIds(vectors: DataFrame, idsPath: String,
                     params: WmParams = WmParams.Default): String = {
    val bits = extractFromIds(vectors, idsPath, params).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    graft.api.Graft.assembleAndDecrypt(bits, params.key)
  }

  /** Overlay a backup onto any exploded (vec_id, pos, val) table:
    * backed-up cells revert to their original values, everything else
    * passes through. */
  def restore(cells: DataFrame, backupPath: String): DataFrame = {
    val spark = cells.sparkSession
    val bk = spark.read.parquet(backupPath)
      .select(col("vec_id").as("b_id"), col("pos").as("b_pos"),
        col("val").as("b_val"))
    cells.join(bk,
        cells("vec_id") === col("b_id") && cells("pos") === col("b_pos"),
        "left")
      .select(cells("vec_id"), cells("pos"),
        coalesce(col("b_val"), cells("val")).as("val"))
  }
}
