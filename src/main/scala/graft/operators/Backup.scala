package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.{SparkEntry, Tables, WmCache}
import graft.functions.WmDecode
import graft.sqlgen.{Wm, WmParams}

/** Carrier backup/restore — the reference's pre-embed snapshot +
  * rollback (reference: database/pgvector/pg_func.py:441 backup_vectors,
  * attack/clear.py restore loop).
  *
  * The snapshot holds only the carriers' original cells (~rate·N·d
  * rows, the SMALL derived artifact), written as parquet so a restore
  * months later joins it back without recomputing the selection chain.
  * Restore is one broadcast-able left join + coalesce — no driver
  * iteration, unlike the reference's per-row UPDATE loop.
  *
  * The carrier id list persists too, and blind extraction from it
  * ([[extractFromIds]], [[recoverFromIds]]) is one map-side
  * decode-and-vote pass over the stored carriers' rows: each partition
  * decodes its rows into a fixed Blocks × 16 vote table and the driver
  * adds the tables up — no shuffle. */
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

  /** The attacked copy's carrier rows, (embedding array<double>), that
    * the blind extraction scans: `vectors` filtered to the stored ids.
    *
    * The filter is an IN subquery, not a join: Catalyst pushes it
    * through `vectors`' deterministic projections (an attacked copy is
    * a view that rewrites every embedding) and plans it as a LeftSemi
    * over the scan, so only the carriers' rows are projected. The ids
    * are unique, so the rows equal those of an inner join. */
  private[graft] def carrierRows(vectors: DataFrame, idsPath: String): DataFrame = {
    val ids = Tables.read(vectors.sparkSession, idsPath).select("vec_id")
    vectors
      .where(col("vec_id").isin(ids))
      .select(col("embedding").cast("array<double>"))
  }

  /** Payload bits per block: a carrier's 24 decoded bits are 4 block
    * index bits, 4 CRC bits and these. */
  private val PayloadBits = Wm.MsgLen - 8

  /** The majority-vote table of a blind extraction, cell
    * blk·[[PayloadBits]] + bit_idx: `vote` sums 2b − 1 and `votes`
    * counts the CRC-valid carriers of block blk. */
  private[graft] final class VoteTable extends Serializable {
    val vote, votes = new Array[Long](Wm.Blocks * PayloadBits)

    def add(o: VoteTable): VoteTable = {
      var c = 0
      while (c < vote.length) { vote(c) += o.vote(c); votes(c) += o.votes(c); c += 1 }
      this
    }

    /** (blk, bit_idx) → majority bit, over the cells with a vote. */
    def bits: Map[(Long, Long), Long] =
      cells.map { case (blk, j, bit, _) => (blk, j) -> bit }.toMap

    /** (blk, bit_idx, bit, votes) of every cell with ≥1 vote. */
    def cells: Seq[(Long, Long, Long, Long)] =
      vote.indices.filter(votes(_) > 0).map { c =>
        (c.toLong / PayloadBits, c.toLong % PayloadBits, if (vote(c) > 0) 1L else 0L, votes(c))
      }
  }

  /** Blind extraction as one pass over [[carrierRows]]: each partition
    * decodes its rows (graft.functions.WmDecode, CRC gate included)
    * into a partition-local [[VoteTable]], and the driver adds the
    * partition tables up — one job with no shuffle (and, when the id
    * list is broadcast, the broadcast's job), O(Blocks·16) state
    * whatever the corpus size. A null embedding or element fails the
    * job; it is never decoded as 0.0. */
  private[graft] def voteTable(vectors: DataFrame, idsPath: String,
                               params: WmParams): VoteTable = {
    val (key, delta) = (params.key, params.delta)
    carrierRows(vectors, idsPath).queryExecution.toRdd
      .aggregate(new VoteTable)((t, r) => vote(t, r, key, delta), _.add(_))
  }

  /** Decodes one (embedding) row into `t`: its block's 16 cells when
    * the CRC header validates, nothing otherwise. */
  private def vote(t: VoteTable, r: InternalRow, key: String, delta: Double): VoteTable = {
    if (r.isNullAt(0)) throw new NullPointerException("a carrier's embedding is null")
    val a = r.getArray(0)
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) throw new NullPointerException(s"a carrier's embedding has a null at $i")
      i += 1
    }
    for ((blk, bits) <- WmDecode.decode(a.toDoubleArray(), key, delta)) {
      var j = 0
      while (j < PayloadBits) {
        val c = blk * PayloadBits + j
        t.vote(c) += 2 * bits(j) - 1
        t.votes(c) += 1
        j += 1
      }
    }
    t
  }

  private val ExtractSchema = StructType(
    Seq("blk", "bit_idx", "bit", "votes").map(StructField(_, LongType, nullable = false)))

  /** Blind extraction from a PERSISTED id list — the reference's
    * extract_watermark(..., ids_file=...) flow (pg_func.py:723): filter
    * the (possibly attacked) vector table to the stored carrier ids
    * ([[carrierRows]]), decode each vector independently and
    * majority-vote per block, in one map-side decode-and-vote pass
    * ([[voteTable]]). NO selection-chain rebuild, no g_* views, no
    * shuffle. The vote runs when this is called; the result is a local
    * table with `wm_extract`'s schema, (blk, bit_idx, bit, votes), one
    * row per cell with at least one vote.
    *
    * `vectors` is any (vec_id, embedding) table, e.g. the watermarked
    * parquet written by Writeback. */
  def extractFromIds(vectors: DataFrame, idsPath: String,
                     params: WmParams = WmParams.Default): DataFrame = {
    val rows = voteTable(vectors, idsPath, params).cells.map { case (blk, j, bit, n) =>
      Row(blk, j, bit, n) }
    vectors.sparkSession.createDataFrame(rows.asJava, ExtractSchema)
  }

  /** End-to-end: the [[voteTable]] of [[extractFromIds]] → reassemble
    * the 256 payload bits → AEAD-decrypt. Throws AEADBadTagException if
    * the watermark was destroyed (or the ids/key don't match). */
  def recoverFromIds(vectors: DataFrame, idsPath: String,
                     params: WmParams = WmParams.Default): String =
    graft.api.Graft.assembleAndDecrypt(voteTable(vectors, idsPath, params).bits, params.key)

  /** Overlay a backup onto any exploded (vec_id, pos, val) table:
    * backed-up cells revert to their original values, everything else
    * passes through. */
  def restore(cells: DataFrame, backupPath: String): DataFrame = {
    val spark = cells.sparkSession
    val bk = Tables.read(spark, backupPath)
      .select(col("vec_id").as("b_id"), col("pos").as("b_pos"),
        col("val").as("b_val"))
    cells.join(bk,
        cells("vec_id") === col("b_id") && cells("pos") === col("b_pos"),
        "left")
      .select(cells("vec_id"), cells("pos"),
        coalesce(col("b_val"), cells("val")).as("val"))
  }
}
