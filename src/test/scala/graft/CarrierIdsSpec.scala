package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.api.Graft
import graft.operators.{Backup, Writeback}
import graft.sqlgen.{Wm, WmParams}

/** Carrier-id persistence: embed + persist the id list, then a FRESH
  * session (no g_* chain views, no selection-chain rebuild) recovers
  * the message blind from the stored ids + the watermarked parquet —
  * the reference's save_low_degree_ids / extract_watermark(ids_file=)
  * flow (pg_func.py:312-323,723). */
class CarrierIdsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("extract-from-ids recovers the message with no chain rebuild") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ids").toString
    // session A: embed, persist the watermarked table + the id list
    val nIds = Backup.saveCarrierIds(spark, TestSpark.Sf, s"$dir/ids")
    assert(nIds > 0)
    val nRows = Writeback.writeStego(spark, TestSpark.Sf, s"$dir/stego")
    assert(nRows > 0)

    // session B: fresh temp-view catalog — no g_* views exist, and the
    // extract path must not create any
    val s2 = spark.newSession()
    val chainViews = Seq("g_bkt", "g_knn", "g_indeg", "g_carriers", "g_stego")
    for (v <- chainViews)
      assert(!s2.catalog.tableExists(v), s"$v leaked into the new session")

    val vectors = s2.read.parquet(s"$dir/stego")
    val msg = Backup.recoverFromIds(vectors, s"$dir/ids")
    assert(msg == Wm.Message)
    for (v <- chainViews)
      assert(!s2.catalog.tableExists(v), s"extract-from-ids built $v")

    // an unwatermarked table must fail loudly, not return garbage:
    // chance-level CRC survivors leave most blocks empty → either the
    // reassembled chars aren't valid base64 (IllegalArgumentException)
    // or the AEAD tag check fails (AEADBadTagException)
    val clean = s2.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    val thrown = intercept[Exception] {
      Backup.recoverFromIds(clean, s"$dir/ids")
    }
    assert(thrown.isInstanceOf[javax.crypto.AEADBadTagException] ||
      thrown.isInstanceOf[IllegalArgumentException],
      s"unexpected failure mode: $thrown")
  }

  test("a table written with custom WmParams carries the custom watermark") {
    val dir = java.nio.file.Files.createTempDirectory("graft_custom_ids").toString
    val sf = new java.io.File(TestSpark.Sf).getParent + "/sf0.01"
    val p = WmParams(message = "CUSTOM MESSAGE!!", key = "another-key-77")
    val g = new Graft(spark, sf, p)
    assert(g.writeWatermarked(s"$dir/stego") > 0)
    assert(Backup.saveCarrierIds(spark, sf, s"$dir/ids", p) > 0)
    // not the default watermark: the custom key selects other carriers
    assert(!g.watermarkedTable.exceptAll(Graft(spark, sf).watermarkedTable).isEmpty)
    val vectors = spark.newSession().read.parquet(s"$dir/stego")
    assert(g.recoverMessageFromIds(vectors, s"$dir/ids") == "CUSTOM MESSAGE!!")
  }
}
