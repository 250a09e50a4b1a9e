package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cross-session chain scratch: the first ensure() writes each g_*
  * stage a watermark job reads (g_knn, g_indeg, g_carriers)
  * as parquet under its own (data, SQL)-fingerprinted key; a
  * second session reuses them (chain build ≈ parquet read) and serves
  * IDENTICAL rows. */
class WmCacheScratchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("second session reuses the parquet scratch and matches") {
    val root = java.nio.file.Files.createTempDirectory("graft_scratch").toString

    val s1 = spark.newSession()
    s1.conf.set("spark.graft.scratch", root)
    WmCache.ensure(s1, TestSpark.Sf)
    val done = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && new java.io.File(f, "_DONE").exists())
    val stages = Seq("g_knn", "g_indeg", "g_carriers")
    assert(done.length == 3, s"expected three completed scratch keys, got ${done.length}")
    // one stage per key
    val stageDir = stages.map(v =>
      v -> done.filter(d => new java.io.File(d, v).isDirectory).toSeq).toMap
    assert(stageDir.values.forall(_.length == 1), s"stage per key: $stageDir")
    def stamps = stages.map(v => new java.io.File(stageDir(v).head, v).lastModified())
    val carriers1 = s1.table("g_carriers").collect()
      .map(r => (r.getLong(0), r.getLong(3))).sorted
    assert(carriers1.nonEmpty)
    val stamp = stamps

    // fresh session: views must come from the scratch parquet, not a
    // rebuild (the stage files are not rewritten)
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.scratch", root)
    WmCache.ensure(s2, TestSpark.Sf)
    val carriers2 = s2.table("g_carriers").collect()
      .map(r => (r.getLong(0), r.getLong(3))).sorted
    assert(carriers2.toSeq == carriers1.toSeq)
    assert(stamps == stamp, "scratch was rebuilt instead of reused")

    // and the scratch-served chain agrees with the oracle-checked
    // inline rendering (scratch off → localCheckpoint path)
    val s3 = spark.newSession()
    s3.conf.set("spark.graft.scratch", "off")
    WmCache.ensure(s3, TestSpark.Sf)
    val carriers3 = s3.table("g_carriers").collect()
      .map(r => (r.getLong(0), r.getLong(3))).sorted
    assert(carriers3.toSeq == carriers1.toSeq)
  }
}
