package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cross-session DOC-side scratch (graft.Scratch): the first session
  * writes each checkpointed build (pair tables, signatures, vocab, …)
  * as parquet under a (data, SQL)-fingerprinted key; a fresh session
  * READS it (no rebuild) and serves identical rows; any change to the
  * build SQL lands under a NEW key (auto-invalidation). */
class DocScratchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** An artifact built by its spec, the SQL `sql`. */
  private def table(s: org.apache.spark.sql.SparkSession, name: String, sql: String) =
    Scratch.artifact(s, TestSpark.Sf, name, sql)(s.sql(sql))

  test("fresh session reads the doc scratch instead of rebuilding; SQL change invalidates") {
    val root = java.nio.file.Files.createTempDirectory("graft_docscratch").toString
    val sql = "select doc_id, length(text) as len from documents where doc_id % 7 = 0"

    val s1 = spark.newSession()
    s1.conf.set("spark.graft.scratch", root)
    Tables.register(s1, TestSpark.Sf)
    val r1 = table(s1, "g_sc_probe", sql)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(r1.nonEmpty)
    val done = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("doc-") &&
        new java.io.File(f, "_DONE").exists())
    assert(done.length == 1, s"expected one completed doc scratch key, got ${done.length}")
    val stamp = new java.io.File(done(0), "g_sc_probe").lastModified()

    // fresh session: rows come from the scratch parquet, not a rebuild
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.scratch", root)
    Tables.register(s2, TestSpark.Sf)
    val r2 = table(s2, "g_sc_probe", sql)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(r2 == r1)
    assert(new java.io.File(done(0), "g_sc_probe").lastModified() == stamp,
      "doc scratch was rebuilt instead of reused")
    // and the registered view serves the same rows
    assert(s2.table("g_sc_probe").count() == r1.length.toLong)

    // an edited build SQL must land under a NEW key, never serve stale rows
    val s3 = spark.newSession()
    s3.conf.set("spark.graft.scratch", root)
    Tables.register(s3, TestSpark.Sf)
    val r3 = table(s3, "g_sc_probe",
      sql + " and doc_id % 14 = 0")
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(r3 == r1.filter(_._1 % 14 == 0))
    val done2 = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("doc-") &&
        new java.io.File(f, "_DONE").exists())
    assert(done2.length == 2, "SQL change must create a new scratch key")

    // scratch off: the localCheckpoint fallback is value-identical
    val s4 = spark.newSession()
    s4.conf.set("spark.graft.scratch", "off")
    Tables.register(s4, TestSpark.Sf)
    val r4 = table(s4, "g_sc_probe", sql)
      .collect().map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(r4 == r1)
  }

  test("a production table (g_jpairs) round-trips through the scratch across sessions") {
    val root = java.nio.file.Files.createTempDirectory("graft_docscratch2").toString
    def runIn(scratch: String): Seq[String] = {
      val s = spark.newSession()
      s.conf.set("spark.graft.scratch", scratch)
      SparkEntry.queries("dedup_jaccard")(s, TestSpark.Sf)
        .collect().map(_.toString).sorted.toSeq
    }
    val a = runIn(root)
    val files = new java.io.File(root).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("doc-"))
    assert(files.length == 1)
    val stamp = new java.io.File(files(0), "g_jpairs").lastModified()
    val b = runIn(root) // fresh session, same scratch → read, not rebuild
    assert(b == a && a.nonEmpty)
    assert(new java.io.File(files(0), "g_jpairs").lastModified() == stamp)
    val c = runIn("off") // fallback parity
    assert(c == a)
  }
}
