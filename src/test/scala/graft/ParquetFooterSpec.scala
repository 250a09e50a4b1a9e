package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Parquet metadata from the footers: `Tables.footerSchema` and
  * `footerRows` equal Spark's inferred schema and `count()` on every
  * table, on every chain artifact dir and on a directory of several
  * part files, and registering a dir runs no Spark job. */
class ParquetFooterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf01 = new File(TestSpark.Sf).getParent + "/sf0.01"

  private def assertFooterMatches(path: String): Unit = {
    val df = spark.read.parquet(path)
    assert(Tables.footerSchema(spark, path) == df.schema, s"$path: schema")
    assert(Tables.footerRows(spark, path) == df.count(), s"$path: rows")
  }

  test("footer schema and rows equal inference and count() on every table at sf0.001 and sf0.01") {
    // the session conf register sets (nanosAsLong) applies to both reads
    Tables.register(spark, TestSpark.Sf)
    for (dir <- Seq(TestSpark.Sf, sf01); n <- Tables.names)
      assertFooterMatches(s"$dir/$n.parquet")
  }

  test("footer schema and rows equal inference and count() on every chain artifact dir") {
    val root = Files.createTempDirectory("graft_footer").toFile
    val s = spark.newSession()
    s.conf.set("spark.graft.scratch", root.getAbsolutePath)
    WmCache.ensure(s, TestSpark.Sf)
    WmCache.artifact(s, TestSpark.Sf, "g_stego")
    WmCache.artifact(s, TestSpark.Sf, "g_bkt")
    val dirs = for {
      key <- root.listFiles().toSeq if new File(key, "_DONE").exists()
      art <- key.listFiles().toSeq if art.isDirectory
    } yield art
    assert(dirs.map(_.getName).toSet == Set("g_bkt", "g_knn", "g_indeg", "g_carriers", "g_stego"))
    dirs.foreach(d => assertFooterMatches(d.getPath))
  }

  test("footer schema and rows equal inference and count() on a directory of part files") {
    val out = Files.createTempDirectory("graft_parts").toString + "/embeddings.parquet"
    spark.read.parquet(s"$sf01/embeddings.parquet").repartition(3).write.parquet(out)
    assert(new File(out).listFiles().count(_.getName.startsWith("part-")) == 3)
    assertFooterMatches(out)
    assert(Tables.read(spark, out).exceptAll(spark.read.parquet(out)).isEmpty)
  }

  test("Tables.register on a fresh session runs 0 Spark jobs") {
    val s = spark.newSession()
    val w = Prof.work(s)(Tables.register(s, sf01))
    assert((w.jobs, w.stages) == (0, 0), w)
    assert(s.table("embeddings").count() == Tables.vectorCount(s, sf01))
  }
}
