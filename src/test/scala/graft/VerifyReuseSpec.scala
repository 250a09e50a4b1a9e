package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** Verify on a reused dump dir: the oracle comparison reads every
  * subdirectory of the dump dir as a query's parquet output, so a rerun
  * must leave nothing else there — including the `_sigs` dir that runs
  * before the sibling `<outDir>_sigs` kept inside it. */
class VerifyReuseSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("a rerun on a reused dump dir leaves only readable query dumps") {
    val out = new File(Files.createTempDirectory("graft_verify_reuse").toFile, "dump")
    val legacy = new File(out, "_sigs")
    legacy.mkdirs()
    Files.writeString(new File(legacy, "q1_pricing").toPath, "0123456789abcdef")
    try for (_ <- 1 to 2) Verify.dump(Array(TestSpark.Sf, out.getPath, "--smoke"), spark)
    finally spark.sparkContext.setLogLevel("ERROR")
    assert(!legacy.exists(), "the legacy signature dir survived")
    val dumps = out.listFiles().filter(_.isDirectory)
    assert(dumps.map(_.getName).toSet ==
      Set("q1_pricing", "dedup_exact", "text_tokens", "vec_topk", "events_sessions"))
    for (d <- dumps) assert(spark.read.parquet(d.getPath).columns.nonEmpty, d.getName)
  }
}
