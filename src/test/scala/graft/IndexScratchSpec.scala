package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Failure paths of the index scratch: an index is a graft.Scratch
  * table, so a dead writer's partial directory, a lost rename race and
  * a failed write must each still serve exactly the rows a clean build
  * serves. */
class IndexScratchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def session(scratch: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.scratch", scratch)
    s
  }

  /** The IVF artifacts vec_topk_ivf ensures, as sorted row strings. */
  private def ivfRows(s: SparkSession): (Seq[String], Seq[String]) = {
    SparkEntry.queries("vec_topk_ivf")(s, TestSpark.Sf)
    def rows(v: String) = s.table(v).collect().map(_.toString).sorted.toSeq
    (rows("g_ivf_ct"), rows("g_ivf_asg"))
  }

  private lazy val clean: (File, (Seq[String], Seq[String])) = {
    val root = Files.createTempDirectory("graft_ivf_clean").toFile
    root -> ivfRows(session(root.getAbsolutePath))
  }

  test("a partial directory with no _DONE is rebuilt, not served") {
    val (cleanRoot, expected) = clean
    assert(expected._1.nonEmpty && expected._2.nonEmpty)
    val root = Files.createTempDirectory("graft_ivf_partial").toFile
    // a dead writer's leftovers under every key a clean build publishes:
    // one truncated parquet file per artifact, and no _DONE
    val keys = cleanRoot.listFiles().filter(_.isDirectory).map(_.getName)
    assert(keys.length == 2)
    for (k <- keys; art <- new File(cleanRoot, k).list() if art != "_DONE") {
      val d = new File(new File(root, k), art)
      d.mkdirs()
      Files.write(new File(d, "part-00000.parquet").toPath, "PAR1 truncated".getBytes)
    }
    assert(ivfRows(session(root.getAbsolutePath)) == expected)
    for (k <- keys) {
      assert(new File(new File(root, k), "_DONE").exists(), s"$k was not republished")
      val parts = new File(root, k).listFiles().filter(_.isDirectory)
        .flatMap(_.list()).filter(_.endsWith(".parquet"))
      assert(!parts.contains("part-00000.parquet"), s"$k still holds the partial file")
    }
  }

  test("a lost rename race serves the complete winner") {
    val root = Files.createTempDirectory("graft_publish").toFile
    def build(name: String, marker: String, done: Boolean): File = {
      val d = new File(root, name)
      new File(d, "g_x").mkdirs()
      Files.writeString(new File(d, "g_x/marker").toPath, marker)
      if (done) new File(d, "_DONE").createNewFile()
      d
    }
    val base = build("doc-key", "winner", done = true)
    val tmp = build("doc-key.tmp-1", "loser", done = false)
    val served = Scratch.publish(tmp, base, "g_x")
    assert(served == base)
    assert(Files.readString(new File(served, "g_x/marker").toPath) == "winner")
    assert(!tmp.exists(), "the losing build was left behind")

    // an incomplete base (a dead writer's) is replaced, not served
    val dead = build("doc-key2", "dead", done = false)
    val fresh = build("doc-key2.tmp-1", "fresh", done = false)
    val served2 = Scratch.publish(fresh, dead, "g_x")
    assert(served2 == dead && new File(served2, "_DONE").exists())
    assert(Files.readString(new File(served2, "g_x/marker").toPath) == "fresh")
    assert(root.list().count(_.contains(".stale-")) == 0, "the stale partial was not removed")
  }

  test("a failed write falls back to localCheckpoint with identical rows") {
    val (_, expected) = clean
    // a scratch root that is a regular file: every scratch write fails
    val notADir = Files.createTempFile("graft_ivf_root", ".file").toFile
    val before = Scratch.buildSeconds
    assert(ivfRows(session(notADir.getAbsolutePath)) == expected)
    val after = Scratch.buildSeconds
    for (a <- Seq("g_ivf_ct", "g_ivf_asg"))
      assert(after(a) > before.getOrElse(a, 0.0), s"$a was not rebuilt in-session")
    assert(notADir.isFile && notADir.length == 0L)
  }
}
