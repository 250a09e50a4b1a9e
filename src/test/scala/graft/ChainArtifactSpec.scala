package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Each watermark chain stage is its own Scratch artifact: a fresh
  * session rebuilds only the stages whose scratch is gone, and one
  * session that switches between sf dirs serves each dir's own chain
  * stages and indexes. */
class ChainArtifactSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def session(root: File): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.scratch", root.getAbsolutePath)
    s
  }

  /** Artifacts whose build seconds grew while `body` ran. */
  private def built(body: => Unit): Set[String] = {
    val before = Scratch.buildSeconds
    body
    Scratch.buildSeconds.collect {
      case (k, v) if v != before.getOrElse(k, 0.0) => k
    }.toSet
  }

  private def rows(s: SparkSession, view: String): Seq[String] =
    s.table(view).collect().map(_.toString).sorted.toSeq

  test("a fresh session rebuilds exactly the chain stages whose scratch was removed") {
    val root = Files.createTempDirectory("graft_chain_stages").toFile
    val s1 = session(root)
    WmCache.ensure(s1, TestSpark.Sf)
    WmCache.artifact(s1, TestSpark.Sf, "g_stego")
    val clean = Seq("g_carriers", "g_stego").map(rows(s1, _))
    val removed = root.listFiles().filter(d =>
      new File(d, "g_carriers").isDirectory || new File(d, "g_stego").isDirectory)
    assert(removed.length == 2)
    removed.foreach(Scratch.deleteRec)

    val s2 = session(root)
    assert(built {
      WmCache.ensure(s2, TestSpark.Sf)
      WmCache.artifact(s2, TestSpark.Sf, "g_stego")
    } == Set("g_carriers", "g_stego"))
    assert(Seq("g_carriers", "g_stego").map(rows(s2, _)) == clean)
  }

  test("one session switching sf dirs serves each dir's own g_carriers and g_ivf_asg") {
    val sf01 = new File(TestSpark.Sf).getParent + "/sf0.01"
    val root = Files.createTempDirectory("graft_dir_switch").toFile
    def served(s: SparkSession, dir: String): Seq[Seq[String]] = {
      val answer = SparkEntry.queries("vec_topk_ivf")(s, dir).collect().map(_.toString).sorted.toSeq
      WmCache.ensure(s, dir)
      Seq(answer, rows(s, "g_carriers"), rows(s, "g_ivf_asg"))
    }
    val s = session(root)
    val first = served(s, TestSpark.Sf)
    val other = served(s, sf01)
    val back = served(s, TestSpark.Sf)
    // each dir's own rows: what a session that never switched serves
    assert(first == served(session(root), TestSpark.Sf))
    assert(other == served(session(root), sf01))
    assert(back == first)
    assert(first.zip(other).forall { case (a, b) => a != b })
  }
}
