package graft

import java.io.File
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Backup, Writeback}

/** The build boundary of a watermark job: `WmCache.ensure` builds the
  * three chain stages the job reads and nothing else, the write-back
  * embeds the carriers itself, g_stego, g_bkt and the indexes are built
  * by the first statement that reads them, and the write-back overlay
  * changes no written value. */
class ArtifactBoundarySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  /** What a watermark job reads: the g_knn kernel buckets the vectors
    * itself, so g_bkt is not among them, and the write-back embeds the
    * carriers itself, so g_stego is not either. */
  private val chain = Set("g_knn", "g_indeg", "g_carriers")

  private def freshSession(): (SparkSession, File) = {
    val root = java.nio.file.Files.createTempDirectory("graft_boundary").toFile
    val s = spark.newSession()
    s.conf.set("spark.graft.scratch", root.getAbsolutePath)
    (s, root)
  }

  /** Artifacts whose build seconds grew while `body` ran. */
  private def built(body: => Unit): Set[String] = {
    val before = Scratch.buildSeconds
    body
    Scratch.buildSeconds.collect {
      case (k, v) if v != before.getOrElse(k, 0.0) => k
    }.toSet
  }

  /** Completed scratch directories under `root`, with the artifact
    * directories each holds. */
  private def listing(root: File): Map[String, Set[String]] =
    root.listFiles().filter(d => d.isDirectory && new File(d, "_DONE").exists())
      .map(d => d.getName -> d.listFiles().filter(_.isDirectory).map(_.getName).toSet)
      .toMap

  test("ensure on a fresh scratch root builds exactly the three chain stages") {
    val (s, root) = freshSession()
    assert(built(WmCache.ensure(s, TestSpark.Sf)) == chain)
    assert(listing(root).values.toSet == chain.map(Set(_)),
      s"scratch holds more than the chain: ${listing(root)}")
    for (v <- Seq("g_ivf_ct", "g_ivf_asg", "g_pq_ct", "g_pq_codes", "g_bq"))
      assert(!s.catalog.tableExists(v), s"ensure registered index view $v")
  }

  test("a watermark job builds the three chain stages; a later wm_extract builds g_stego") {
    val (s, root) = freshSession()
    val out = java.nio.file.Files.createTempDirectory("graft_job").toString
    val job = built {
      WmCache.ensure(s, TestSpark.Sf)
      graft.api.Graft(s, TestSpark.Sf).writeWatermarked(s"$out/stego")
      Backup.saveCarrierIds(s, TestSpark.Sf, s"$out/ids")
    }
    assert(job == chain)
    assert(listing(root).values.toSet == chain.map(Set(_)))
    def answer(x: SparkSession): Seq[String] =
      SparkEntry.queries("wm_extract")(x, TestSpark.Sf).collect().map(_.toString).sorted.toSeq
    var got = Seq.empty[String]
    assert(built { got = answer(s) } == Set("g_stego"))
    // the answer of a session that built g_stego before the query
    val ref = spark.newSession()
    ref.conf.set("spark.graft.scratch", "off")
    WmCache.artifact(ref, TestSpark.Sf, "g_stego")
    assert(got.nonEmpty && got == answer(ref))
  }

  test("a key reading g_bkt builds g_bkt on first use, and nothing else") {
    val (s, root) = freshSession()
    assert(built(SparkEntry.queries("vec_topk_lsh")(s, TestSpark.Sf).count(): Unit) == Set("g_bkt"))
    assert(listing(root).values.toSet == Set(Set("g_bkt")))
    assert(built(SparkEntry.queries("vec_topk_lsh")(s, TestSpark.Sf).count(): Unit).isEmpty)
  }

  test("a key reading g_ivf_asg builds g_ivf_ct and g_ivf_asg on first use, and nothing else") {
    val (s, root) = freshSession()
    val rows = built(SparkEntry.queries("vec_topk_ivf")(s, TestSpark.Sf).count(): Unit)
    assert(rows == Set("g_ivf_ct", "g_ivf_asg"))
    assert(listing(root).values.toSet == Set(Set("g_ivf_ct"), Set("g_ivf_asg")))
    // served, not rebuilt, on the next use in the session
    assert(built(SparkEntry.queries("vec_topk_ivf")(s, TestSpark.Sf).count(): Unit).isEmpty)
  }

  test("the carrier-id registry is written and read as (vec_id bigint, blk bigint)") {
    val (s, _) = freshSession()
    val ids = java.nio.file.Files.createTempDirectory("graft_ids").toString + "/ids"
    assert(Backup.saveCarrierIds(s, TestSpark.Sf, ids) > 0)
    assert(s.read.parquet(ids).schema.simpleString == "struct<vec_id:bigint,blk:bigint>")
  }

  test("stegoTable equals the exploded vec_writeback form and keeps its partitioning") {
    val (s, _) = freshSession()
    val dir = new File(TestSpark.Sf).getParent + "/sf0.01"
    val overlay = Writeback.stegoTable(s, dir)
    val exploded = SparkEntry.queries("vec_writeback")(s, dir)
      .groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("val")))).as("s"))
      .select(col("vec_id"), expr("transform(s, e -> e.val)").as("embedding"))
    // column types match; nullability may not, and a parquet write makes
    // every column nullable either way
    assert(overlay.schema.simpleString == exploded.schema.simpleString)
    assert(overlay.count() == exploded.count())
    assert(overlay.exceptAll(exploded).isEmpty && exploded.exceptAll(overlay).isEmpty)
    assert(overlay.rdd.getNumPartitions == s.sessionState.conf.numShufflePartitions)
  }
}
