package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ChainKernels
import graft.sqlgen.{Gen, SparkDialect, Wm, WmParams}

/** The chain kernels execute their stage SQL exactly: on every corpus,
  * the kernel-built g_bkt, g_knn and g_stego hold the rows of the
  * executed `Gen.artifactSql` SQL (exceptAll both ways empty) with the
  * same column types. */
class ChainKernelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val kernelStages = Seq("g_bkt", "g_knn", "g_stego")

  /** A session with `dir`'s chain views built in-session. */
  private def session(dir: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.scratch", "off")
    WmCache.ensure(s, dir)
    s
  }

  private def types(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)

  /** Asserts `kernel` and `sql` hold the same rows and column types;
    * returns the row count. */
  private def assertSame(kernel: DataFrame, sql: DataFrame, what: String): Long = {
    assert(types(kernel) == types(sql), s"$what: column types")
    assert(kernel.exceptAll(sql).isEmpty, s"$what: kernel rows the SQL lacks")
    assert(sql.exceptAll(kernel).isEmpty, s"$what: SQL rows the kernel lacks")
    kernel.count()
  }

  /** Checks the three kernel stages of `dir` against their SQL;
    * returns the session the chain was built in. */
  private def checkChain(dir: String, planes: Int): SparkSession = {
    val s = session(dir)
    val gen = SparkEntry.sparkGenFor(s, dir)
    assert(gen.lshPlanes == planes)
    for (view <- kernelStages)
      assert(assertSame(WmCache.stageFrame(s, dir, view), s.sql(gen.artifactSql(view)),
        s"$dir $view") > 0)
    s
  }

  /** A corpus dir: `embeddings` as given, every other table from the
    * test scale factor. */
  private def corpus(embeddings: DataFrame): String = {
    val dir = Files.createTempDirectory("graft_kernel_corpus").toFile
    for (n <- Tables.names if n != "embeddings")
      Files.createSymbolicLink(new File(dir, s"$n.parquet").toPath,
        new File(s"${TestSpark.Sf}/$n.parquet").getAbsoluteFile.toPath)
    embeddings.write.parquet(new File(dir, "embeddings.parquet").getPath)
    dir.getPath
  }

  private def singletonBuckets(s: SparkSession): Long =
    s.table("g_bkt").groupBy("t", "b").count().where("count = 1").count()

  test("kernels equal the stage SQL on sf0.001 and sf0.01") {
    checkChain(TestSpark.Sf, Wm.LshPlanes)
    checkChain(new File(TestSpark.Sf).getParent + "/sf0.01", Wm.LshPlanes)
  }

  test("exact duplicate vectors tie on sim and rank by dst; lone bucket members get no edges") {
    val base = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
    // 40 vectors copied twice under new ids: every copy ties its
    // original's sim to any third vector exactly
    val dups = (1 to 2).map(c => base.where("vec_id % 12 = 0")
      .selectExpr(s"vec_id + ${c * 100000} as vec_id", "embedding", "label"))
      .reduce(_ union _)
    val dir = corpus(base.union(dups))
    val s = checkChain(dir, Wm.LshPlanes)
    val knn = s.table("g_knn")
    // a copy's neighbors include its original and its other copy at
    // the top sim, the lower id first
    val top = knn.where("src = 100000 and rn <= 2").orderBy("rn")
      .collect().map(r => (r.getLong(1), r.getDouble(2)))
    assert(top.toSeq == Seq((0L, top(0)._2), (200000L, top(0)._2)))
    assert(knn.groupBy("src", "sim").count().where("count > 1").count() > 0, "tied sims")
    // members alone in every one of their buckets have no kNN rows
    val lone = s.table("g_bkt").groupBy("t", "b").count().where("count = 1")
      .join(s.table("g_bkt"), Seq("t", "b")).groupBy("id").count()
      .where(s"count = ${Wm.LshTables}").select("id")
    assert(singletonBuckets(s) > 0, "the corpus has a one-member bucket")
    assert(lone.join(knn, lone("id") === knn("src")).isEmpty)
  }

  /** The sf0.1 vectors and 8 seeded perturbations of them: 18,000
    * vectors, so the plane count grows past the static 6 to 10. */
  private lazy val scaled: String = {
    val sf01 = spark.read.parquet(new File(TestSpark.Sf).getParent + "/sf0.1/embeddings.parquet")
    val replicas = (0 until 9).map(r => sf01.selectExpr(
      s"vec_id + ${r * 100000} as vec_id",
      s"transform(embedding, (x, i) -> cast(x + ${r * 0.01} * sin(vec_id * 7 + i * 13 + $r) as float)) as embedding",
      "label")).reduce(_ union _)
    corpus(replicas)
  }

  test("kernels equal the stage SQL on a corpus scaled to lshPlanesFor = 10") {
    assert(Wm.lshPlanesFor(Tables.vectorCount(spark, scaled)) == 10)
    val s = checkChain(scaled, 10)
    assert(singletonBuckets(s) > 0, "the corpus has a one-member bucket")
  }

  test("a custom-params Graft reports the carriers its write-back embeds, past the static plane count") {
    val p = WmParams(message = "CUSTOM MESSAGE!!", key = "another-key-77")
    val s = session(scaled)
    val cols = Seq("vec_id", "in_degree", "sel_rank", "blk").map(c => s"cast($c as bigint) as $c")
    val reported = new graft.api.Graft(s, scaled, p).carriers.selectExpr(cols: _*)
    val written = WmCache.carriers(s, scaled, p).selectExpr(cols: _*)
    assert(reported.count() > 0)
    assert(reported.exceptAll(written).isEmpty && written.exceptAll(reported).isEmpty)
  }

  test("the g_stego kernel equals the stage SQL under non-default WmParams") {
    for (p <- Seq(
      WmParams(key = "another-key-77", rate = 0.2, delta = 0.07),
      // an exponent-rendered delta is a double literal in Spark SQL
      WmParams(message = "CUSTOM MESSAGE!!", key = "k2", rate = 0.05, delta = 5.0e-4))) {
      val s = session(TestSpark.Sf)
      // the custom stage SQL reads its carriers from the g_carriers view
      WmCache.carriers(s, TestSpark.Sf, p).localCheckpoint().createOrReplaceTempView("g_carriers")
      val gen = new Gen(SparkDialect, useViews = true, p)
      assert(assertSame(ChainKernels.stego(s, s.table("g_carriers"), p),
        s.sql(gen.artifactSql("g_stego")), s"g_stego $p") > 0)
    }
  }
}
