package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.ChainKernels
import graft.sqlgen.{Gen, SparkDialect, Wm, WmParams}

/** The chain kernels execute their stage SQL exactly: on every corpus,
  * the kernel-built g_bkt, g_knn, g_indeg, g_carriers and g_stego hold
  * the rows of the executed `Gen.artifactSql` SQL (exceptAll both ways
  * empty) with the same column types, g_carriers also under
  * non-default WmParams; the write-back overlay equals the SQL overlay
  * it replaced. */
class ChainKernelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val kernelStages = Seq("g_bkt", "g_knn", "g_indeg", "g_carriers", "g_stego")
  /** Another rate and key; the second rate renders with an exponent,
    * a double literal in Spark SQL. */
  private val customParams = Seq(
    WmParams(key = "another-key-77", rate = 0.2),
    WmParams(message = "CUSTOM MESSAGE!!", key = "k2", rate = 5.0e-4))

  /** A session with `dir`'s chain views built in-session: the stages
    * a watermark job reads, g_stego, and g_bkt, which the g_knn SQL
    * reads. */
  private def session(dir: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.scratch", "off")
    WmCache.ensure(s, dir)
    WmCache.artifact(s, dir, "g_stego")
    WmCache.artifact(s, dir, "g_bkt")
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

  /** Checks the kernel stages of `dir` against their SQL, g_carriers
    * also under [[customParams]]; returns the session the chain was
    * built in. */
  private def checkChain(dir: String, planes: Int): SparkSession = {
    val s = session(dir)
    val gen = SparkEntry.sparkGenFor(s, dir)
    assert(gen.lshPlanes == planes)
    for (view <- kernelStages)
      assert(assertSame(WmCache.stageFrame(s, dir, view), s.sql(gen.artifactSql(view)),
        s"$dir $view") > 0)
    for (p <- customParams) {
      // the custom SQL reads the session's g_indeg view, as the kernel does
      val sql = new Gen(SparkDialect, useViews = true, p, lshPlanes = planes).artifactSql("g_carriers")
      assert(assertSame(ChainKernels.carriers(s, s.table("g_indeg"), p), s.sql(sql),
        s"$dir g_carriers $p") >= Wm.Blocks)
    }
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

  /** The SQL projection the write-back overlay replaced, over
    * (vec_id, embedding, sv): sv is a carrier's stego values, regrouped
    * from its g_stego cells. */
  private val SqlOverlay = Seq("cast(vec_id as bigint) as vec_id",
    """case when sv is null then transform(cast(embedding as array<double>), x -> round(x, 6))
      |else zip_with(cast(embedding as array<double>), sv, (x, s) -> round(coalesce(s, x), 6))
      |end as embedding""".stripMargin)

  /** The write-back table as the SQL overlay computed it: the g_stego
    * cells of `params` regrouped into one array per carrier, joined to
    * the repartitioned corpus and projected by [[SqlOverlay]]. */
  private def sqlOverlay(s: SparkSession, dir: String, params: WmParams): DataFrame = {
    import org.apache.spark.sql.functions._
    val cells =
      if (params == WmParams.Default) WmCache.artifact(s, dir, "g_stego")
      else ChainKernels.stego(s, WmCache.carriers(s, dir, params), params)
    val stego = cells
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("sval")))).as("s"))
      .select(col("id"), expr("transform(s, e -> e.sval)").as("sv"))
    s.table("embeddings")
      .where(size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding"))
      .repartition(s.sessionState.conf.numShufflePartitions, col("vec_id"))
      .join(stego, col("vec_id") === col("id"), "left")
      .selectExpr(SqlOverlay: _*)
  }

  test("the write-back kernel equals the SQL overlay, default and custom params") {
    for ((dir, p) <- Seq(new File(TestSpark.Sf).getParent + "/sf0.01" -> WmParams.Default,
                         scaled -> WmParams.Default, TestSpark.Sf -> customParams.head)) {
      val s = session(dir)
      assert(assertSame(graft.operators.Writeback.stegoTable(s, dir, p), sqlOverlay(s, dir, p),
        s"$dir write-back") == Tables.vectorCount(s, dir))
    }
  }

  test("the write-back overlay keeps a non-carrier's null cells and a null vec_id") {
    val in = spark.sql("""select * from values
      |  (1L, array(1.0D, null, 3.0000005D), cast(null as int)),
      |  (2L, array(-2.5e-7D, 0.1234565D), cast(null as int)),
      |  (cast(null as bigint), array(-0.0D, null), cast(null as int))
      |  as t(vec_id, embedding, blk)""".stripMargin)
    val kernel = graft.operators.Writeback.overlaid(spark, in, WmParams.Default)
    // a row with no stego values is the SQL overlay's transform branch
    val sql = in.selectExpr("vec_id", "cast(null as array<double>) as sv", "embedding")
      .selectExpr(SqlOverlay: _*)
    assert(kernel.collect().toSeq.map(_.toString) == sql.collect().toSeq.map(_.toString))
    assert(kernel.where("exists(embedding, x -> x is null)").count() == 2)
    assert(kernel.where("vec_id is null").count() == 1)
  }
}
