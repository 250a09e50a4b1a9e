package graft

import org.scalatest.funsuite.AnyFunSuite

/** The one artifact registry: every g_* view a statement reads is a
  * declared artifact, a reader's scratch key covers the specs of what
  * it reads, and `WmCache.dependents` follows reads transitively. */
class ArtifactRegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val GName = "\\bg_[a-z0-9_]+\\b".r

  test("every g_* name a key's Spark text or an artifact's SQL reads is a declared artifact") {
    Tables.register(spark, TestSpark.Sf)
    val gen = SparkEntry.sparkGenFor(spark, TestSpark.Sf)
    val declared = gen.artifactNames.toSet
    assert(declared.size == gen.artifactNames.size, "an artifact is declared twice")
    val texts = gen.keys.toSeq.sorted.map(k => s"key $k" -> gen.sql(k)) ++
      gen.artifactNames.map(a => s"artifact $a" -> gen.artifactSql(a))
    val undeclared = for {
      (what, text) <- texts
      name <- GName.findAllIn(text).toSet.toSeq.sorted if !declared(name)
    } yield s"$what reads $name"
    assert(undeclared.isEmpty, undeclared.mkString("\n"))
  }

  test("a reader's scratch key covers the spec of every non-chain artifact it reads") {
    Tables.register(spark, TestSpark.Sf)
    val gen = SparkEntry.sparkGenFor(spark, TestSpark.Sf)
    for ((reader, input) <- Seq("g_mhpairs" -> "g_mhsig", "g_rpq_codes" -> "g_rpq_ct",
                                "g_simrpairs" -> "g_simreps", "g_hyb_scores_post" -> "g_hyb_stats")) {
      val lineage = WmCache.ensureReads(spark, TestSpark.Sf, s"select * from $reader")
      assert(lineage.contains(s"$input=${gen.artifactSql(input)}"),
        s"the key of a build reading $reader misses the spec of $input")
    }
  }

  test("dependents: the keys that read the watermark chain, directly or through an artifact") {
    assert(WmCache.dependents("graph_betweenness"))
    assert(WmCache.dependents("wm_extract_ids"))
    assert(!WmCache.dependents("dedup_minhash"))
    assert(!WmCache.dependents("vec_topk_ivf"))
    // the serve_warm mix of the benchmark
    val mix = Seq("vec_topk", "vec_topk_lsh", "vec_topk_ivf", "wm_extract", "dedup_exact",
      "dedup_minhash", "text_bm25", "q1_pricing", "events_sessions")
    assert(mix.filter(WmCache.dependents) == Seq("vec_topk_lsh", "wm_extract"))
  }

  test("ensureAll registers every declared artifact") {
    WmCache.ensureAll(spark, TestSpark.Sf)
    val gen = SparkEntry.sparkGenFor(spark, TestSpark.Sf)
    for (name <- gen.artifactNames)
      assert(spark.catalog.tableExists(name), s"$name is not registered")
  }
}
