package graft

import org.scalatest.funsuite.AnyFunSuite

/** Prof's census counts node classes of the executed plan — scans per
  * table, through adaptive and codegen wrappers — its explain adds the
  * RDD lineage to a kernel artifact's plan only, and its first touch
  * counts the Spark jobs and stages it ran. */
class ProfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def census(name: String): Prof.Census =
    Prof.census(Prof.frame(spark, TestSpark.Sf, name).queryExecution.executedPlan)

  test("census of a broadcast-join key: one scan per table, broadcast hash joins only") {
    val c = census("q5_nation_rev")
    assert(c.scans == Map("customer" -> 1, "lineitem" -> 1, "nation" -> 1,
      "orders" -> 1, "region" -> 1, "supplier" -> 1))
    assert((c.bhj, c.smj, c.bnlj, c.cartesian) == (5, 0, 0, 0))
  }

  test("census of a key reading a g_* artifact counts the artifact's scans") {
    val c = census("dedup_simhash_pairs")
    assert(c.scans == Map("g_simsigs" -> 2))
    assert((c.bhj, c.smj, c.bnlj, c.cartesian) == (1, 0, 2, 0))
  }

  test("explain adds the RDD lineage to a kernel artifact's plan, not to a query key's") {
    val knn = Prof.explain(Prof.frame(spark, TestSpark.Sf, "g_knn"), details = true)
    assert(knn.contains("RDD lineage:") && knn.contains("ShuffledRDD"))
    val q5 = Prof.explain(Prof.frame(spark, TestSpark.Sf, "q5_nation_rev"), details = true)
    assert(q5.contains("BroadcastHashJoin") && !q5.contains("RDD lineage:"))
  }

  test("frame rejects a name that is neither a query key nor an artifact") {
    intercept[IllegalArgumentException](Prof.frame(spark, TestSpark.Sf, "no_such_key"))
  }

  test("work counts the Spark jobs and stages of a g_carriers first touch") {
    val s = spark.newSession()
    s.conf.set("spark.graft.scratch", "off")
    val w = Prof.work(s)(Prof.frame(s, TestSpark.Sf, "g_carriers").count(): Unit)
    assert(w.jobs > 0 && w.stages > 0 && w.seconds > 0, w)
    val idle = Prof.work(s)(())
    assert((idle.jobs, idle.stages) == (0, 0))
  }
}
