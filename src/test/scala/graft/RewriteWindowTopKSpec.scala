package graft

import org.scalatest.funsuite.AnyFunSuite

/** The rank-window top-k rewrite (plans.RewriteWindowTopK): unchanged
  * SQL plans with the bounded-state graft_topk_rows aggregate, result
  * identity with the window form, partitioning invariance, and the
  * guard rails (rank() untouched, residual conjuncts preserved). */
class RewriteWindowTopKSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def withRewriteOff[T](body: => T): T = {
    spark.conf.set("spark.graft.topkRewrite.maxK", "0")
    try body finally spark.conf.set("spark.graft.topkRewrite.maxK", "100")
  }

  test("q_window_topn plans with partial_graft_topk_rows, unchanged SQL, identical rows") {
    val df = SparkEntry.queries("q_window_topn")(spark, TestSpark.Sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_topk_rows"),
      "map-side partial aggregation missing from the rewritten plan")
    assert(!plan.contains("Window"), "window survived the rewrite")
    val got = df.collect().map(_.toString).sorted.toSeq
    val ref = withRewriteOff {
      val d = SparkEntry.queries("q_window_topn")(spark, TestSpark.Sf)
      assert(d.queryExecution.executedPlan.toString.contains("Window"),
        "maxK=0 must disable the rewrite")
      d.collect().map(_.toString).sorted.toSeq
    }
    assert(got == ref && got.nonEmpty)
  }

  test("result identity with the window form at 1/7/32 input partitions") {
    Tables.register(spark, TestSpark.Sf)
    val sql =
      """select c_nationkey, c_custkey, rn from (
        |  select c_nationkey, c_custkey,
        |    row_number() over (partition by c_nationkey order by c_acctbal desc, c_custkey) as rn
        |  from cust_rp) _t where rn <= 3""".stripMargin
    val ref = withRewriteOff {
      spark.table("customer").createOrReplaceTempView("cust_rp")
      spark.sql(sql).collect().map(_.toString).sorted.toSeq
    }
    assert(ref.nonEmpty)
    for (n <- Seq(1, 7, 32)) {
      spark.table("customer").repartition(n).createOrReplaceTempView("cust_rp")
      val df = spark.sql(sql)
      assert(df.queryExecution.executedPlan.toString.contains("graft_topk_rows"), s"n=$n")
      assert(df.collect().map(_.toString).sorted.toSeq == ref, s"n=$n")
    }
  }

  test("guard rails: rank() keeps its window; residual conjuncts survive") {
    Tables.register(spark, TestSpark.Sf)
    val ranked = spark.sql(
      """select * from (select c_custkey,
        |  rank() over (partition by c_nationkey order by c_acctbal desc) as rk
        |from customer) _t where rk <= 3""".stripMargin)
    assert(ranked.queryExecution.executedPlan.toString.contains("Window"),
      "rank() must not be rewritten (gap semantics differ from a row limit)")

    val residual = spark.sql(
      """select * from (select c_custkey, c_acctbal,
        |  row_number() over (partition by c_nationkey order by c_acctbal desc, c_custkey) as rn
        |from customer) _t where rn <= 4 and c_acctbal > 1000""".stripMargin)
    assert(residual.queryExecution.executedPlan.toString.contains("graft_topk_rows"))
    val refResidual = withRewriteOff {
      spark.sql(
        """select * from (select c_custkey, c_acctbal,
          |  row_number() over (partition by c_nationkey order by c_acctbal desc, c_custkey) as rn
          |from customer) _t where rn <= 4 and c_acctbal > 1000""".stripMargin)
        .collect().map(_.toString).sorted.toSeq
    }
    assert(residual.collect().map(_.toString).sorted.toSeq == refResidual)
  }

  test("a malformed spark.graft.topkRewrite.maxK throws instead of reading as 100") {
    // a session of its own: registering installs the rule in it
    val s = spark.newSession()
    Tables.register(s, TestSpark.Sf)
    s.conf.set("spark.graft.topkRewrite.maxK", "ten")
    val df = s.sql(
      """select * from (select c_custkey,
        |  row_number() over (partition by c_nationkey order by c_acctbal desc, c_custkey) as rn
        |from customer) _t where rn <= 3""".stripMargin)
    val e = intercept[IllegalArgumentException](df.queryExecution.optimizedPlan)
    assert(e.getMessage.contains("spark.graft.topkRewrite.maxK"), e.getMessage)
  }
}
