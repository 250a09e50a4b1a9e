package graft

import org.scalatest.funsuite.AnyFunSuite

/** Semantic guarantees of the round-4 sketch / graph / anomaly ops
  * that the oracle gate (Spark == DuckDB) cannot express: Bloom's
  * one-sided membership error, CMS's overestimate-only bound, the
  * histogram quantile sketch's bin-width error envelope, triangle
  * count consistency with a brute per-triple check, and the z-score
  * baseline's exclusion of the scored hour.
  */
class SketchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def run(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  test("sketch_bloom: no false negatives, measured FPR near expectation") {
    val r = run("sketch_bloom").collect()
    assert(r.length == 1)
    val row = r.head
    val nEval = row.getAs[Long]("n_eval_shingles")
    val nBits = row.getAs[Long]("n_bits_set")
    val nMembers = row.getAs[Long]("n_members")
    val nHits = row.getAs[Long]("n_hits")
    val nFp = row.getAs[Long]("n_false_pos")
    assert(nEval > 0 && nBits > 0)
    // one-sided error: every true overlap shingle MUST hit (a Bloom
    // filter can never miss a member), so hits = members + false pos
    assert(nHits == nMembers + nFp)
    // the filter is not saturated and not empty at test scale
    val fill = row.getAs[Double]("fill_ratio")
    assert(fill > 0.0 && fill < 0.9)
    // measured FPR within an order of magnitude of fill^k (loose — the
    // point is the reported expectation is the right formula, not a
    // tight concentration bound at 16k probes)
    val fprExp = row.getAs[Double]("fpr_expected")
    val fprMeas = row.getAs[Double]("fpr_measured")
    assert(fprMeas <= math.max(10 * fprExp, 0.01))
  }

  test("sketch_cms: estimates never undercount and exact-match somewhere") {
    val rows = run("sketch_cms").collect()
    assert(rows.nonEmpty)
    // CMS error is one-sided: min over rows still includes every
    // increment of the queried key
    assert(rows.forall(r => r.getAs[Long]("cms_est") >= r.getAs[Long]("n_exact")))
    assert(rows.forall(r =>
      r.getAs[Long]("overestimate") ==
        r.getAs[Long]("cms_est") - r.getAs[Long]("n_exact")))
  }

  test("sketch_cms_err: one-sided error distribution over a large domain") {
    val rows = run("sketch_cms_err").collect()
    assert(rows.nonEmpty)
    // every overestimate is >= 0 (CMS never undercounts)
    assert(rows.forall(_.getAs[Long]("overestimate") >= 0))
    // the standard CMS guarantee: P[overest > (e/w)·N] < e^-d ≈ 1.8%
    // for d=4 — so at least 95% of keys must sit inside the ε-bound
    Tables.register(spark, TestSpark.Sf)
    val n = spark.sql(
      """select count(*) from (select doc_id, split(lower(text), '\\s+') ws from documents) w
        |lateral view posexplode(ws) _e as p, wd""".stripMargin)
      .head().getLong(0) // shingle count ≈ word count; the bound only loosens
    val bound = math.ceil(math.E / 1024.0 * n).toLong
    val total = rows.map(_.getAs[Long]("n_keys")).sum
    val inBound = rows.filter(_.getAs[Long]("overestimate") <= bound)
      .map(_.getAs[Long]("n_keys")).sum
    assert(inBound.toDouble / total >= 0.95,
      s"only $inBound/$total keys within the eps bound $bound")
  }

  test("sketch_quantiles: approx within one bin width of exact") {
    val rows = run("sketch_quantiles").collect()
    assert(rows.length == 3)
    // the interpolated estimate can be off by at most the bin width;
    // with 128 bins over the price range that is < 1% of the range
    val prices = spark.read
      .parquet(s"${TestSpark.Sf}/lineitem.parquet")
      .selectExpr("cast(l_extendedprice as double) as x")
      .agg(org.apache.spark.sql.functions.min("x"),
        org.apache.spark.sql.functions.max("x"))
      .head()
    val binW = (prices.getDouble(1) - prices.getDouble(0)) / 128.0
    rows.foreach { r =>
      val exact = r.getAs[Double]("exact_v")
      val approx = r.getAs[Double]("approx_v")
      assert(math.abs(approx - exact) <= binW + 1e-6,
        s"${r.getAs[String]("quantile")}: |$approx - $exact| > bin width $binW")
    }
  }

  test("events_value_quantiles: per-group approx within one bin width") {
    val rows = run("events_value_quantiles").collect()
    assert(rows.length == 10) // 5 types x {p50, p95}
    Tables.register(spark, TestSpark.Sf)
    val ranges = spark.sql(
      "select event_type, (max(value) - min(value)) / 64.0 from events group by event_type")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      val binW = ranges(r.getAs[String]("event_type"))
      assert(math.abs(r.getAs[Double]("approx_v") - r.getAs[Double]("exact_v")) <= binW + 1e-6,
        s"${r.getAs[String]("event_type")}/${r.getAs[String]("quantile")} outside bin width")
    }
  }

  test("graph_triangles matches a brute-force triple count") {
    val row = run("graph_triangles").collect().head
    val nTri = row.getAs[Long]("n_triangles")
    val nWedge = row.getAs[Long]("n_wedges")
    // brute-force recount on the same undirected edge set
    Tables.register(spark, TestSpark.Sf)
    WmCache.ensure(spark, TestSpark.Sf)
    val edges = spark.sql(
      "select distinct least(src, dst) as a, greatest(src, dst) as b from g_knn")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nbrs = (edges.map(e => e._1 -> e._2) ++ edges.map(e => e._2 -> e._1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val brute = edges.toSeq.map { case (a, b) =>
      (nbrs(a) intersect nbrs(b)).size.toLong
    }.sum / 3 // each triangle counted once per edge
    assert(nTri == brute, s"oriented count $nTri != brute $brute")
    assert(3 * nTri <= nWedge)
    assert(row.getAs[Double]("transitivity") > 0.0)
  }

  test("dedup_apply agrees with the component labels") {
    val labels = run("dedup_components").collect()
    val dropped = labels.count(_.getAs[Long]("is_keeper") == 0L)
    val report = run("dedup_apply").collect()
    assert(report.nonEmpty)
    assert(report.map(_.getAs[Long]("n_dropped")).sum == dropped)
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet").count()
    assert(report.map(_.getAs[Long]("n_docs")).sum == docs)
    report.foreach(r => assert(r.getAs[Long]("n_kept") + r.getAs[Long]("n_dropped")
      == r.getAs[Long]("n_docs")))
  }

  test("events_anomaly: baseline excludes the scored hour") {
    val rows = run("events_anomaly").collect()
    assert(rows.nonEmpty)
    // an hour flagged anomalous must deviate >= 3 sigma from a mean
    // computed WITHOUT it: spot-check the flag is consistent with the
    // reported mu/z columns
    rows.filter(_.getAs[Long]("is_anomaly") == 1).foreach { r =>
      assert(math.abs(r.getAs[Double]("z")) >= 3.0 - 1e-9)
    }
    // z must be null exactly when the trailing window had zero variance
    rows.foreach { r =>
      if (!r.isNullAt(r.fieldIndex("z")))
        assert(r.getAs[Double]("mu") >= 0.0)
    }
  }

  test("decontaminate_bloom returns exactly the exact-join result") {
    // Bloom has no false negatives, so prefiltering the training side
    // must preserve every true overlap pair — the accelerated plan and
    // the exact plan are row-identical, not merely similar
    val exact = run("decontaminate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bloom = run("decontaminate_bloom").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bloom == exact)
    assert(bloom.nonEmpty)
  }

  test("events_rolling_dau: wau bounds dau and stickiness <= 1") {
    val rows = run("events_rolling_dau").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("wau") >= r.getAs[Long]("dau"))
      assert(r.getAs[Double]("stickiness") <= 1.0 + 1e-9)
    }
  }

  test("vec_topk_ivf_pq routes like IVF and scores like PQ") {
    val ivf = run("vec_topk_ivf").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfPq = run("vec_topk_ivf_pq").collect()
    assert(ivfPq.nonEmpty)
    val byQ = ivfPq.groupBy(_.getLong(0))
    assert(byQ.values.forall(_.length <= 10))
    // ADC scores are cosine approximations — bounded like cosines
    assert(ivfPq.forall(r => math.abs(r.getDouble(2)) <= 1.05))
    // same routing as vec_topk_ivf (identical probed cells), coarser
    // scores: top-10 lists still overlap substantially even on the
    // isotropic bench corpus
    val overlap = ivfPq.count(r => ivf.contains((r.getLong(0), r.getLong(1))))
    assert(overlap.toDouble / ivfPq.length >= 0.3,
      s"only $overlap/${ivfPq.length} composed hits shared with IVF")
  }

  test("vec_topk_ivf_pq_rerank scores exactly where brute search does") {
    val brute = run("vec_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rr = run("vec_topk_ivf_pq_rerank").collect()
    assert(rr.nonEmpty)
    assert(rr.groupBy(_.getLong(0)).values.forall(_.length <= 10))
    // the refine stage re-scores with the same exact cosine as brute
    // search — every overlapping (qid, cid) must carry the identical
    // similarity (the ADC stage changes candidates, never final scores)
    val shared = rr.flatMap(r => brute.get((r.getLong(0), r.getLong(1)))
      .map(b => (r.getDouble(2), b)))
    assert(shared.nonEmpty)
    assert(shared.forall { case (a, b) => a == b })
  }

  test("dedup_containment bounds: jaccard <= containment <= 1") {
    val rows = run("dedup_containment").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (j, ca, cb) = (r.getAs[Double]("jaccard"),
        r.getAs[Double]("containment_a"), r.getAs[Double]("containment_b"))
      assert(j <= ca + 1e-9 && j <= cb + 1e-9)
      assert(ca <= 1.0 + 1e-9 && cb <= 1.0 + 1e-9)
    }
    // the symmetric jaccard key must agree with the shared chain
    val jac = run("dedup_jaccard").collect()
      .map(r => (r.getLong(0), r.getAs[Double]("jaccard"))).toMap
    rows.foreach(r => assert(jac(r.getLong(0)) == r.getAs[Double]("jaccard")))
  }

  test("q_set_ops: result respects intersect/except semantics") {
    Tables.register(spark, TestSpark.Sf)
    val res = run("q_set_ops").collect().map(_.getLong(0)).toSet
    val a = spark.sql(
      "select distinct o_custkey from orders where o_orderdate < timestamp '1998-01-01 00:00:00'")
      .collect().map(_.getLong(0)).toSet
    val b = spark.sql(
      "select distinct o_custkey from orders where o_orderdate >= timestamp '1998-01-01 00:00:00'")
      .collect().map(_.getLong(0)).toSet
    val r = spark.sql(
      "select o_custkey from orders where o_orderstatus = 'F' group by o_custkey having count(*) >= 8")
      .collect().map(_.getLong(0)).toSet
    assert(res == ((a intersect b) diff r))
    assert(res.nonEmpty)
  }
}
