package graft

import org.scalatest.funsuite.AnyFunSuite

/** Property checks for the round-3 additions beyond the oracle gate:
  * the oracle proves Spark==DuckDB; these prove the SEMANTICS are the
  * intended ones (filtered search really filters, HLL really
  * estimates, chunks really cover, PageRank really is a distribution).
  */
class NewOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def run(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  test("vec_topk_filtered returns only same-label neighbors, k per query") {
    val rows = run("vec_topk_filtered").collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.values.forall(_.length <= 10))
    // every query's rows carry exactly one label (the query's own)
    assert(byQ.values.forall(_.map(_.getLong(1)).distinct.length == 1))
  }

  test("vec_topk_filtered_lsh agrees with the brute filtered variant") {
    val brute = run("vec_topk_filtered").collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val lsh = run("vec_topk_filtered_lsh").collect()
    assert(lsh.nonEmpty)
    val byQ = lsh.groupBy(_.getLong(0))
    assert(byQ.values.forall(_.length <= 10))
    // same-label only, like the brute form
    assert(byQ.values.forall(_.map(_.getLong(1)).distinct.length == 1))
    // exactness on the overlap: every (qid, cid) both variants rank
    // carries the IDENTICAL similarity — the LSH routing changes the
    // candidate set, never the scoring
    val shared = lsh.flatMap { r =>
      brute.get((r.getLong(0), r.getLong(2))).map(b => (r.getDouble(3), b))
    }
    assert(shared.nonEmpty)
    assert(shared.forall { case (a, b) => a == b })
    // overlap EXISTS even on the isotropic bench corpus; the recall
    // gate proper runs on a clustered corpus (FilteredLshRecallSpec),
    // where partitioning ANN recall is information-theoretically
    // possible — same split as IvfRecallSpec
    val hit = lsh.count(r => brute.contains((r.getLong(0), r.getLong(2))))
    assert(hit >= 1, s"no lsh-vs-brute overlap at all: 0 of ${lsh.length}")
  }

  test("vec_topk_sq ranks like exact search within quantization error") {
    val exact = run("vec_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val sq = run("vec_topk_sq").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    assert(sq.keySet == exact.keySet)
    // 8-bit midpoint dequantization perturbs sims by < 2^-8 per dim
    // pair — the top-10 should survive nearly intact
    val overlaps = exact.map { case (q, e) => (sq(q) & e).size.toDouble / e.size }
    val mean = overlaps.sum / overlaps.size
    assert(mean >= 0.8, f"sq-vs-exact overlap $mean%.2f below 0.8")
  }

  test("vec_range_search respects the similarity radius") {
    val sims = run("vec_range_search").collect().map(_.getDouble(2))
    assert(sims.nonEmpty && sims.forall(_ >= 0.2))
  }

  test("vec_quantize reconstruction error is bounded by one bin") {
    val rows = run("vec_quantize").collect()
    assert(rows.length == sqlgen.Wm.Dim)
    rows.foreach { r =>
      val (mn, mx, maxErr) = (r.getDouble(1), r.getDouble(2), r.getDouble(4))
      // mid-bin dequant: |err| <= half a bin, up to clamp slack at the
      // max edge (val = mx lands in the top bin's upper half)
      assert(maxErr <= (mx - mn) / 256.0 + 1e-9)
    }
  }

  test("graph_pagerank is a (leaky) probability distribution") {
    val rs = run("graph_pagerank").collect().map(_.getLong(1))
    assert(rs.forall(_ > 0))
    // picorank mass <= 1e12 (dangling + floor leak only shrinks it),
    // and way above the no-propagation floor of 0.15e12
    val total = rs.sum
    assert(total <= 1000000000000L && total >= 150000000000L)
  }

  test("vec_topk_pq ADC scores are valid cosines and approximate the exact ranking") {
    val pq = run("vec_topk_pq").collect()
    val byQ = pq.groupBy(_.getLong(0))
    assert(byQ.size == sqlgen.Wm.QueryIds.length && byQ.values.forall(_.length == 10))
    // reconstructed-centroid cosine stays a valid similarity
    assert(pq.forall(r => math.abs(r.getDouble(2)) <= 1.0 + 1e-6))
    // ADC ranking finds a nontrivial share of the exact top-10 (PQ with
    // K=16/subspace on 64-dim: coarse, but far above the ~10/N chance
    // overlap of random ranking)
    val exact = run("vec_topk").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = byQ.map { case (q, rs) => rs.map(_.getLong(1)).count(exact(q)) }.sum
    assert(hits >= 10, s"PQ recalled only $hits/50 of the exact top-10")
  }

  test("sketch_distinct HLL estimate lands near the exact count") {
    val r = run("sketch_distinct").collect().head
    val (exact, est, relErr) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
    assert(exact > 0)
    // m=64 registers -> standard error 1.04/8 = 13%; allow 3 sigma
    assert(relErr < 0.40, s"exact=$exact est=$est relErr=$relErr")
  }

  test("text_chunk windows cover every token and overlap by stride") {
    import spark.implicits._
    val chunks = run("text_chunk")
      .select("doc_id", "chunk_id", "n_tokens").as[(Long, Long, Long)]
      .collect().groupBy(_._1)
    // token at wpos is in chunk k iff 48k+1 <= wpos <= 48k+64: chunk 0
    // holds up to 64 tokens, later chunks up to 64 with 16 overlapping
    // -> per doc, sum(n_tokens) = n + 16 * (n_chunks - 1) where n =
    // doc word count; check the internal consistency of that identity
    chunks.values.foreach { c =>
      val ks = c.map(_._2).sorted
      assert(ks.head == 0 && ks.last == ks.length - 1, "chunk ids contiguous from 0")
      assert(c.forall(_._3 <= 64))
      // non-final chunks are full except when the doc ends mid-window
      val n = c.map(_._3).sum - 16L * (ks.length - 1)
      assert(n > 0)
    }
  }

  test("pii_redact fingerprints differ from raw text exactly when digits exist") {
    Tables.register(spark, TestSpark.Sf)
    run("pii_redact").createOrReplaceTempView("pii")
    val bad = spark.sql(
      """select count(*) from pii p join documents d on d.doc_id = p.doc_id
        |where (md5(d.text) = p.redacted_fp) <> (p.n_digit_runs = 0 and
        |       d.text not rlike '[0-9]')""".stripMargin).collect().head.getLong(0)
    assert(bad == 0)
  }

  test("lsh_bucket_stats accounts for every bucketed row") {
    val rows = run("lsh_bucket_stats").collect()
    assert(rows.length == sqlgen.Wm.LshTables)
    rows.foreach { r =>
      val (nBuckets, nRows, maxB) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nBuckets <= (1 << sqlgen.Wm.LshPlanes))
      assert(maxB <= nRows && nRows > 0)
    }
  }
}
