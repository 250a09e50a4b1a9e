package graft

import org.scalatest.funsuite.AnyFunSuite

/** JVM mirrors for the profiling/association round-6 ops: the MinHash
  * verify stage's exact-Jaccard law, PMI's closed form, the
  * per-dimension embedding profile, and the seasonality identities.
  */
class ProfilingOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def run(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  private lazy val docWords: Map[Long, Array[String]] =
    spark.read.parquet(s"${TestSpark.Sf}/documents.parquet").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").toLowerCase.split("\\s+").filter(_.nonEmpty)).toMap

  // ---------------- dedup_minhash_verify ----------------

  test("dedup_minhash_verify: exact Jaccard and error mirror; candidates = dedup_minhash") {
    val shingles: Map[Long, Set[String]] = docWords.map { case (id, ws) =>
      id -> ws.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }
    val est = run("dedup_minhash").collect().map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jaccard_est")).toMap
    val out = run("dedup_minhash_verify").collect()
    assert(out.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet == est.keySet,
      "verify stage must cover exactly the band candidates")
    out.foreach { r =>
      val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
      val (sa, sb) = (shingles(a), shingles(b))
      val i = (sa intersect sb).size.toDouble
      val jt = i / (sa.size + sb.size - i)
      assert(math.abs(r.getAs[Double]("jaccard_true") - jt) < 5e-5, s"pair ($a,$b) true jaccard")
      assert(math.abs(r.getAs[Double]("jaccard_est") - est((a, b))) < 1e-9)
      assert(math.abs(r.getAs[Double]("abs_err") -
        math.abs(est((a, b)) - jt)) < 1e-4, s"pair ($a,$b) calibration error")
    }
  }

  // ---------------- text_pmi ----------------

  test("text_pmi: closed-form mirror over JVM corpus counts") {
    val allWords = docWords.values.toSeq
    val uni = allWords.flatten.groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val bigrams = allWords.flatMap(ws => ws.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))))
    val bc = bigrams.groupBy(identity).map { case (p, o) => p -> o.size.toLong }
    val nw = allWords.map(_.length.toLong).sum
    val nb = bigrams.size.toLong
    val out = run("text_pmi").collect()
    val expectedKeys = bc.filter(_._2 >= 20).keySet.map { case (a, b) => s"$a $b" }
    assert(out.map(_.getAs[String]("bigram")).toSet == expectedKeys)
    out.foreach { r =>
      val Array(a, b) = r.getAs[String]("bigram").split(" ")
      val c12 = bc((a, b))
      assert(r.getAs[Long]("freq") == c12)
      val pmi = math.log(c12.toDouble * nw * nw / (nb.toDouble * uni(a) * uni(b)))
      assert(math.abs(r.getAs[Double]("pmi") - pmi) < 1e-3, s"bigram '${r.get(0)}'")
    }
  }

  // ---------------- vec_dim_profile ----------------

  test("vec_dim_profile: per-dimension moments mirror the raw vectors") {
    val vecs = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    val dim = vecs.head.length
    val out = run("vec_dim_profile").collect().sortBy(_.getAs[Long]("dim"))
    assert(out.length == dim)
    out.foreach { r =>
      val k = r.getAs[Long]("dim").toInt
      val vs = vecs.map(v => math.rint(v(k) * 1e6) / 1e6) // the 6dp pre-round
      assert(r.getAs[Long]("n") == vs.length)
      val mu = vs.sum / vs.length
      assert(math.abs(r.getAs[Double]("mean") - mu) < 1e-4, s"dim $k mean")
      val sd = math.sqrt(math.max(vs.map(x => x * x).sum / vs.length - mu * mu, 0.0))
      assert(math.abs(r.getAs[Double]("std") - sd) < 1e-4, s"dim $k std")
      assert(r.getAs[Double]("min_val") == vs.min && r.getAs[Double]("max_val") == vs.max)
      assert(r.getAs[Long]("n_zero") == vs.count(_ == 0.0))
    }
  }

  // ---------------- events_seasonal ----------------

  test("events_seasonal: totals conserve and the weighted index averages to 1") {
    val out = run("events_seasonal").collect()
    assert(out.map(_.getAs[Long]("dow")).toSet.subsetOf((0L to 6L).toSet))
    val totalEvents = spark.read.parquet(s"${TestSpark.Sf}/events.parquet").count()
    assert(out.map(_.getAs[Long]("n_events")).sum == totalEvents)
    val nDays = out.map(_.getAs[Long]("n_days")).sum
    val weighted = out.map(r => r.getAs[Double]("seasonal_idx") * r.getAs[Long]("n_days")).sum / nDays
    assert(math.abs(weighted - 1.0) < 0.01, s"weighted mean index $weighted")
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("mean_daily") -
        r.getAs[Long]("n_events").toDouble / r.getAs[Long]("n_days")) < 0.01)
    }
  }
}
