package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Prf
import graft.sqlgen.{Gen, SparkDialect}

/** Semantic guarantees of the round-6 ops beyond the oracle gate:
  * the graph-navigable search's hop-monotonicity and graph contract,
  * and the append path's no-touch/incremental-consistency laws
  * (every appended index record re-derived in the JVM against the
  * served centroids/codebooks).
  */
class R6OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def run(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  private lazy val rawVectors: Map[Long, Array[Double]] =
    spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet").collect()
      .map { r =>
        r.getAs[Long]("vec_id") ->
          r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray
      }.toMap

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  private def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dot(v, v)); v.map(_ / n)
  }

  // ---------------- vec_topk_graph ----------------

  test("vec_topk_graph: beam quality is monotone non-decreasing in hops") {
    Tables.register(spark, TestSpark.Sf)
    val gen = new Gen(SparkDialect) // inline chain — no cached views needed
    val sums = (1 to 3).map { h =>
      val rows = spark.sql(gen.graphTopkSql(h)).collect()
      assert(rows.nonEmpty, s"hops=$h returned no rows")
      // rank determinism per query: rn is 1..k, sims non-increasing
      rows.groupBy(_.getAs[Long]("qid")).foreach { case (qid, rs) =>
        val byRn = rs.sortBy(_.getAs[Long]("rn"))
        assert(byRn.map(_.getAs[Long]("rn")).toSeq ==
          (1L to byRn.length.toLong), s"hops=$h qid=$qid rank gap")
        byRn.map(_.getAs[Double]("sim")).toSeq.sliding(2).foreach {
          case Seq(a, b) => assert(a >= b, s"hops=$h qid=$qid sim order")
          case _         => ()
        }
      }
      rows.map(_.getAs[Double]("sim")).sum
    }
    // identity edges carry the beam forward, so each hop's result
    // dominates the previous elementwise — the summed top-k similarity
    // can only grow
    sums.sliding(2).foreach {
      case Seq(a, b) => assert(b >= a - 1e-9, s"recall curve regressed: $sums")
      case _         => ()
    }
  }

  test("vec_topk_graph: every result is graph-reachable from an entry hub") {
    val out = run("vec_topk_graph").collect()
    assert(out.nonEmpty)
    Tables.register(spark, TestSpark.Sf)
    WmCache.ensure(spark, TestSpark.Sf)
    val edges = spark.table("g_knn").collect()
      .map(r => r.getAs[Long]("src") -> r.getAs[Long]("dst"))
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    val hubs = spark.table("g_indeg").collect()
      .sortBy(r => (-r.getAs[Long]("in_degree"), r.getAs[Long]("vec_id")))
      .take(4).map(_.getAs[Long]("vec_id")).toSet
    // BFS from the hubs, bounded at 3 hops — the search frontier
    var reach = hubs
    for (_ <- 1 to 3)
      reach = reach ++ reach.flatMap(v => adj.getOrElse(v, Set.empty[Long]))
    out.foreach { r =>
      val cid = r.getAs[Long]("neighbor_id")
      assert(reach.contains(cid), s"result $cid not reachable within 3 hops")
    }
  }

  // ---------------- vec_append ----------------

  test("vec_append: existing assignments untouched, batch is the PRF set") {
    Tables.register(spark, TestSpark.Sf)
    WmCache.ensureAll(spark, TestSpark.Sf)
    val before = spark.table("g_ivf_asg").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("cell"))).toSet
    val out = run("vec_append").collect()
    val after = spark.table("g_ivf_asg").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("cell"))).toSet
    assert(before == after, "append mutated the served assignment table")
    val expected = rawVectors.keySet
      .filter(id => Prf.prfMod(1048576, "append", id) < 104858)
      .map(_ + 1000000L)
    assert(out.map(_.getAs[Long]("vec_id")).toSet == expected,
      "batch membership must be the deterministic PRF selection")
    assert(out.forall(_.getAs[Long]("vec_id") > 1000000L))
  }

  test("vec_append: every index record matches a JVM mirror of the served index") {
    Tables.register(spark, TestSpark.Sf)
    WmCache.ensureAll(spark, TestSpark.Sf)
    val cents = spark.table("g_ivf_ct").collect()
      .map(r => r.getAs[Long]("cell") ->
        r.getSeq[Double](r.fieldIndex("cv")).toArray).toMap
    val books = spark.table("g_pq_ct").collect()
      .map(r => ((r.getAs[Number]("m").longValue, r.getAs[Number]("cell").longValue),
        r.getSeq[Double](r.fieldIndex("cv")).toArray)).toMap
    val out = run("vec_append").collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val orig = rawVectors(id - 1000000L)
      val pp = Prf.prfMod(64, "appos", id - 1000000L).toInt
      val v = orig.zipWithIndex.map { case (x, k) => if (k == pp) x + 0.2 else x }
      val n = normalize(v)
      // IVF: nearest served centroid, min-cell tie-break
      val cell = cents.map { case (c, cv) =>
        (dot(n, cv) / math.sqrt(dot(cv, cv)), -c)
      }.max match { case (_, negC) => -negC }
      assert(r.getAs[Long]("ivf_cell") == cell, s"id=$id ivf cell")
      // BQ: sign bits of the perturbed raw vector
      val hi = (1 to 32).map(p => if (v(p - 1) > 0) 1L << (32 - p) else 0L).sum
      val lo = (33 to 64).map(p => if (v(p - 1) > 0) 1L << (64 - p) else 0L).sum
      assert(r.getAs[Long]("bq_hi") == hi && r.getAs[Long]("bq_lo") == lo,
        s"id=$id bq words")
      // PQ: per-subspace nearest codebook cell (argmax dot - |c|²/2)
      val pqSig = (0 until 8).map { m =>
        val sv = n.slice(m * 8, m * 8 + 8)
        val cell = books.collect { case ((bm, c), cv) if bm == m =>
          (dot(sv, cv) - 0.5 * dot(cv, cv), -c)
        }.max match { case (_, negC) => -negC }
        cell * (m + 1)
      }.sum
      assert(r.getAs[Long]("pq_sig") == pqSig, s"id=$id pq signature")
    }
  }

  test("vec_append: deterministic across reruns") {
    val a = run("vec_append").collect().map(_.toSeq).toSet
    val b = run("vec_append").collect().map(_.toSeq).toSet
    assert(a == b)
  }

  // ---------------- index_catalog ----------------

  test("index_catalog: row counts obey the index-family conservation laws") {
    val rows = run("index_catalog").collect()
      .map(r => r.getAs[String]("index_name") ->
        (r.getAs[Long]("n_partitions"), r.getAs[Long]("n_rows"),
          r.getAs[Long]("bytes_per_vector"))).toMap
    assert(rows.keySet == Set("raw_vectors", "lsh_buckets", "knn_graph",
      "ivf_flat", "pq8", "bq_sign"))
    val n = rows("raw_vectors")._2
    assert(n > 0)
    assert(rows("bq_sign")._2 == n, "one BQ code row per vector")
    assert(rows("ivf_flat")._2 == n, "one IVF assignment per vector")
    assert(rows("pq8")._2 == 8 * n, "eight PQ codes per vector")
    assert(rows("lsh_buckets")._2 == 2 * n, "one bucket row per table per vector")
    assert(rows("knn_graph")._1 <= n && rows("knn_graph")._2 <= 16 * n,
      "kNN graph bounded by out-degree K")
    // the §4 state ladder: every index strictly cheaper than raw
    val raw = rows("raw_vectors")._3
    rows.filterNot(_._1 == "raw_vectors").foreach { case (k, (_, _, b)) =>
      assert(b < raw, s"$k bytes/vector must undercut raw")
    }
  }

  // ---------------- text_bpe_encode ----------------

  test("text_bpe_encode: per-doc counts match a JVM mirror of the learned merges") {
    val merges = run("text_bpe_merges").collect()
      .sortBy(_.getAs[Long]("merge_round"))
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs")))
    assert(merges.length == 3)
    def encodeLen(wd: String): Int = {
      // the double-space sequence form ' a  b  c ' + the same
      // left-to-right non-overlapping replace the SQL uses
      var sq = " " + wd.map(_.toString).mkString("  ") + " "
      for ((l, r) <- merges) sq = sq.replace(s" $l  $r ", s" ${l}${r} ")
      sq.trim.split("\\s+").length
    }
    val docs = spark.read.parquet(s"${TestSpark.Sf}/documents.parquet")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val out = run("text_bpe_encode").collect()
    assert(out.length == docs.size)
    out.foreach { r =>
      val words = docs(r.getAs[Long]("doc_id")).toLowerCase.split("\\s+").filter(_.nonEmpty)
      val expChar = words.map(w =>
        if (w.forall(c => c >= 'a' && c <= 'z') && w.length >= 2) w.length else 1).sum
      val expBpe = words.map(w =>
        if (w.forall(c => c >= 'a' && c <= 'z') && w.length >= 2) encodeLen(w) else 1).sum
      assert(r.getAs[Long]("n_words") == words.length, s"doc ${r.get(0)} words")
      assert(r.getAs[Long]("n_tokens_char") == expChar, s"doc ${r.get(0)} char tokens")
      assert(r.getAs[Long]("n_tokens_bpe") == expBpe, s"doc ${r.get(0)} bpe tokens")
      assert(r.getAs[Long]("n_tokens_bpe") <= r.getAs[Long]("n_tokens_char"))
    }
  }
}
