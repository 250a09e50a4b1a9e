package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.WmConst
import graft.operators.PcaSolve
import graft.sqlgen.Wm

/** Round-11 ANN rungs for the two brute-only metrics (r10 verdict
  * item 4): the MIPS norm-augmentation LSH (vec_topk_ip_lsh) and the
  * Cauchy p-stable L1 LSH (vec_topk_l1_lsh), plus their recall evals —
  * each re-derived as a full JVM mirror from the raw parquet
  * embeddings: buckets from the same PRF literal families, candidate
  * sets from the same (table, hash) equality, exact metric re-rank in
  * the same IEEE step order. */
class R11OpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def rr(x: Double, dec: Int) = PcaSolve.roundAway(x, dec)

  // mirror constants — duplicated on purpose (independent mirror)
  private val Tables2 = 2
  private val L1J = 2
  private val L1W = 6.0

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private lazy val vecs: Array[(Long, Array[Double])] =
    spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").map(_.toDouble).toArray)

  /** MIPS-rung candidate sets per query id, from the JVM bucket mirror. */
  private lazy val mipsCands: Map[Long, Set[Long]] = {
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val m = nrm.values.max
    def corpusBucket(t: Int, v: Array[Double], aug: Double): Long =
      (0 until Wm.LshPlanes).map { p =>
        val w = WmConst.mipsPlanesFor(t, p)
        if (dot(v, w.take(Wm.Dim)) + aug * w(Wm.Dim) > 0) 1L << p else 0L
      }.sum
    val byBucket = (0 until Tables2).flatMap { t =>
      vecs.map { case (id, v) =>
        val aug = math.sqrt(math.max(m * m - nrm(id) * nrm(id), 0.0))
        (t, corpusBucket(t, v, aug)) -> id
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    Wm.QueryIds.map { q =>
      val qv = vecs.find(_._1 == q).get._2
      val cs = (0 until Tables2).flatMap { t =>
        val qb = (0 until Wm.LshPlanes).map { p =>
          val w = WmConst.mipsPlanesFor(t, p)
          if (dot(qv, w.take(Wm.Dim)) > 0) 1L << p else 0L // query: aug = 0
        }.sum
        byBucket.getOrElse((t, qb), Set.empty)
      }.toSet - q.toLong
      q.toLong -> cs
    }.toMap
  }

  /** L1-rung candidate sets per query id, from the JVM hash mirror. */
  private lazy val l1Cands: Map[Long, Set[Long]] = {
    def hashes(t: Int, v: Array[Double]): Seq[Long] = (1 to L1J).map { j =>
      val a = WmConst.cauchyFor(t, j)
      val b = WmConst.cauchyShiftFor(t, j) * L1W
      math.floor((dot(v, a) + b) / L1W).toLong
    }
    val byBucket = (0 until Tables2).flatMap { t =>
      vecs.map { case (id, v) => (t, hashes(t, v)) -> id }
    }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    Wm.QueryIds.map { q =>
      val qv = vecs.find(_._1 == q).get._2
      val cs = (0 until Tables2).flatMap(t =>
        byBucket.getOrElse((t, hashes(t, qv)), Set.empty)).toSet - q.toLong
      q.toLong -> cs
    }.toMap
  }

  private def ip(q: Array[Double], c: Array[Double]): Double = rr(dot(q, c), 6)
  private def l1d(q: Array[Double], c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < q.length) { s += math.abs(q(i) - c(i)); i += 1 }
    rr(s, 6)
  }

  test("vec_topk_ip_lsh: exact JVM mirror of buckets, candidates, and IP ranking") {
    val byId = vecs.toMap
    val got = SparkEntry.queries("vec_topk_ip_lsh")(spark, TestSpark.Sf).collect()
      .groupBy(_.getAs[Long]("qid"))
    assert(got.keySet == Wm.QueryIds.map(_.toLong).toSet)
    Wm.QueryIds.foreach { q =>
      val qv = byId(q.toLong)
      val want = mipsCands(q.toLong).toSeq
        .map(c => (c, ip(qv, byId(c))))
        .sortBy { case (c, s) => (-s, c) }.take(10)
      val rows = got(q.toLong).sortBy(_.getAs[Long]("rn"))
      assert(rows.length == want.length, s"query $q row count")
      rows.zip(want).zipWithIndex.foreach { case ((r, (c, s)), i) =>
        assert(r.getAs[Long]("rn") == i + 1)
        assert(r.getAs[Long]("neighbor_id") == c, s"query $q rank ${i + 1}")
        assert(r.getAs[Double]("ip") == s, s"query $q rank ${i + 1} ip")
      }
    }
  }

  test("vec_topk_l1_lsh: exact JVM mirror of p-stable hashes, candidates, and L1 ranking") {
    val byId = vecs.toMap
    val got = SparkEntry.queries("vec_topk_l1_lsh")(spark, TestSpark.Sf).collect()
      .groupBy(_.getAs[Long]("qid"))
    assert(got.keySet == Wm.QueryIds.map(_.toLong).toSet)
    Wm.QueryIds.foreach { q =>
      val qv = byId(q.toLong)
      val want = l1Cands(q.toLong).toSeq
        .map(c => (c, l1d(qv, byId(c))))
        .sortBy { case (c, s) => (s, c) }.take(10)
      val rows = got(q.toLong).sortBy(_.getAs[Long]("rn"))
      assert(rows.length == want.length, s"query $q row count")
      rows.zip(want).zipWithIndex.foreach { case ((r, (c, s)), i) =>
        assert(r.getAs[Long]("rn") == i + 1)
        assert(r.getAs[Long]("neighbor_id") == c, s"query $q rank ${i + 1}")
        assert(r.getAs[Double]("dist") == s, s"query $q rank ${i + 1} dist")
      }
    }
  }

  test("ann_recall_eval_ip / ann_recall_eval_l1: hits = |brute top-10 ∩ rung top-10|") {
    val byId = vecs.toMap
    def check(key: String, cands: Map[Long, Set[Long]],
              rank: (Array[Double], Long) => (Double, Long)): Unit = {
      val got = SparkEntry.queries(key)(spark, TestSpark.Sf).collect()
        .map(r => r.getAs[Long]("qid") ->
          (r.getAs[Long]("n_cand"), r.getAs[Long]("hits"), r.getAs[Double]("recall10"))).toMap
      assert(got.keySet == Wm.QueryIds.map(_.toLong).toSet, key)
      Wm.QueryIds.foreach { q =>
        val qv = byId(q.toLong)
        val all = vecs.map(_._1).filter(_ != q.toLong)
        val brute = all.map(c => (c, rank(qv, c))).sortBy(_._2).take(10).map(_._1).toSet
        val rung = cands(q.toLong).toSeq.map(c => (c, rank(qv, c)))
          .sortBy(_._2).take(10).map(_._1).toSet
        val hits = (brute & rung).size.toLong
        val (nc, h, r10) = got(q.toLong)
        assert(nc == cands(q.toLong).size.toLong, s"$key query $q n_cand")
        assert(h == hits, s"$key query $q hits")
        assert(r10 == rr(hits / 10.0, 2), s"$key query $q recall10")
      }
    }
    check("ann_recall_eval_ip", mipsCands, (qv, c) => (-ip(qv, byId(c)), c))
    check("ann_recall_eval_l1", l1Cands, (qv, c) => (l1d(qv, byId(c)), c))
  }

  test("l1HashesFor: exact boundaries, and the verify SFs sit at the static floor") {
    // J = max(2, ceil(log3(N/5000))) — each extra concatenated hash
    // multiplies far-pair joint collisions by p_far ≈ 1/3, so J holds
    // per-table random-candidate mass linear in N
    assert(Wm.l1HashesFor(1L) == 2)
    assert(Wm.l1HashesFor(5000L) == 2)
    assert(Wm.l1HashesFor(45000L) == 2)   // 5000·3² exactly — still 2
    assert(Wm.l1HashesFor(45001L) == 3)   // the first armed rung
    assert(Wm.l1HashesFor(135000L) == 3)
    assert(Wm.l1HashesFor(135001L) == 4)  // the 100× decade (200k) runs at 4
    assert(Wm.l1HashesFor(200000L) == 4)
    // the verify/smoke SFs floor at the static default, so the dumped
    // oracle SQL is scale-independent (the lshPlanesFor convention)
    Tables.register(spark, TestSpark.Sf)
    assert(Wm.l1HashesFor(Tables.vectorCount(spark, TestSpark.Sf)) == 2)
  }

  test("vec_ivf_reindex_delete: exact per-cell census of the tombstone anti-join") {
    Tables.register(spark, TestSpark.Sf)
    WmCache.ensureAll(spark, TestSpark.Sf)
    val asg = spark.table("g_ivf_asg").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cell"))
    val del = asg.map(_._1).filter(id =>
      graft.functions.Prf.prfMod(1048576, "vdel", id) < 104858).toSet
    assert(del.nonEmpty, "the PRF tombstone set must be non-empty at this SF")
    val before = asg.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val after = asg.filterNot(a => del(a._1))
      .groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val got = SparkEntry.queries("vec_ivf_reindex_delete")(spark, TestSpark.Sf)
      .collect().map(r => r.getAs[Long]("cell") ->
        (r.getAs[Long]("n_before"), r.getAs[Long]("n_after"),
          r.getAs[Long]("n_deleted"), r.getAs[Double]("del_share"))).toMap
    assert(got.keySet == before.keySet, "one row per populated cell")
    before.foreach { case (cell, n0) =>
      val n1 = after.getOrElse(cell, 0L)
      val (g0, g1, gd, gs) = got(cell)
      assert(g0 == n0 && g1 == n1 && gd == n0 - n1, s"cell $cell counts")
      assert(gs == rr((n0 - n1).toDouble / n0, 4), s"cell $cell share")
    }
    // conservation: deletions across cells = tombstoned assigned rows
    assert(got.values.map(_._3).sum == del.size.toLong)
  }
}
