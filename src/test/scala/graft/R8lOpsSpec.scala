package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{Prf, WmConst, WmDecode}
import graft.sqlgen.WmParams

/** Semantic gates for the round-7 thirty-eighth batch: the
  * session-timeout curve (gap census refolded per rung; the 30-min
  * rung pinned to the served events_sessions) and the sampled-audit
  * curve (full-table blind extraction mirrored per sample rung
  * through the JVM decode library; monotone-error law pinned). */
class R8lOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def run(name: String) =
    SparkEntry.queries(name)(spark, TestSpark.Sf)

  private def q(x: Double, dec: Int): Double = {
    val m = math.pow(10, dec)
    (if (x >= 0) math.floor(x * m + 0.5) else -math.floor(-x * m + 0.5)) / m
  }

  test("events_sessions_curve: gap census refolds; the 30-min rung equals the served sessionization") {
    Tables.register(spark, TestSpark.Sf)
    val ev = spark.sql("select user_id, event_id, ts div 1000000000 as sec, ts from events")
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("event_id"),
        r.getAs[Long]("sec"), r.getAs[Long]("ts")))
    val byUser = ev.groupBy(_._1).view.mapValues(_.sortBy(e => (e._4, e._2))).toMap
    val gaps: Seq[Long] = byUser.values.flatMap { es =>
      val secs = es.map(_._3)
      secs.zip(secs.drop(1)).map { case (a, b) => b - a }
    }.toSeq
    val nUsers = byUser.size.toLong
    val nEvents = ev.length.toLong
    val spanSum = byUser.values.map(es => es.map(_._3).max - es.map(_._3).min).sum
    val rows = run("events_sessions_curve").collect()
    assert(rows.map(_.getAs[Long]("timeout_s")).toSet == Set(300L, 1800L, 7200L))
    rows.foreach { r =>
      val w = r.getAs[Long]("timeout_s")
      val breaks = gaps.count(_ > w).toLong
      val nSess = nUsers + breaks
      val act = spanSum - gaps.filter(_ > w).sum
      assert(r.getAs[Long]("n_sessions") == nSess, s"w $w")
      assert(r.getAs[Long]("active_duration_s") == act, s"w $w")
      assert(math.abs(r.getAs[Double]("events_per_session") - q(nEvents.toDouble / nSess, 4)) < 1e-9)
      assert(math.abs(r.getAs[Double]("mean_session_dur_s") - q(act.toDouble / nSess, 2)) < 1e-9)
    }
    // the 30-min rung IS the served events_sessions census
    val served = run("events_sessions").collect()
    val r1800 = rows.find(_.getAs[Long]("timeout_s") == 1800L).get
    assert(r1800.getAs[Long]("n_sessions") == served.length.toLong)
    assert(r1800.getAs[Long]("active_duration_s") == served.map(_.getAs[Long]("dur_s")).sum)
    // shorter timeouts can only create more, shorter sessions
    val ns = rows.sortBy(_.getAs[Long]("timeout_s")).map(_.getAs[Long]("n_sessions"))
    ns.sliding(2).foreach { case Array(a, b) => assert(a >= b) }
  }

  test("wm_audit_curve: every rung's blind full-table extraction matches the JVM mirror") {
    Tables.register(spark, TestSpark.Sf)
    // the watermarked FULL table: stego overlay on the original corpus
    val stego = SparkEntry.queries("wm_embed")(spark, TestSpark.Sf).collect()
      .groupBy(_.getAs[Long]("vec_id")).map { case (id, rows) =>
        val v = new Array[Double](64)
        rows.foreach(r => v(r.getAs[Long]("pos").toInt - 1) = r.getAs[Double]("stego_val"))
        id -> v
      }
    val full = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet").collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble).toArray)
      .map { case (id, v) => id -> stego.getOrElse(id, v) }
    def level(id: Long): Int = {
      val u = (Prf.prf("aud", id) + 1).toDouble / 1152921504606846976.0
      if (u < 0.10) 0 else if (u < 0.25) 1 else if (u < 0.50) 2 else 3
    }
    val decoded = full.map { case (id, v) => (level(id), WmDecode.decode(v)) }
    val msg = WmConst.msgBits(WmParams.Default.cipherB64)
    val rows = run("wm_audit_curve").collect()
    assert(rows.length == 4)
    val shares = Seq(0.10, 0.25, 0.50, 1.00)
    shares.zipWithIndex.foreach { case (sh, k) =>
      val in = decoded.filter(_._1 <= k)
      val votes = scala.collection.mutable.Map[(Int, Int), Int]().withDefaultValue(0)
      val live = scala.collection.mutable.Set.empty[Int]
      var nValid = 0L
      in.foreach(_._2.foreach { case (blk, pb) =>
        nValid += 1; live += blk
        pb.zipWithIndex.foreach { case (b, i) => votes((blk, i)) += 2 * b - 1 }
      })
      val errors = (0 until 16).map { blk =>
        (0 until 16).count { i =>
          !live.contains(blk) || (if (votes((blk, i)) > 0) 1 else 0) != msg(blk)(8 + i)
        }
      }.sum.toLong
      val row = rows.find(r => math.abs(r.getAs[Double]("sample_share") - sh) < 1e-12).get
      assert(row.getAs[Long]("n_scanned") == in.length.toLong, s"rung $sh scanned")
      assert(row.getAs[Long]("n_valid") == nValid, s"rung $sh valid")
      assert(row.getAs[Long]("blocks_live") == live.size.toLong, s"rung $sh live")
      assert(row.getAs[Long]("errors") == errors, s"rung $sh errors")
      assert(math.abs(row.getAs[Double]("ber") - q(errors / 256.0, 4)) < 1e-9)
    }
    // widening the audit can only reduce errors (votes only accumulate
    // toward the majority laid down by the true carriers)
    val errs = rows.sortBy(_.getAs[Double]("sample_share")).map(_.getAs[Long]("errors"))
    errs.sliding(2).foreach { case Array(a, b) => assert(a >= b, s"monotone $a >= $b") }
  }
}
