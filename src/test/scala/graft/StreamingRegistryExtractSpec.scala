package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Streams
import graft.sqlgen.Wm

/** Registry-path streaming extraction (the `wm_extract_ids` twin):
  * the WHOLE watermarked corpus streams through as cells — stego
  * values on the carriers, raw values everywhere else — and the
  * broadcast carrier-id registry filters map-side, so only carriers
  * allocate state and the votes reproduce the embedded message
  * exactly (no full-table CRC chance-pass noise: the wm_audit_curve
  * failure mode the registry rung exists to eliminate). */
class StreamingRegistryExtractSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("registry-filtered full-corpus stream reproduces the message bits exactly") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._

    val t0 = new java.sql.Timestamp(1700000000000L)
    // carrier cells from the batch embed; everything else keeps its
    // raw (unwatermarked) values — together: the full corpus a
    // registry-holding auditor actually scans
    val stego = SparkEntry.queries("wm_embed")(spark, TestSpark.Sf)
      .collect().map(r => (t0, r.getLong(0), r.getLong(1).toInt, r.getDouble(2)))
    val registry = stego.map(_._2).toSet
    val raw = spark.read.parquet(s"${TestSpark.Sf}/embeddings.parquet")
      .selectExpr("vec_id", "cast(embedding as array<double>) as v")
      .collect().flatMap { r =>
        val id = r.getLong(0)
        if (registry(id)) Seq.empty
        else r.getSeq[Double](1).zipWithIndex.map { case (v, i) => (t0, id, i + 1, v) }
      }
    val all = (stego ++ raw).sortBy { case (_, id, pos, _) => (pos, id) }
    val (c1, c2) = all.splitAt(all.length / 2)

    val in = MemoryStream[(java.sql.Timestamp, Long, Int, Double)]
    val q = Streams.registryExtractStream(in.toDS, registry)
      .writeStream.format("memory").queryName("wmx_reg")
      .outputMode("append").start()
    try {
      in.addData(c1.toSeq); q.processAllAvailable()
      in.addData(c2.toSeq); q.processAllAvailable()
      val decoded = spark.table("wmx_reg").as[Streams.Decoded].collect()
      // only registry vectors ever decode — non-carriers were dropped
      // before any state allocated
      assert(decoded.nonEmpty && decoded.forall(d => registry(d.vecId)),
        "non-registry vector leaked through the broadcast filter")
      // map-side filter means state held carriers only (the O(rate·N)
      // point): every carrier decodes CRC-valid exactly once
      assert(decoded.length == registry.size,
        s"${decoded.length} decodes for ${registry.size} registry ids")
      val votes = decoded.groupBy(_.blk).view.mapValues { ds =>
        (0 until 16).map(j => if (ds.map(d => 2 * d.bits(j) - 1).sum > 0) 1 else 0)
      }.toMap
      val expect = SparkEntry.queries("wm_msg_bits")(spark, TestSpark.Sf)
        .collect().map(r => (r.getLong(0).toInt, r.getLong(1).toInt) -> r.getLong(2).toInt).toMap
      for (blk <- 0 until Wm.Blocks; j <- 0 until 16)
        assert(votes(blk)(j) == expect((blk, j)), s"bit ($blk, $j)")
    } finally q.stop()
  }

  test("batch wm_extract_ids key agrees with the clean-path registry votes") {
    // the oracle-backed batch key extracts under wm_ber's 30% attack;
    // its surviving vote rows must still majority-decode the message
    // (the registry path's whole point: damage shrinks votes, not
    // correctness) — and its schema matches wm_extract's
    val rows = SparkEntry.queries("wm_extract_ids")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    val expect = SparkEntry.queries("wm_msg_bits")(spark, TestSpark.Sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rows.nonEmpty)
    val wrong = rows.count { case (k, (bit, _)) => expect.get(k).exists(_ != bit) }
    assert(wrong == 0, s"$wrong surviving registry votes decode wrong under the wm_ber attack")
    assert(rows.values.forall(_._2 >= 1))
  }
}
