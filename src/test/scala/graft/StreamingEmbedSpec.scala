package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Streams

/** Stream-embedded vs batch-embedded: original vector cells fed as an
  * out-of-order stream through Streams.embedStream must produce
  * BIT-IDENTICAL stego values to the batch chain's g_stego cells (both
  * paths implement the same QIM math; WmEmbed mirrors the generated
  * SQL's fold order and decimal lattice exactly). */
class StreamingEmbedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("streaming embed is bit-identical to the batch stego chain") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._

    val t0 = new java.sql.Timestamp(1700000000000L)
    // carrier map: the persisted id list the stream embedder consumes
    val carriers = SparkEntry.queries("wm_carriers")(spark, TestSpark.Sf)
      .collect().map(r => r.getLong(0) -> r.getLong(3).toInt).toMap
    // original cells of the carrier vectors (unrounded), out of order
    val cells = SparkEntry.queries("vec_normalize")(spark, TestSpark.Sf) // for ids only
      .select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(carriers.keySet.subsetOf(cells))
    val orig = spark.sql(
      s"select vec_id, cast(embedding as array<double>) as v from embeddings")
      .collect()
      .filter(r => carriers.contains(r.getLong(0)))
      .flatMap { r =>
        val id = r.getLong(0)
        r.getSeq[Double](1).zipWithIndex.map { case (v, i) => (t0, id, i + 1, v) }
      }
    val mixed = orig.sortBy { case (_, id, pos, _) => (pos, id) }
    val (c1, c2) = mixed.splitAt(mixed.length / 2)

    val in = MemoryStream[(java.sql.Timestamp, Long, Int, Double)]
    val q = Streams.embedStream(in.toDS, carriers)
      .writeStream.format("memory").queryName("wme")
      .outputMode("append").start()
    try {
      in.addData(c1.toSeq); q.processAllAvailable()
      val mid = spark.table("wme").count()
      in.addData(c2.toSeq); q.processAllAvailable()
      val streamed = spark.table("wme").as[Streams.EmCell].collect()
        .map(c => (c.vecId, c.pos.toLong) -> c.sval).toMap
      assert(mid < streamed.size, "second batch completed more vectors")

      // the batch chain's raw stego cells: every streamed cell must be
      // the same double
      val batch = WmCache.artifact(spark, TestSpark.Sf, "g_stego")
        .collect().map(r => (r.getLong(0), r.getInt(1).toLong) -> r.getDouble(2)).toMap
      assert(streamed.keySet == batch.keySet, "same carrier cells")
      for ((k, sv) <- streamed)
        assert(sv == batch(k), s"cell $k: stream=$sv batch=${batch(k)}")
    } finally q.stop()
  }
}
