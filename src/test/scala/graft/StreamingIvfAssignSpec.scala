package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.Streams
import java.sql.Timestamp

/** Streaming vector ingest against the served IVF index: arriving
  * vectors assign to the batch-built centroids (broadcast, no retrain
  * — the Milvus/faiss insert path, and the streaming half of
  * `vec_ivf_reindex`). The JVM assignment math mirrors the generated
  * SQL, so on the same vectors the streamed cells must EQUAL the
  * batch g_ivf_asg view bit for bit, however the stream splits into
  * micro-batches. */
class StreamingIvfAssignSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def t0 = Timestamp.valueOf("2024-01-01 10:00:00")

  test("streamed assignments equal the batch index view on the same vectors") {
    implicit val ctx = spark.sqlContext
    import spark.implicits._
    WmCache.ensureAll(spark, TestSpark.Sf)
    val centroids = spark.sql("select cell, cv from g_ivf_ct")
      .as[(Long, Seq[Double])].collect()
      .map { case (c, cv) => c -> cv.toArray }.toMap
    assert(centroids.nonEmpty)
    val batch = spark.sql("select id, cell from g_ivf_asg")
      .as[(Long, Long)].collect().toMap
    // the same doubles the batch chain hashed: float embedding cast up
    val vecs = spark.sql(
      "select vec_id, cast(embedding as array<double>) from embeddings")
      .as[(Long, Seq[Double])].collect()
    val in = MemoryStream[(Timestamp, Long, Seq[Double])]
    val q = Streams.ivfAssignStream(in.toDS(), centroids)
      .toDF("vec_id", "cell")
      .writeStream.format("memory").queryName("ivf_assign_stream")
      .outputMode("append").start()
    try {
      // three micro-batches: assignment is stateless, splits are free
      val chunks = vecs.grouped(math.max(1, vecs.length / 3 + 1)).toSeq
      for (c <- chunks) {
        in.addData(c.toSeq.map { case (id, v) => (t0, id, v) })
        q.processAllAvailable()
      }
      val streamed = spark.table("ivf_assign_stream")
        .as[(Long, Long)].collect().toMap
      assert(streamed.size == batch.size)
      val diff = batch.collect {
        case (id, c) if streamed(id) != c => (id, c, streamed(id)) }
      assert(diff.isEmpty, s"first mismatches: ${diff.take(5)}")
    } finally q.stop()
  }
}
