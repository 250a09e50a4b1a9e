package graft

import graft.api.Graft

/** Executable documentation: the reference system's user story through
  * the public facade — embed, blind-recover, search, analyze.
  * Usage: runMain graft.Demo [sfDir] */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = DevSession()

    val g = Graft(spark, dir)
    println("RECOVERED=" + g.recoverMessage())
    println("TOPK_APPROX_ROWS=" + g.topKApprox.count())
    println("BER_BLOCKS=" + g.berUnderAttack.count())
    println("NEAR_DUP_PAIRS=" + g.dedupMinhash.count())

    // custom physical operator vs declarative formulation
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }
    val (n1, tDecl) = time(g.topK.count())
    val (n2, tNative) = time(g.topKNative(10).count())
    println(f"TOPK_DECLARATIVE rows=$n1 ${tDecl}%.2fs  TOPK_NATIVE rows=$n2 ${tNative}%.2fs")

    // dir switch in one session: table registration must follow
    val g2 = Graft(spark, "/root/testdata/sf0.1")
    println("SWITCHED_N_VECTORS=" + g2.vectorStats.collect().head.getLong(0))
    println("BACK_N_DOCS=" + Graft(spark, dir).catalog.collect()
      .find(_.getString(0) == "documents").get.getLong(1))
    // one-pass d x d covariance (treeAggregate Gram accumulation)
    locally {
      val vecs = g.table("embeddings")
        .selectExpr("cast(embedding as array<double>) as v")
      val cov = graft.operators.Gram.covarianceMatrix(vecs, "v", 64)
      println(f"COV_DIAG_MEAN=${(0 until 64).map(i => cov(i)(i)).sum / 64}%.6f")
    }

    // skew-salted pair generation over real LSH-style buckets
    locally {
      import org.apache.spark.sql.functions.{col, pmod, xxhash64}
      val buckets = g.table("embeddings")
        .select(col("vec_id").as("id"), pmod(xxhash64(col("vec_id")), org.apache.spark.sql.functions.lit(4)).as("bucket"))
      val pairs = graft.operators.SkewSalt.saltedSelfJoinPairs(buckets, "id", "bucket", 8)
      println("SALTED_PAIRS=" + pairs.count())
    }

    // streaming blind watermark extraction: stego cells in, decodes out
    locally {
      implicit val ctx = spark.sqlContext
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val t0 = new java.sql.Timestamp(1700000000000L)
      val cells = g.embedded.collect()
        .map(r => (t0, r.getLong(0), r.getLong(1).toInt, r.getDouble(2)))
      val in = MemoryStream[(java.sql.Timestamp, Long, Int, Double)]
      val q = graft.streaming.Streams.extractStream(in.toDS())
        .writeStream.format("memory").queryName("demo_wmx")
        .outputMode("append").start()
      in.addData(cells.toSeq); q.processAllAvailable()
      println("STREAM_DECODED_VECTORS=" + spark.table("demo_wmx").count())
      q.stop()
    }

    // streaming: in-stream exact dedup over a fed memory stream
    locally {
      implicit val ctx = spark.sqlContext
      import spark.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val in = MemoryStream[(java.sql.Timestamp, Long)]
      val q = graft.streaming.Streams
        .dedupStream(in.toDF().toDF("ts", "event_id"))
        .writeStream.format("memory").queryName("demo_dd")
        .outputMode("append").start()
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
      in.addData((t0, 1L), (t0, 2L), (t0, 1L), (t0, 2L), (t0, 3L))
      q.processAllAvailable()
      println("STREAM_DEDUP_IDS=" + spark.table("demo_dd")
        .select("event_id").collect().map(_.getLong(0)).sorted.mkString(","))
      q.stop()
    }
    spark.stop()
  }
}
