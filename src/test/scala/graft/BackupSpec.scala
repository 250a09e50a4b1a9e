package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Backup

/** Carrier backup → attack → restore round-trip (the reference's
  * backup_vectors + clear.py semantics through the parquet path). */
class BackupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("backup snapshot + restore reverts the watermarked table to the original") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bk").toString
    val n = Backup.backupCarriers(spark, TestSpark.Sf, s"$dir/bk")
    assert(n > 0 && n % 64 == 0, s"whole carrier vectors snapshotted: $n")

    // watermarked table, then a gaussian attack on top
    val wm = SparkEntry.queries("vec_writeback")(spark, TestSpark.Sf)
    val attacked = wm.withColumn("val",
      col("val") + when(pmod(col("vec_id"), lit(7)) === 0, lit(0.01)).otherwise(lit(0.0)))

    // restore: carrier cells revert to pre-embed values bit-for-bit
    val restored = Backup.restore(attacked, s"$dir/bk")
    val orig = spark.sql(
      """select vec_id, p0 + 1 as pos, round(v, 6) as val
        |from embeddings
        |lateral view posexplode(cast(embedding as array<double>)) _x as p0, v""".stripMargin)
    val carrierIds = spark.read.parquet(s"$dir/bk").select("vec_id").distinct()
    val mismatch = restored.as("r")
      .join(carrierIds.as("c"), "vec_id")
      .join(orig.as("o"), Seq("vec_id", "pos"))
      .where(col("r.val") =!= col("o.val"))
      .count()
    assert(mismatch == 0, s"restored carrier cells equal originals: $mismatch")
  }

  test("wm_restore query proves zero mismatch and chance-floor extraction") {
    val row = SparkEntry.queries("wm_restore")(spark, TestSpark.Sf).collect()(0)
    assert(row.getLong(1) == 0, "n_mismatch must be 0")
    val nullRow = SparkEntry.queries("wm_extract_null")(spark, TestSpark.Sf).collect()(0)
    assert(row.getLong(3) == nullRow.getLong(0),
      "restored table extracts exactly like the never-watermarked control")
  }

  test("building a restore over a backup runs 0 Spark jobs") {
    val bk = java.nio.file.Files.createTempDirectory("graft_bk_jobs").toString + "/bk"
    spark.range(3).selectExpr("id as vec_id", "2 as pos", "cast(id as double) as val")
      .write.parquet(bk)
    val cells = spark.range(4).selectExpr("id as vec_id", "2 as pos", "-1.0D as val")
    var restored: org.apache.spark.sql.DataFrame = null
    val w = Prof.work(spark) { restored = Backup.restore(cells, bk) }
    assert(w.jobs == 0, w)
    assert(restored.orderBy("vec_id").collect().map(_.getDouble(2)).toSeq ==
      Seq(0.0, 1.0, 2.0, -1.0))
  }
}
