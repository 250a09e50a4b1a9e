package graft
import org.apache.spark.sql.SparkSession

/** Dev tool: time each WmCache artifact stage individually (parquet write
  * included — the real build cost). Usage: runMain graft.StageProf [sfDir] */
object StageProf {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.register(spark, dir)
    val stages = SparkEntry.sparkGenFor(spark, dir).cacheStages
    stages.foreach { case (view, _) =>
      val t0 = System.nanoTime()
      val p = s"/tmp/stageprof/$view"
      // the build WmCache runs: a chain kernel or the stage SQL
      WmCache.stageFrame(spark, dir, view).write.mode("overwrite").parquet(p)
      spark.read.parquet(p).createOrReplaceTempView(view)
      println(f"[stage] $view ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
