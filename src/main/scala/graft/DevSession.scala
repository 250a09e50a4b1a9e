package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the engine's mains (Bench, Verify,
  * Smoke, Demo, ScaleCheck, Plans, Prof): local mode on
  * SPARK_GRAFT_CPUS cores (default 32, the target machine's) with as
  * many shuffle partitions (not the 200 default), UI off, log level
  * ERROR. A main that needs another log level or conf sets it on the
  * session it gets, before its first use. */
object DevSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]").config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
