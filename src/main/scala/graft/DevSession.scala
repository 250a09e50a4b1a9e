package graft

import org.apache.spark.sql.SparkSession

/** The session of the dev tools (Plans, TimeOne, PlanCost, PlanDump,
  * SimProf, QDebug): local mode on SPARK_GRAFT_CPUS cores (default 32,
  * as Bench and Verify) with as many shuffle partitions, UI off, log
  * level ERROR. */
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
