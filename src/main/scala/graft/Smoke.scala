package graft

/** Local replica of the driver's smoke gate: SparkEntry.entry(spark)
  * must return rows > 0 on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = DevSession()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"ENTRY_ROWS=$n schema=${df.schema.fieldNames.mkString(",")}")
    df.show(10)
    spark.stop()
    if (n <= 0) sys.exit(1)
  }
}
