package perfbench

import org.apache.spark.sql.SparkSession

/** Entry points for perfbench/tests: prints one JSON line per request.
  *
  *   tail n1 n2 ...   Stats.tail over the samples 1..n
  *   hash dir         Canon.hash of the parquet table at dir
  */
object SelfTest {
  def main(args: Array[String]): Unit = args.head match {
    case "tail" =>
      args.tail.foreach { n =>
        val t = Stats.tail((1 to n.toInt).map(_.toDouble))
        println(Json.obj("n" -> n.toInt,
          "pct" -> t.map(x => Json.num(x._1)).getOrElse("null"),
          "value" -> t.map(x => Json.num(x._2)).getOrElse("null")))
      }
    case "hash" =>
      val spark = SparkSession.builder().master("local[1]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC").getOrCreate()
      try {
        val df = spark.read.parquet(args(1))
        println(Json.obj("hash" -> Json.str(Canon.hash(df.columns.toSeq, df.collect().toSeq))))
      } finally spark.stop()
  }
}
