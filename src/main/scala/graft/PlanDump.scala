package graft
import java.nio.file.{Files, Paths}

/** Dev tool: write `.explain("formatted")` output for the given query
  * keys to <outDir>/<key>_<tag>.txt — the before/after plan evidence
  * convention of the optimization rounds. Usage:
  *   runMain graft.PlanDump <key,key,...> <tag> [sfDir] [outDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: runMain graft.PlanDump <key,key,...> <tag> [sfDir] [outDir]")
      sys.exit(2)
    }
    val keys = args(0).split(",").toSeq
    val tag = args(1)
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 3) args(3) else "plans/r12"
    val spark = DevSession()
    Files.createDirectories(Paths.get(outDir))
    for (k <- keys) {
      val df = SparkEntry.queries(k)(spark, sfDir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = df.queryExecution.executedPlan.toString
      val lines = p.linesIterator.toSeq
      def cnt(s: String) = lines.count(_.contains(s))
      val hdr = s"== $k nodes=${lines.size} scans=${cnt("Scan parquet")} " +
        s"window=${cnt("Window")} smj=${cnt("SortMergeJoin")} " +
        s"bhj=${cnt("BroadcastHashJoin")} bnlj=${cnt("BroadcastNestedLoop")} " +
        s"cart=${cnt("CartesianProduct")} exch=${cnt("Exchange")}\n"
      Files.writeString(Paths.get(outDir, s"${k}_$tag.txt"), hdr + formatted)
      println(hdr.trim)
    }
    spark.stop()
  }
}
