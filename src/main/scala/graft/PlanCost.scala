package graft

/** Dev tool: split a key's warm cost into PLANNING (parse → analyze →
  * optimize → physical plan, forced via executedPlan on a fresh
  * DataFrame) and EXECUTION (count() on the already-planned frame).
  * Usage: runMain graft.PlanCost <key,key,...> [sfDir]
  */
object PlanCost {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: runMain graft.PlanCost <key,key,...> [sfDir]")
      sys.exit(2)
    }
    val keys = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = DevSession()
    for (k <- keys) {
      SparkEntry.queries(k)(spark, sfDir).count() // warmup + scratch builds
      def once(): (Double, Double) = {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(k)(spark, sfDir)
        df.queryExecution.executedPlan // force full planning
        val t1 = System.nanoTime()
        df.count()
        val t2 = System.nanoTime()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      }
      val rs = Seq.fill(3)(once())
      val plan = rs.map(_._1).min
      val exec = rs.map(_._2).min
      println(f"COST $k%-32s plan=$plan%6.3f exec=$exec%6.3f")
    }
    spark.stop()
  }
}
