package graft

/** Dev tool: warm per-key timing of a comma-separated key list with
  * the bench's exact methodology (count() action, DevSession's cores
  * and shuffle partitions; one untimed warmup rep then N timed reps).
  * Usage: runMain graft.TimeOne <key,key,...> [sfDir] [reps]
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: runMain graft.TimeOne <key,key,...> [sfDir] [reps]")
      sys.exit(2)
    }
    val keys = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = DevSession()
    def t(k: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(k)(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    for (k <- keys) {
      t(k) // warmup (also builds any scratch artifacts)
      val runs = Seq.fill(reps)(t(k)).sorted
      println(f"TIME $k%-32s min=${runs.head}%6.3f med=${runs(runs.size / 2)}%6.3f reps=$reps")
    }
    // cold-build evidence: any artifact this run actually built (r13)
    Scratch.buildSeconds.toSeq.sortBy(-_._2).foreach { case (n, s) =>
      println(f"BUILD $n%-32s sec=$s%6.3f")
    }
    spark.stop()
  }
}
