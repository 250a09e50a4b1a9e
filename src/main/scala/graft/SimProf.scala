package graft
import graft.sqlgen.{Gen, SparkDialect, Wm}

/** Dev tool: split the simhash near-dup pair chain into its two
  * halves — the corpus-priced SIGNATURE build (word explode → per-word
  * hash/count → 60 masked sign-sums) and the banded PAIR join over the
  * signatures — and time each with a parquet materialization between,
  * on any corpus dir. This is the measurement behind the §4 decision
  * of where the 100× simpairs scratch-build time actually goes
  * (r9 verdict item 3). Usage: runMain graft.SimProf [dir]
  */
object SimProf {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft-sfbig100")
    val spark = DevSession()
    Tables.register(spark, dir)
    val bands = Wm.simhashBandsFor(Tables.docCount(spark, dir))
    val gen = new Gen(SparkDialect, simhashBands = bands)
    println(s"[simprof] dir=$dir bands=$bands")
    def time(tag: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"[simprof] $tag ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
    }
    // full inline chain (the serving scratch build as shipped)
    time("full_chain")(spark.sql(gen.sql("dedup_simhash_pairs")).count())
    // half 1: signature build materialized to parquet
    val sigPath = "/tmp/simprof_sigs"
    time("sig_build+write") {
      spark.sql(gen.simhashSigBuildSql).write.mode("overwrite").parquet(sigPath)
      spark.read.parquet(sigPath).createOrReplaceTempView("g_simsigs")
      spark.table("g_simsigs").count()
    }
    // half 2: banded pair join over the persisted signatures
    time("pair_join")(spark.sql(gen.simhashPairsFromSigsSql("g_simsigs")).count())
    spark.stop()
  }
}
