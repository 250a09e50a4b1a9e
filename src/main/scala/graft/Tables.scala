package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Registers the driver-generated parquet tables of one scale-factor
  * directory as temp views. Scans stay lazy; Catalyst pushes filters and
  * prunes columns into the parquet reader (verified via .explain —
  * PushedFilters / ReadSchema).
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // one registration per (session, dir): every query calls register, and
  // re-reading 10 parquet footers per query dominates small benchmarks.
  // A dir is published here only after its views exist, under a
  // per-session lock, so a thread that finds its dir here never reads a
  // view another thread is still creating.
  private val lastDir = new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[SparkSession, Object]()

  // corpus size per dir (parquet metadata count — no data scan),
  // memoized: SparkEntry/WmCache derive the LSH plane count from it
  private val vecCount = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Row count of `dir`'s embeddings table (metadata-only, memoized). */
  def vectorCount(spark: SparkSession, dir: String): Long =
    vecCount.computeIfAbsent(dir, _ =>
      load(spark, dir, "embeddings").count())

  private val dCount = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Row count of `dir`'s documents table (metadata-only, memoized):
    * SparkEntry derives the SimHash band geometry from it, the doc
    * analog of the plane count. */
  def docCount(spark: SparkSession, dir: String): Long =
    dCount.computeIfAbsent(dir, _ =>
      load(spark, dir, "documents").count())

  def register(spark: SparkSession, dir: String): Unit =
    if (lastDir.get(spark) != dir) registerLocked(spark, dir)

  private def registerLocked(spark: SparkSession, dir: String): Unit =
    locks.computeIfAbsent(spark, _ => new Object).synchronized {
      if (lastDir.get(spark) != dir) {
        // events.ts has shipped as both parquet TIMESTAMP(NANOS) (which
        // Spark reads as BIGINT nanos under this flag) and TIMESTAMP(US)
        // (which Spark reads as TIMESTAMP_NTZ); the view normalizes both
        // to BIGINT nanos so every query sees one schema.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        // NTZ→epoch conversion goes through the session zone; pin UTC so
        // it matches DuckDB's naive-as-UTC epoch() regardless of machine
        // timezone.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        // pca_project2d's power-iteration chain is ~56 nested CTEs; the
        // analyzer needs one resolution pass per nesting level, so the
        // default 100-iteration fixed point is too tight for it
        spark.conf.set("spark.sql.analyzer.maxIterations", "400")
        graft.functions.DotProduct.register(spark)
        graft.functions.HllAgg.register(spark)
        graft.functions.TopKAgg.register(spark)
        graft.functions.CmsAgg.register(spark)
        graft.functions.KmvAgg.register(spark)
        // the engine-level rank-window top-k rewrite, for sessions built
        // without spark.sql.extensions=graft.GraftExtensions (the
        // extension-built path injects the same rule)
        if (!spark.experimental.extraOptimizations.contains(graft.plans.RewriteWindowTopK))
          spark.experimental.extraOptimizations =
            spark.experimental.extraOptimizations :+ graft.plans.RewriteWindowTopK
        names.foreach { n =>
          val df = load(spark, dir, n)
          val out =
            if (n == "events" &&
                !df.schema("ts").dataType.isInstanceOf[org.apache.spark.sql.types.LongType])
              df.withColumn("ts",
                org.apache.spark.sql.functions.expr(
                  "unix_micros(cast(ts as timestamp_ltz)) * 1000"))
            else df
          out.createOrReplaceTempView(n)
        }
        lastDir.put(spark, dir)
      }
    }
}
