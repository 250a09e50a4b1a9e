package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Registers the driver-generated parquet tables of one scale-factor
  * directory as temp views. Scans stay lazy; Catalyst pushes filters and
  * prunes columns into the parquet reader (verified via .explain —
  * PushedFilters / ReadSchema).
  *
  * Parquet metadata is read from the footers on the driver, never by a
  * Spark job: [[footerSchema]] is the schema Spark's own inference
  * would return, and the reads of tables, scratch artifacts and id
  * lists declare it ([[read]]); [[footerRows]] is
  * the row count a `count()` would return. Registering a dir runs no
  * Spark job (ParquetFooterSpec).
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** Parquet `path` (a file, or a directory of part files) read under
    * its [[footerSchema]]: no schema-inference job. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(footerSchema(spark, path)).parquet(path)

  /** The data files of parquet `path` in path order: the file itself,
    * or a directory's files without Spark's hidden and summary files
    * (names starting with `_` or `.`). */
  private def dataFiles(conf: Configuration, path: String): Seq[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(p).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.toString)
  }

  /** The Spark schema of parquet `path`, from the footer of its first
    * data file in path order — the file Spark's inference reads when
    * schema merging is off — converted under the session's conf (which
    * carries `nanosAsLong`). */
  def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val first = dataFiles(conf, path).headOption.getOrElse(
      throw new IllegalArgumentException(s"no parquet data file at $path"))
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(first.getPath, ParquetFileReader.readFooter(conf, first)),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** The row count of parquet `path`: the sum of its footers' row
    * group counts. */
  def footerRows(spark: SparkSession, path: String): Long = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(conf, path).map(f =>
      ParquetFileReader.readFooter(conf, f).getBlocks.asScala.map(_.getRowCount).sum).sum
  }

  // one registration per (session, dir): every query calls register, and
  // re-reading 10 parquet footers per query dominates small benchmarks.
  // A dir is published here only after its views exist, under a
  // per-session lock, so a thread that finds its dir here never reads a
  // view another thread is still creating.
  private val lastDir = new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()
  private val locks = new java.util.concurrent.ConcurrentHashMap[SparkSession, Object]()

  // corpus size per dir (footer row counts), memoized:
  // SparkEntry/WmCache derive the LSH plane count from it
  private val vecCount = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Row count of `dir`'s embeddings table (footers only, memoized). */
  def vectorCount(spark: SparkSession, dir: String): Long =
    vecCount.computeIfAbsent(dir, _ => footerRows(spark, s"$dir/embeddings.parquet"))

  private val dCount = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Row count of `dir`'s documents table (footers only, memoized):
    * SparkEntry derives the SimHash band geometry from it, the doc
    * analog of the plane count. */
  def docCount(spark: SparkSession, dir: String): Long =
    dCount.computeIfAbsent(dir, _ => footerRows(spark, s"$dir/documents.parquet"))

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
