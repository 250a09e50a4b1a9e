package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{ChainKernels, NnDeep}
import graft.sqlgen.{Gen, SparkDialect, WmParams}

/** The registry of the engine's kept artifacts per (session, sf dir):
  * which exist, what each reads, and what builds it. Each artifact is
  * a g_* temp view that the Spark-dialect renderings (Gen with
  * useViews) read in place of an inline CTE chain, while the DuckDB
  * oracle keeps the full inline chain — every view holds exactly the
  * rows of the chain it stands for, so results are identical.
  *
  * The artifacts are declared once, as `Gen.artifactNames` with the
  * SQL `Gen.artifactSql` renders for each. What a statement needs is
  * derived from its text, never declared: [[ensureReads]] scans it
  * for artifact names, and each artifact's own SQL names its inputs
  * the same way, so an artifact is always built after the artifacts it
  * reads, and a build over them keys on their SQL, transitively. A
  * watermark job ([[ensure]]) builds the chain g_bkt → g_knn → g_indeg
  * → g_carriers → g_stego — the selection the embed job reads, once
  * per embed call in the reference too (database/pgvector/
  * pg_func.py:735 embed_watermark) — and nothing else; a search over
  * IVF cells builds the two IVF stages and nothing else. An
  * artifact's SQL is rendered only when something builds or keys it.
  *
  * Execution: each artifact's SQL SPECIFIES it — the DuckDB oracle's
  * semantics, the parity reference, the scratch key and the source of
  * [[ensureReads]] — and [[stageFrame]] EXECUTES it. The three
  * corpus-priced chain stages (g_bkt, g_knn, g_stego) run as the
  * precompiled kernels of operators.ChainKernels, row-identical to
  * their SQL (ChainKernelSpec): on a cold JVM their generated SQL cost
  * more to compile than to run. g_nn_deep_logits runs as the JVM
  * forward pass operators.NnDeep (NnDeepSpec). Every other artifact
  * runs its SQL.
  *
  * Every artifact is an ordinary graft.Scratch artifact, specified by
  * its key text ([[Registry.keyText]]) and built by [[stageFrame]]:
  * Scratch keys, publishes and registers it (see its header for the
  * rails).
  */
object WmCache {

  /** The stages a precompiled chain kernel builds: their key includes
    * the kernels' revision. */
  private val KernelStages = Set("g_bkt", "g_knn", "g_stego")

  /** The artifacts of one generator, with what each reads. */
  private final class Registry(val gen: Gen) {
    private val names = gen.artifactNames
    private val pattern = names.mkString("\\b(", "|", ")\\b").r

    /** The artifact names `sql` mentions, in declaration order. */
    def reads(sql: String): Seq[String] = {
      val found = pattern.findAllIn(sql).toSet
      names.filter(found)
    }

    private val inputs = new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()
    /** `name` after everything it reads, transitively. */
    def closure(name: String): Seq[String] = {
      val in = inputs.computeIfAbsent(name, n => reads(gen.artifactSql(n)).filterNot(_ == n))
      (in.flatMap(closure) :+ name).distinct
    }

    /** The watermark chain: the stego stage and everything it reads. */
    lazy val chain: Seq[String] = closure("g_stego")
    lazy val inChain: Set[String] = chain.toSet

    /** What keys a build of artifact `name`: its SQL, and for a kernel
      * stage also the revision of the kernels. */
    def keyText(name: String): String =
      if (KernelStages(name)) s"${gen.artifactSql(name)}|kernels=${ChainKernels.Revision}"
      else gen.artifactSql(name)

    private val lineages = new java.util.concurrent.ConcurrentHashMap[String, String]()
    /** What a build reading `name` depends on: the artifact's key text
      * and, transitively, that of every artifact it reads. */
    def lineage(name: String): String = lineages.computeIfAbsent(name, n =>
      closure(n).map(x => s"$x=${keyText(x)}").mkString(";"))
  }

  private val registries = new java.util.concurrent.ConcurrentHashMap[Gen, Registry]()
  private def registryOf(gen: Gen): Registry = registries.computeIfAbsent(gen, new Registry(_))
  private def registry(spark: SparkSession, dir: String): Registry =
    registryOf(SparkEntry.sparkGenFor(spark, dir))

  /** Query keys whose Spark rendering reads the watermark chain, directly
    * or through the artifacts it reads, derived per key from its
    * rendered text on first ask. */
  val dependents: Set[String] = new scala.collection.immutable.AbstractSet[String] {
    private val memo = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
    def contains(key: String): Boolean = memo.computeIfAbsent(key, k =>
      SparkEntry.sparkGen.keys(k) && {
        val reg = registryOf(SparkEntry.sparkGen)
        reg.reads(SparkEntry.sparkGen.sql(k)).flatMap(reg.closure).exists(reg.inChain)
      })
    def iterator: Iterator[String] = SparkEntry.sparkGen.keys.iterator.filter(contains)
    def incl(key: String): Set[String] = iterator.toSet + key
    def excl(key: String): Set[String] = iterator.toSet - key
  }

  /** Idempotently build + register the watermark chain views for
    * (spark, dir), in order — and nothing else. */
  def ensure(spark: SparkSession, dir: String): Unit = {
    val reg = registry(spark, dir)
    reg.chain.foreach(stage(spark, dir, reg, _))
  }

  /** Artifact `name` of (spark, dir), built if missing, and registered
    * as its view. */
  def artifact(spark: SparkSession, dir: String, name: String): DataFrame =
    stage(spark, dir, registry(spark, dir), name)

  /** Stage `name` of (spark, dir)'s registry, as a Scratch artifact. */
  private def stage(spark: SparkSession, dir: String, reg: Registry,
                    name: String): DataFrame =
    Scratch.artifact(spark, dir, name, reg.keyText(name))(stageFrame(spark, dir, name))

  /** The DataFrame that builds artifact `view` of (spark, dir)'s
    * generator, reading the views it depends on: the chain kernel for
    * g_bkt, g_knn and g_stego, the NnDeep forward pass for
    * g_nn_deep_logits, the artifact's SQL for every other one. Every
    * build goes through here, and so does every tool that explains
    * one. */
  private[graft] def stageFrame(spark: SparkSession, dir: String, view: String): DataFrame = {
    val reg = registry(spark, dir)
    view match {
      case "g_bkt" => ChainKernels.buckets(spark, reg.gen.lshPlanes)
      case "g_knn" => ChainKernels.knn(spark, reg.gen.lshPlanes)
      case "g_stego" => ChainKernels.stego(spark, spark.table("g_carriers"), reg.gen.params)
      case "g_nn_deep_logits" => NnDeep.logits(spark, dir)
      case _ => spark.sql(reg.gen.artifactSql(view))
    }
  }

  /** The carriers (vec_id, in_degree, sel_rank, blk) of a watermark
    * under `params`: the cached g_carriers for the engine's default
    * parameters; otherwise `params`' own carrier selection over the
    * cached g_indeg, which no watermark parameter changes. */
  def carriers(spark: SparkSession, dir: String,
               params: WmParams = WmParams.Default): DataFrame = {
    if (params == WmParams.Default) stage(spark, dir, registry(spark, dir), "g_carriers")
    else {
      val sql = customGen(spark, dir, params).artifactSql("g_carriers")
      ensureReads(spark, dir, sql)
      spark.sql(sql)
    }
  }

  /** The stego cells (id, pos, sval) of a watermark under `params`:
    * the cached g_stego for the default parameters, otherwise the
    * g_stego kernel over [[carriers]]. Custom results are computed on
    * demand and register no view. */
  def stego(spark: SparkSession, dir: String,
            params: WmParams = WmParams.Default): DataFrame = {
    if (params == WmParams.Default) stage(spark, dir, registry(spark, dir), "g_stego")
    else ChainKernels.stego(spark, carriers(spark, dir, params), params)
  }

  private val customGens = new java.util.concurrent.ConcurrentHashMap[(WmParams, Int), Gen]()
  /** The view-reading generator for `params` at the dir's plane count. */
  private def customGen(spark: SparkSession, dir: String, params: WmParams): Gen =
    customGens.computeIfAbsent((params, SparkEntry.sparkGenFor(spark, dir).lshPlanes),
      { case (p, planes) => new Gen(SparkDialect, useViews = true, p, lshPlanes = planes) })

  /** Ensures every artifact `sql` reads, each after the artifacts it
    * reads in turn, and returns their lineage (the build SQL of each,
    * transitively) for a build over them to key its scratch on; "" when
    * `sql` reads none. */
  private[graft] def ensureReads(spark: SparkSession, dir: String, sql: String): String = {
    val reg = registry(spark, dir)
    val read = reg.reads(sql)
    read.foreach(stage(spark, dir, reg, _))
    read.map(reg.lineage).mkString(";")
  }

  /** Builds and registers EVERY artifact for (spark, dir), on a pool
    * of as many threads as the session has cores (a cold build is
    * overhead-dominated — codegen compile + parquet commit per artifact
    * — so concurrent builds cost less than their sum). An artifact whose
    * input another thread is building waits on Scratch's per-artifact
    * memo instead of building it twice. For tools that report on every
    * artifact; a query needs only [[ensureReads]]. */
  def ensureAll(spark: SparkSession, dir: String): Unit = {
    val reg = registry(spark, dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, spark.sparkContext.defaultParallelism))
    val builds = try reg.gen.artifactNames.map { name =>
      val build: java.util.concurrent.Callable[DataFrame] = () => stage(spark, dir, reg, name)
      pool.submit(build)
    } finally pool.shutdown()
    // every build finishes before the first failure is thrown
    val errs = builds.flatMap { b =>
      try { b.get(); None }
      catch { case e: java.util.concurrent.ExecutionException => Some(e.getCause) }
    }
    errs.headOption.foreach {
      case e: Exception => throw e
      case e => throw new RuntimeException(e)
    }
  }
}
