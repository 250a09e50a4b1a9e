package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{ChainKernels, NnDeep}
import graft.sqlgen.{Gen, WmParams}

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
  * build ensures what it reads: a kernel stage only its kernel's
  * inputs ([[KernelReads]]), every other artifact everything its SQL
  * names. A watermark job ([[ensure]]) builds g_knn → g_indeg →
  * g_carriers — the selection the embed job reads, once per embed call
  * in the reference too (database/pgvector/pg_func.py:735
  * embed_watermark) — and nothing else: the write-back embeds each
  * carrier as it writes it (operators.Writeback), so g_stego, like
  * g_bkt, is built by the first statement that reads it. g_bkt, which
  * g_knn's SQL names but its kernel does not read, stays in g_knn's
  * key; a search over IVF cells likewise builds the two IVF stages and
  * nothing else. An artifact's SQL is rendered only when something
  * builds or keys it.
  *
  * Execution: each artifact's SQL SPECIFIES it — the DuckDB oracle's
  * semantics, the parity reference, the scratch key and the source of
  * [[ensureReads]] — and [[stageFrame]] EXECUTES it. The five chain
  * stages run as the precompiled kernels of operators.ChainKernels,
  * row-identical to their SQL (ChainKernelSpec): on a cold JVM their
  * generated SQL cost more to compile and plan than to run.
  * g_nn_deep_logits runs as the JVM forward pass operators.NnDeep
  * (NnDeepSpec). Every other artifact runs its SQL.
  *
  * Every artifact is an ordinary graft.Scratch artifact, specified by
  * its key text ([[Registry.keyText]]) and built by [[stageFrame]]:
  * Scratch keys, publishes and registers it (see its header for the
  * rails).
  */
object WmCache {

  /** The stages a precompiled chain kernel builds, with the artifacts
    * each kernel reads: a kernel stage's key includes the kernels'
    * revision, and a build of it ensures only what its kernel reads.
    * The g_knn kernel buckets the vectors itself, so g_bkt (named by
    * g_knn's SQL, and kept in its lineage) is built by the first
    * statement that reads it. */
  private val KernelReads: Map[String, Seq[String]] = Map(
    "g_bkt" -> Nil, "g_knn" -> Nil, "g_indeg" -> Seq("g_knn"),
    "g_carriers" -> Seq("g_indeg"), "g_stego" -> Seq("g_carriers"))

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
    /** `name` after everything its SQL reads, transitively. */
    def closure(name: String): Seq[String] = {
      val in = inputs.computeIfAbsent(name, n => reads(gen.artifactSql(n)).filterNot(_ == n))
      (in.flatMap(closure) :+ name).distinct
    }

    /** The watermark chain: the stego stage and everything its SQL
      * reads. */
    lazy val inChain: Set[String] = closure("g_stego").toSet

    /** What keys a build of artifact `name`: its SQL, and for a kernel
      * stage also the revision of the kernels. */
    def keyText(name: String): String =
      if (KernelReads.contains(name)) s"${gen.artifactSql(name)}|kernels=${ChainKernels.Revision}"
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

  /** Idempotently build + register the views a watermark job reads for
    * (spark, dir), in order — g_knn → g_indeg → g_carriers — and
    * nothing else: the write-back reads the carriers, not g_stego. */
  def ensure(spark: SparkSession, dir: String): Unit = {
    val reg = registry(spark, dir)
    JobStages.foreach(stage(spark, dir, reg, _))
  }

  /** The chain stages a watermark job reads, each after the stages its
    * kernel reads. Each is staged in turn, so a session that switches
    * dirs re-registers every one of them, not just the last. */
  private val JobStages: Seq[String] = {
    def after(n: String): Seq[String] = (KernelReads(n).flatMap(after) :+ n).distinct
    after("g_carriers")
  }

  /** Artifact `name` of (spark, dir), built if missing, and registered
    * as its view. */
  def artifact(spark: SparkSession, dir: String, name: String): DataFrame =
    stage(spark, dir, registry(spark, dir), name)

  /** Stage `name` of (spark, dir)'s registry, as a Scratch artifact. */
  private def stage(spark: SparkSession, dir: String, reg: Registry,
                    name: String): DataFrame =
    Scratch.artifact(spark, dir, name, reg.keyText(name), KernelReads.get(name))(
      stageFrame(spark, dir, name))

  /** The DataFrame that builds artifact `view` of (spark, dir)'s
    * generator, reading the views it depends on: the chain kernel for
    * each chain stage, the NnDeep forward pass for
    * g_nn_deep_logits, the artifact's SQL for every other one. Every
    * build goes through here, and so does every tool that explains
    * one. */
  private[graft] def stageFrame(spark: SparkSession, dir: String, view: String): DataFrame = {
    val reg = registry(spark, dir)
    view match {
      case "g_bkt" => ChainKernels.buckets(spark, reg.gen.lshPlanes)
      case "g_knn" => ChainKernels.knn(spark, reg.gen.lshPlanes)
      case "g_indeg" => ChainKernels.indeg(spark)
      case "g_carriers" => ChainKernels.carriers(spark, spark.table("g_indeg"), reg.gen.params)
      case "g_stego" => ChainKernels.stego(spark, spark.table("g_carriers"), reg.gen.params)
      case "g_nn_deep_logits" => NnDeep.logits(spark, dir)
      case _ => spark.sql(reg.gen.artifactSql(view))
    }
  }

  /** The carriers (vec_id, in_degree, sel_rank, blk) of a watermark
    * under `params`: the cached g_carriers for the engine's default
    * parameters; otherwise the g_carriers kernel under `params` over
    * the cached g_indeg, which no watermark parameter changes. */
  def carriers(spark: SparkSession, dir: String,
               params: WmParams = WmParams.Default): DataFrame = {
    val reg = registry(spark, dir)
    if (params == WmParams.Default) stage(spark, dir, reg, "g_carriers")
    else ChainKernels.carriers(spark, stage(spark, dir, reg, "g_indeg"), params)
  }

  /** Ensures every artifact `sql` reads (or `only` those, when a kernel
    * builds over fewer than its SQL names), each after the artifacts it
    * reads in turn, and returns the lineage of everything `sql` reads
    * (the build SQL of each, transitively) for a build over them to key
    * its scratch on; "" when `sql` reads none. */
  private[graft] def ensureReads(spark: SparkSession, dir: String, sql: String,
                                 only: Option[Seq[String]] = None): String = {
    val reg = registry(spark, dir)
    val read = reg.reads(sql)
    only.getOrElse(read).foreach(stage(spark, dir, reg, _))
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
