package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.ChainKernels
import graft.sqlgen.{Gen, SparkDialect, WmParams}

/** The registry of the engine's precomputed artifacts per (session,
  * sf dir): which stages exist, what each reads, and what builds it.
  * Each artifact is a g_* temp view that the Spark-dialect renderings
  * (Gen with useViews) read in place of an inline CTE chain, while the
  * DuckDB oracle keeps the full inline chain — every view holds exactly
  * the rows of the chain it stands for, so results are identical.
  *
  * The artifacts are the stages of `Gen.cacheStages`, in two groups:
  *
  *  - the WATERMARK CHAIN (g_bkt → g_knn → g_indeg → g_carriers →
  *    g_stego): the selection the embed job reads, once per embed call
  *    in the reference too (database/pgvector/pg_func.py:735
  *    embed_watermark). [[ensure]] builds exactly this chain; ~11 keys
  *    (wm_*, BER suite, writeback, recall, LSH dedup/top-k) read some
  *    prefix of it.
  *  - the ANN INDEXES (g_ivf_ct → g_ivf_asg, g_pq_ct → g_pq_codes,
  *    g_bq): built on first use, by the statements that read them.
  *
  * What a statement needs is derived from its text, never declared:
  * [[ensureReads]] scans it for the g_* names of the stages, and each
  * stage's own build SQL names its inputs the same way, so an artifact
  * is always built after the artifacts it reads. A watermark job thus
  * builds the chain and nothing else, and a search over IVF cells
  * builds the two IVF stages and nothing else.
  *
  * Execution: each stage's SQL in `Gen.cacheStages` SPECIFIES it — the
  * DuckDB oracle's semantics, the parity reference, the scratch key
  * and the source of [[ensureReads]] — and [[stageFrame]] EXECUTES it.
  * The three corpus-priced chain stages (g_bkt, g_knn, g_stego) run as
  * the precompiled kernels of operators.ChainKernels, row-identical to
  * their SQL (ChainKernelSpec): on a cold JVM their generated SQL cost
  * more to compile than to run. g_indeg, g_carriers and the indexes
  * run their SQL.
  *
  * Every stage is an ordinary graft.Scratch artifact, specified by
  * its key text ([[Registry.keyText]]) and built by [[stageFrame]]:
  * Scratch keys, publishes and registers it (see its header for the
  * rails).
  */
object WmCache {

  /** The stages of one generator, with what each reads. */
  private final class Registry(val gen: Gen) {
    val stages: Seq[(String, String)] = gen.cacheStages
    private val names = stages.map(_._1)
    val sqlOf: Map[String, String] = stages.toMap
    private val pattern = names.mkString("\\b(", "|", ")\\b").r

    /** The stage names `sql` mentions, in declaration order. */
    def reads(sql: String): Seq[String] = {
      val found = pattern.findAllIn(sql).toSet
      names.filter(found)
    }

    private def closure(name: String): Seq[String] =
      (reads(sqlOf(name)).filterNot(_ == name).flatMap(closure) :+ name).distinct

    /** The watermark chain: the stego stage and everything it reads. */
    val chain: Seq[(String, String)] = {
      val in = closure("g_stego").toSet
      stages.filter(s => in(s._1))
    }
    val inChain: Set[String] = chain.map(_._1).toSet

    /** What keys a build of stage `name`: its SQL, and for a chain
      * stage also the revision of the kernels that execute the chain. */
    def keyText(name: String): String =
      if (inChain(name)) s"${sqlOf(name)}|kernels=${ChainKernels.Revision}" else sqlOf(name)

    /** What a build reading `name` depends on: the stage's key text
      * and, transitively, that of every stage it reads. */
    val lineage: Map[String, String] =
      names.map(n => n -> closure(n).map(x => s"$x=${keyText(x)}").mkString(";")).toMap
  }

  private val registries = new java.util.concurrent.ConcurrentHashMap[Gen, Registry]()
  private def registryOf(gen: Gen): Registry = registries.computeIfAbsent(gen, new Registry(_))
  private def registry(spark: SparkSession, dir: String): Registry =
    registryOf(SparkEntry.sparkGenFor(spark, dir))

  /** Query keys whose Spark rendering reads the watermark chain,
    * derived per key from its rendered text on first ask. */
  val dependents: Set[String] = new scala.collection.immutable.AbstractSet[String] {
    private val memo = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
    def contains(key: String): Boolean = memo.computeIfAbsent(key, k =>
      SparkEntry.sparkGen.keys(k) && {
        val reg = registryOf(SparkEntry.sparkGen)
        reg.reads(SparkEntry.sparkGen.sql(k)).exists(reg.inChain)
      })
    def iterator: Iterator[String] = SparkEntry.sparkGen.keys.iterator.filter(contains)
    def incl(key: String): Set[String] = iterator.toSet + key
    def excl(key: String): Set[String] = iterator.toSet - key
  }

  /** Idempotently build + register the watermark chain views for
    * (spark, dir), in order — and nothing else. */
  def ensure(spark: SparkSession, dir: String): Unit = {
    val reg = registry(spark, dir)
    reg.chain.foreach { case (name, _) => stage(spark, dir, reg, name) }
  }

  /** Stage `name` of (spark, dir)'s registry, as a Scratch artifact. */
  private def stage(spark: SparkSession, dir: String, reg: Registry,
                    name: String): DataFrame =
    Scratch.artifact(spark, dir, name, reg.keyText(name))(stageFrame(spark, dir, name))

  /** The DataFrame that builds stage `view` of (spark, dir)'s
    * generator, reading the stage views it depends on: the chain
    * kernel for g_bkt, g_knn and g_stego, the stage's SQL for every
    * other stage. Every build goes through here, and so does every
    * tool that explains or times one. */
  private[graft] def stageFrame(spark: SparkSession, dir: String, view: String): DataFrame = {
    val reg = registry(spark, dir)
    view match {
      case "g_bkt" => ChainKernels.buckets(spark, reg.gen.lshPlanes)
      case "g_knn" => ChainKernels.knn(spark, reg.gen.lshPlanes)
      case "g_stego" => ChainKernels.stego(spark, spark.table("g_carriers"), reg.gen.params)
      case _ => spark.sql(reg.sqlOf(view))
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
      val sql = customGen(spark, dir, params).cacheStages.toMap.apply("g_carriers")
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

  /** Builds and registers EVERY artifact for (spark, dir): the chain
    * and all indexes, each independent artifact on its own thread (a
    * cold build is overhead-dominated — codegen compile + parquet
    * commit per stage — so concurrent chains cost about the longest one,
    * not the sum). For tools that report on every artifact; a query
    * needs only [[ensureReads]]. */
  def ensureAll(spark: SparkSession, dir: String): Unit = {
    val reg = registry(spark, dir)
    // an index whose input another thread is building waits on
    // Scratch's per-artifact memo instead of building it twice
    val tasks: Seq[() => Unit] = (() => ensure(spark, dir)) +:
      reg.stages.map(_._1).filterNot(reg.inChain).map(name =>
        () => stage(spark, dir, reg, name): Unit)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val threads = tasks.map { task =>
      val t = new Thread(() =>
        try task() catch { case e: Throwable => err.compareAndSet(null, e): Unit })
      t.start(); t
    }
    threads.foreach(_.join())
    if (err.get() != null) throw err.get() match {
      case e: Exception => e
      case e => new RuntimeException(e)
    }
  }
}
