package graft

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.ChainKernels
import graft.sqlgen.{Gen, SparkDialect, WmParams}

/** The engine's precomputed artifacts per (session, sf dir): each one
  * is a g_* temp view that the Spark-dialect renderings (Gen with
  * useViews) read in place of an inline CTE chain, while the DuckDB
  * oracle keeps the full inline chain — every view holds exactly the
  * rows of the chain it stands for, so results are identical.
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
  * Materialization:
  *
  *  - the chain is one CROSS-SESSION parquet scratch unit (default on,
  *    `spark.graft.scratch` conf / SPARK_GRAFT_SCRATCH env; "off"
  *    disables): its five stages are written once under a key derived
  *    from the sf dir, the DATA fingerprint (embeddings.parquet
  *    size+mtime), and the md5 of the chain's stage SQL and of
  *    ChainKernels.Revision — so a testdata refresh or an edit to a
  *    stage's specification invalidates it by itself, and a change to
  *    a kernel's output (ChainKernels, WmEmbed) invalidates it when it
  *    bumps that revision. A later session registers plain parquet
  *    scans — chain build cost ≈ read cost. Writes go to a
  *    process-unique tmp dir renamed into place, so concurrent writers
  *    race safely. The cached stages are the SMALL derived artifacts
  *    (O(N) ids/edges and rate·N·d stego cells), never the raw exploded
  *    vectors.
  *  - each index is a graft.Scratch table (the same tmp+rename publish,
  *    per artifact), keyed by its own build SQL and the build SQL of
  *    every artifact it reads.
  *  - both fall back to an in-session localCheckpoint (scratch off or
  *    write failure). localCheckpoint (not persist) on purpose: it
  *    SEVERS the logical lineage, so each registered view is a plain
  *    LogicalRDD — a lazily persisted view would carry its full WithCTE
  *    plan into every consumer; nesting those inside the consumers' own
  *    CTEs trips Catalyst's PushdownPredicatesAndPruneColumnsForCTEDef
  *    on CTE-id bookkeeping (observed: "key not found" crashes and,
  *    worse, a mis-resolved CTE ref that silently built stego rows from
  *    the wrong carrier set). Parquet-backed views are equally
  *    lineage-free, which is why the scratch layers need no checkpoint.
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

  private case class Entry(dir: String, dfs: Seq[DataFrame])
  private val state = new java.util.concurrent.ConcurrentHashMap[SparkSession, Entry]()

  /** Scratch root, or None when disabled (shared with the doc-side
    * Scratch layer so one conf governs both). */
  private[graft] def scratchRoot(spark: SparkSession): Option[File] = {
    val conf = try spark.conf.get("spark.graft.scratch") catch {
      case _: Exception =>
        sys.env.getOrElse("SPARK_GRAFT_SCRATCH", new File(".graft-scratch").getAbsolutePath)
    }
    conf match {
      case "" | "off" | "false" => None
      case p => Some(new File(p))
    }
  }

  /** Cache key: sf dir + data fingerprint + the chain's key texts
    * (stage SQL and kernel revision). */
  private def cacheKey(dir: String, reg: Registry): String = {
    val emb = new File(s"$dir/embeddings.parquet")
    val raw = Seq(dir, emb.length.toString, emb.lastModified.toString,
      reg.chain.map { case (vn, _) => vn + "=" + reg.keyText(vn) }.mkString(";")).mkString("|")
    graft.functions.Prf.md5hex(raw).take(16)
  }

  /** Idempotently build + register the watermark chain views for
    * (spark, dir) — and nothing else. */
  def ensure(spark: SparkSession, dir: String): Unit = {
    val seen = state.get(spark)
    if (seen == null || seen.dir != dir) state.synchronized {
      val cur = state.get(spark)
      if (cur == null || cur.dir != dir) {
        if (cur != null) cur.dfs.foreach(_.unpersist(blocking = false))
        Tables.register(spark, dir)
        // the generator every consumer rendering of this dir comes from:
        // the g_* views and every query reading them agree on the
        // N-derived bucket layout (the stage-SQL md5 in the scratch key
        // invalidates any previously cached layout automatically)
        val reg = registry(spark, dir)
        val stages = reg.chain
        val viaScratch = scratchRoot(spark).exists { root =>
          try { ensureScratch(spark, dir, root, reg); true }
          catch { case e: Exception =>
            System.err.println(s"[wmcache] scratch failed (${e.getMessage}), " +
              "falling back to localCheckpoint"); false }
        }
        val dfs = if (viaScratch) Nil else stages.map { case (view, _) =>
          // eager: computes the stage NOW (against the views registered
          // so far) and registers a lineage-free LogicalRDD view
          val t0 = System.nanoTime()
          val df = stageFrame(spark, dir, view).localCheckpoint()
          Scratch.logBuild(view, (System.nanoTime() - t0) / 1e9)
          df.createOrReplaceTempView(view)
          df
        }
        state.put(spark, Entry(dir, dfs))
      }
    }
  }

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
    ensure(spark, dir)
    if (params == WmParams.Default) spark.table("g_carriers")
    else spark.sql(customGen(spark, dir, params).cacheStages.toMap.apply("g_carriers"))
  }

  /** The stego cells (id, pos, sval) of a watermark under `params`:
    * the cached g_stego for the default parameters, otherwise the
    * g_stego kernel over [[carriers]]. Custom results are computed on
    * demand and register no view. */
  def stego(spark: SparkSession, dir: String,
            params: WmParams = WmParams.Default): DataFrame = {
    ensure(spark, dir)
    if (params == WmParams.Default) spark.table("g_stego")
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
    if (read.nonEmpty) Tables.register(spark, dir)
    if (read.exists(reg.inChain)) ensure(spark, dir)
    // Scratch.table ensures each index's own inputs from its build SQL
    read.filterNot(reg.inChain).foreach(ensureIndex(spark, dir, reg, _))
    read.map(reg.lineage).mkString(";")
  }

  private def ensureIndex(spark: SparkSession, dir: String, reg: Registry,
                          name: String): Unit = {
    Scratch.table(spark, dir, name, reg.sqlOf(name)): Unit
  }

  /** Builds and registers EVERY artifact for (spark, dir): the chain
    * and all indexes, each independent artifact on its own thread (a
    * cold build is overhead-dominated — codegen compile + parquet
    * commit per stage — so concurrent chains cost about the longest one,
    * not the sum). For tools that report on every artifact; a query
    * needs only [[ensureReads]]. */
  def ensureAll(spark: SparkSession, dir: String): Unit = {
    Tables.register(spark, dir)
    val reg = registry(spark, dir)
    // an index whose input another thread is building waits on
    // Scratch's per-artifact memo instead of building it twice
    val tasks: Seq[() => Unit] = (() => ensure(spark, dir)) +:
      reg.stages.map(_._1).filterNot(reg.inChain).map(name =>
        () => ensureIndex(spark, dir, reg, name))
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

  /** Build-or-reuse the parquet scratch for (dir, chain SQL), then
    * register every stage as a parquet-backed temp view. */
  private def ensureScratch(spark: SparkSession, dir: String, root: File,
                            reg: Registry): Unit = {
    val stages = reg.chain
    val base = new File(root, cacheKey(dir, reg))
    val served = if (new File(base, "_DONE").exists()) base else {
      val tmp = new File(root,
        s"${base.getName}.tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}")
      tmp.mkdirs()
      // size the write to the data: every stage is O(N)-to-O(N·d) rows,
      // so ~1 output file per 200k vectors (capped at the session's
      // parallelism) — a 5k-vector corpus writes 1 file per stage
      // instead of 32 near-empty tasks + commit rounds, a 100 TB corpus
      // still fans out. repartition (not coalesce): coalesce would
      // narrow the whole upstream computation to `parts` tasks; the
      // extra exchange is tiny exactly when parts is small
      val parts = math.max(1L, math.min(
        spark.sessionState.conf.numShufflePartitions.toLong,
        Tables.vectorCount(spark, dir) / 200000L)).toInt
      stages.foreach { case (view, _) =>
        val p = new File(tmp, view).getAbsolutePath
        val t0 = System.nanoTime()
        stageFrame(spark, dir, view).repartition(parts).write.mode("overwrite").parquet(p)
        Scratch.logBuild(view, (System.nanoTime() - t0) / 1e9)
        // downstream stages read the materialized rows, not the plan
        spark.read.parquet(p).createOrReplaceTempView(view)
      }
      Scratch.publish(tmp, base, "the watermark chain")
    }
    stages.foreach { case (view, _) =>
      spark.read.parquet(new File(served, view).getAbsolutePath)
        .createOrReplaceTempView(view)
    }
  }
}
