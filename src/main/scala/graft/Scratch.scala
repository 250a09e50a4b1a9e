package graft

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-session parquet scratch for every per-artifact build: the
  * ANN indexes WmCache ensures on demand (g_ivf_ct, g_ivf_asg, g_pq_ct,
  * g_pq_codes, g_bq) and every checkpointed build the entrypoint keeps
  * (g_simpairs, g_jpairs, g_mhsig, g_hybrid_scores, g_bpe_vocab, g_lpa,
  * the markov transition census, the decont shingle indexes, the basket
  * table, the MMR pool).
  *
  * These are exactly the "kept production artifacts" of a curation
  * pipeline: a candidate-pair table, a signature table, a posting /
  * score cache, a tokenizer vocabulary, a community assignment. A
  * session-local localCheckpoint makes every FRESH session re-pay the
  * corpus-priced build (~10 s at sf0.1 across the ten tables); the
  * parquet scratch turns that into a read, with the same safety rails
  * as the chain scratch:
  *
  *  - key = md5(sf dir | fingerprint of ALL source parquet files
  *    (length + mtime each) | table name = build SQL + the build SQL
  *    of every WmCache artifact it reads), so a testdata refresh or ANY
  *    edit to the build SQL or its inputs' auto-invalidates — stale
  *    rows are unservable by construction;
  *  - writes go to a process-unique tmp dir renamed into place, so
  *    concurrent builders race safely (either winner's files serve);
  *  - scratch off ("spark.graft.scratch" = off) or a write failure
  *    falls back to the in-session localCheckpoint, value-identical.
  *
  * Output files are sized to the data (1 file per ~200k source rows,
  * capped at 32): the doc-side tables are O(N) derived artifacts —
  * signatures, pairs, vocabulary rows — never raw exploded content.
  */
object Scratch {

  private val mem = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()

  /** Wall-clock seconds of every artifact BUILD executed by this JVM
    * (scratch parquet writes and localCheckpoint fallbacks, doc-side
    * and WmCache stages alike). Read-hits record nothing — the map
    * holds exactly the work a warm run does NOT pay, so the bench can
    * publish the cold-build column next to the warm serving numbers
    * (r12 verdict item 2: artifact build costs were invisible —
    * absorbed by the untimed coverage warmup). */
  private[graft] val buildLog =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()
  private[graft] def logBuild(name: String, sec: Double): Unit = {
    buildLog.merge(name, sec, (a, b) => a + b): Unit
  }
  /** Snapshot of the per-artifact build seconds (name -> sec). */
  def buildSeconds: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildLog.asScala.toMap
  }

  /** Build-or-read the scratch table `name` for (spark, dir) from
    * `sql`, register it as temp view `name`, and return it. Memoized
    * per (session, dir, name); `sql` is only rendered on a miss. The
    * WmCache artifacts the build reads are ensured first, and their
    * build SQL joins the cache key. */
  def table(spark: SparkSession, dir: String, name: String,
            sql: => String): DataFrame = {
    val k = (spark, dir, name)
    val hit = mem.get(k)
    val df = if (hit != null) hit else {
      val text = sql
      // outside computeIfAbsent: ensuring an input can build another
      // table, and a nested computeIfAbsent on this map may throw
      // IllegalStateException("Recursive update")
      val lineage = WmCache.ensureReads(spark, dir, text)
      mem.computeIfAbsent(k, _ => build(spark, dir, name, text, lineage))
    }
    df.createOrReplaceTempView(name)
    df
  }

  /** Build-or-read a PROGRAMMATIC scratch table: same keying,
    * memoization, and fallback as [[table]], but the rows come from
    * `mk` (a typed/mapPartitions build) and `version` pins the build's
    * semantics in the cache key — the convention passes the equivalent
    * generated SQL text, so any change to the declared arithmetic
    * auto-invalidates the artifact exactly like an SQL edit would. */
  def tableDf(spark: SparkSession, dir: String, name: String,
              version: => String)(mk: => DataFrame): DataFrame = {
    val df = mem.computeIfAbsent((spark, dir, name), _ => {
      val viaScratch = WmCache.scratchRoot(spark).flatMap { root =>
        try Some(ensureScratchDf(spark, dir, root, name, version, mk))
        catch { case e: Exception =>
          System.err.println(s"[scratch] $name failed (${e.getMessage}), " +
            "falling back to localCheckpoint"); None }
      }
      viaScratch.getOrElse(timed(name)(mk.localCheckpoint()))
    })
    df.createOrReplaceTempView(name)
    df
  }

  private def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    logBuild(name, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Fingerprint of every source parquet file in `dir` — any table
    * refresh invalidates every doc-side scratch key (coarser than
    * per-build lineage, but always safe and one stat() per file). */
  private def dataFingerprint(dir: String): String =
    Tables.names.map { n =>
      val f = new File(s"$dir/$n.parquet")
      s"$n:${f.length}:${f.lastModified}"
    }.mkString(",")

  private def cacheKey(dir: String, name: String, sql: String): String =
    graft.functions.Prf.md5hex(
      Seq(dir, dataFingerprint(dir), name + "=" + sql).mkString("|")).take(16)

  private def build(spark: SparkSession, dir: String, name: String,
                    sql: String, lineage: String): DataFrame = {
    val viaScratch = WmCache.scratchRoot(spark).flatMap { root =>
      try Some(ensureScratchFrom(spark, dir, root, name,
        cacheKey(dir, name, sql + lineage), spark.sql(sql)))
      catch { case e: Exception =>
        System.err.println(s"[scratch] $name failed (${e.getMessage}), " +
          "falling back to localCheckpoint"); None }
    }
    // localCheckpoint (not persist) severs lineage — same rationale as
    // WmCache: a lazily persisted multi-referenced CTE plan trips
    // Catalyst's CTE-def bookkeeping inside consumers' own CTEs
    viaScratch.getOrElse(timed(name)(spark.sql(sql).localCheckpoint()))
  }

  private def ensureScratchDf(spark: SparkSession, dir: String, root: File,
                              name: String, version: String,
                              mk: => DataFrame): DataFrame =
    ensureScratchFrom(spark, dir, root, name,
      cacheKey(dir, name, "df:" + version), mk)

  private def ensureScratchFrom(spark: SparkSession, dir: String, root: File,
                                name: String, key: String,
                                mk: => DataFrame): DataFrame = {
    val base = new File(root, "doc-" + key)
    val served = if (new File(base, "_DONE").exists()) base else {
      val tmp = new File(root,
        s"${base.getName}.tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}")
      tmp.mkdirs()
      val parts = math.max(1L, math.min(
        spark.sessionState.conf.numShufflePartitions.toLong,
        Tables.vectorCount(spark, dir) / 200000L)).toInt
      val p = new File(tmp, name).getAbsolutePath
      timed(name)(mk.repartition(parts).write.mode("overwrite").parquet(p))
      publish(tmp, base, name)
    }
    spark.read.parquet(new File(served, name).getAbsolutePath)
  }

  /** Publishes the complete build in `tmp` as `base` and returns the
    * directory to serve from: `base`, or `tmp` itself when a live
    * concurrent writer keeps `base` incomplete. Shared by the WmCache
    * chain scratch. */
  private[graft] def publish(tmp: File, base: File, what: String): File = {
    new File(tmp, "_DONE").createNewFile()
    if (tmp.renameTo(base)) base
    else if (new File(base, "_DONE").exists()) {
      // lost a race: a COMPLETE winner serves everyone — drop ours
      deleteRec(tmp)
      base
    } else {
      // base exists but incomplete (a dead writer's partial): rename
      // it ASIDE first, then delete the renamed dir — a delete-in-place
      // would yank parquet files out from under a concurrent reader in
      // another process that already resolved `base` (readers holding
      // the old inode via the renamed path keep valid files); then
      // retry, so the scratch actually lands and future sessions read
      // instead of rebuilding
      val stale = new File(base.getParentFile,
        s"${base.getName}.stale-${ProcessHandle.current().pid()}-${System.nanoTime()}")
      if (base.renameTo(stale)) deleteRec(stale)
      if (tmp.renameTo(base)) base
      else {
        // a live concurrent writer got in between — serve our tmp
        // this session and say the path leaked instead of hiding it
        System.err.println(s"[scratch] rename race on $what: serving and leaking $tmp")
        tmp
      }
    }
  }

  private[graft] def deleteRec(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(): Unit
  }
}
