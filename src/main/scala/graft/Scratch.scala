package graft

import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one artifact store. Every g_* artifact is built, kept
  * and registered by [[artifact]]; WmCache declares which exist, what
  * each reads and what builds it.
  *
  * These are exactly the "kept production artifacts" of a curation
  * pipeline: a carrier set, a candidate-pair table, a signature table,
  * a posting / score cache, a tokenizer vocabulary, a community
  * assignment. A session-local localCheckpoint makes every FRESH
  * session re-pay the corpus-priced build; the cross-session parquet
  * scratch (default on, root `spark.graft.scratch` conf /
  * SPARK_GRAFT_SCRATCH env, "off" disables) turns that into a read.
  * Its rails:
  *
  *  - key = md5(sf dir | fingerprint of ALL source parquet files
  *    (length + mtime each) | name = spec + the lineage of every
  *    artifact the spec names). The spec is the build SQL, or for a
  *    kernel build the SQL it executes plus ChainKernels.Revision. The
  *    lineage is the spec of each artifact read, transitively: every
  *    artifact is declared in the one registry (Gen.artifactNames), so
  *    a reader's key covers the spec of everything it reads. A testdata refresh, an
  *    edit to a spec or to the spec of anything it reads, or a kernel
  *    revision bump lands under a new key — stale rows are unservable
  *    by construction;
  *  - a build is written to a process-unique tmp dir and renamed into
  *    place with a `_DONE` marker ([[publish]]), so concurrent builders
  *    race safely (either winner's files serve) and a dead writer's
  *    partial directory is never served;
  *  - scratch off or a failed write falls back to an in-session
  *    localCheckpoint, value-identical. localCheckpoint (not persist)
  *    on purpose: it SEVERS the logical lineage, so the registered view
  *    is a plain LogicalRDD. A lazily persisted view would carry its
  *    full WithCTE plan into every consumer; nesting those inside the
  *    consumers' own CTEs trips Catalyst's
  *    PushdownPredicatesAndPruneColumnsForCTEDef on CTE-id bookkeeping
  *    (observed: "key not found" crashes and, worse, a mis-resolved
  *    CTE ref that silently built stego rows from the wrong carrier
  *    set). Parquet-backed views are equally lineage-free.
  *
  * Output files are sized to the data: 1 file per ~200k vectors,
  * capped at the session's shuffle partitions. Every artifact is an
  * O(N)-to-O(N·d) derived table — signatures, pairs, ids, stego cells,
  * vocabulary rows — never raw exploded content.
  */
object Scratch {

  private val mem = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()
  /** The dir whose artifact each session's view of a name serves. */
  private val views = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** Wall-clock seconds of every artifact BUILD executed by this JVM
    * (scratch parquet writes and localCheckpoint fallbacks). Read-hits
    * record nothing — the map holds exactly the work a warm run does
    * NOT pay, so the bench can publish the cold-build column next to
    * the warm serving numbers. */
  private[graft] val buildLog =
    new java.util.concurrent.ConcurrentHashMap[String, Double]()
  /** Snapshot of the per-artifact build seconds (name -> sec). */
  def buildSeconds: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildLog.asScala.toMap
  }

  /** Scratch root, or None when disabled. */
  private def scratchRoot(spark: SparkSession): Option[File] = {
    val conf = try spark.conf.get("spark.graft.scratch") catch {
      case _: Exception =>
        sys.env.getOrElse("SPARK_GRAFT_SCRATCH", new File(".graft-scratch").getAbsolutePath)
    }
    conf match {
      case "" | "off" | "false" => None
      case p => Some(new File(p))
    }
  }

  /** Build-or-read artifact `name` for (spark, dir), register it as
    * temp view `name`, and return it. `spec` specifies the rows `build`
    * computes; it is rendered only on a miss. The key covers the
    * lineage of every WmCache artifact `spec` names; before the build,
    * the artifacts `build` reads are ensured: `reads`, or when None
    * every artifact `spec` names. Memoized per (session, dir, name). */
  def artifact(spark: SparkSession, dir: String, name: String, spec: => String,
               reads: Option[Seq[String]] = None)(build: => DataFrame): DataFrame = {
    Tables.register(spark, dir)
    val k = (spark, dir, name)
    val hit = mem.get(k)
    val df = if (hit != null) hit else {
      val text = spec
      // outside computeIfAbsent: ensuring an input can build another
      // artifact, and a nested computeIfAbsent on this map may throw
      // IllegalStateException("Recursive update")
      val lineage = WmCache.ensureReads(spark, dir, text, reads)
      mem.computeIfAbsent(k, _ => store(spark, dir, name, cacheKey(dir, name, text + lineage), build))
    }
    // the Tables.register rule: registering a view costs milliseconds,
    // so a hit registers none while the session's view already serves
    // this dir's artifact; a dir switch re-registers
    if (views.get((spark, name)) != dir) {
      df.createOrReplaceTempView(name)
      views.put((spark, name), dir)
    }
    df
  }

  private def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    buildLog.merge(name, (System.nanoTime() - t0) / 1e9, (a, b) => a + b)
    r
  }

  /** Fingerprint of every source parquet file in `dir` — any table
    * refresh invalidates every scratch key (coarser than per-build
    * lineage, but always safe and one stat() per file). */
  private[graft] def dataFingerprint(dir: String): String =
    Tables.names.map { n =>
      val f = new File(s"$dir/$n.parquet")
      s"$n:${f.length}:${f.lastModified}"
    }.mkString(",")

  private def cacheKey(dir: String, name: String, spec: String): String =
    graft.functions.Prf.md5hex(
      Seq(dir, dataFingerprint(dir), name + "=" + spec).mkString("|")).take(16)

  /** The rows of `build`, read back from the published scratch under
    * `key`, or checkpointed in-session when scratch is off or fails. */
  private def store(spark: SparkSession, dir: String, name: String, key: String,
                    build: => DataFrame): DataFrame = {
    val viaScratch = scratchRoot(spark).flatMap { root =>
      try Some(readOrPublish(spark, dir, root, name, key, build))
      catch { case e: Exception =>
        System.err.println(s"[scratch] $name failed (${e.getMessage}), " +
          "falling back to localCheckpoint"); None }
    }
    viaScratch.getOrElse(timed(name)(build.localCheckpoint()))
  }

  private def readOrPublish(spark: SparkSession, dir: String, root: File, name: String,
                            key: String, build: => DataFrame): DataFrame = {
    val base = new File(root, "doc-" + key)
    val served = if (new File(base, "_DONE").exists()) base else {
      val tmp = new File(root,
        s"${base.getName}.tmp-${ProcessHandle.current().pid()}-${System.nanoTime()}")
      tmp.mkdirs()
      // repartition (not coalesce): coalesce would narrow the whole
      // upstream computation to `parts` tasks; the extra exchange is
      // tiny exactly when parts is small
      val parts = math.max(1L, math.min(
        spark.sessionState.conf.numShufflePartitions.toLong,
        Tables.vectorCount(spark, dir) / 200000L)).toInt
      val p = new File(tmp, name).getAbsolutePath
      timed(name)(build.repartition(parts).write.mode("overwrite").parquet(p))
      publish(tmp, base, name)
    }
    Tables.read(spark, new File(served, name).getAbsolutePath)
  }

  /** Publishes the complete build in `tmp` as `base` and returns the
    * directory to serve from: `base`, or `tmp` itself when a live
    * concurrent writer keeps `base` incomplete. */
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
