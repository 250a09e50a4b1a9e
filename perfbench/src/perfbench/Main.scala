package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.{SparkEntry, Tables, WmCache}
import graft.api.Graft
import graft.operators.Backup
import graft.sqlgen.Wm

/** The benchmark's JVM side: runs one workload against the engine's
  * public layers and writes its metrics as JSON (perfbench/README.md has
  * the workloads and the metric map). `run.py` builds and launches it. */
object Main {

  /** The serve_warm mix: 9 of the 39 headline keys of graft.Bench, across
    * search, watermark reads, dedup, text, TPC-H and events. The full
    * headline set does not fit a run: its cold setup pass alone takes over
    * a minute on four cores. */
  val Mix: Seq[String] = Seq(
    "vec_topk", "vec_topk_lsh", "vec_topk_ivf", "wm_extract", "dedup_exact",
    "dedup_minhash", "text_bm25", "q1_pricing", "events_sessions")

  /** The mix keys whose plans read a g_* artifact (the plan census of a
    * traced serve_warm run lists them): a refresh step re-runs exactly
    * these, so each first touch rebuilds for the new snapshot. */
  val RefreshKeys: Seq[String] = Seq("vec_topk_lsh", "vec_topk_ivf", "wm_extract",
    "dedup_minhash")

  /** Rounds of the mix serve_warm runs at least. */
  val MinRounds = 3
  /** Seeded variants of each attack per wm_cold job. */
  val AttackVariants = 2

  /** Every artifact the workloads build, for the per-artifact build
    * columns (each run reports all, 0 where it built none). */
  val Artifacts: Seq[String] = Seq("g_bkt", "g_knn", "g_indeg", "g_carriers",
    "g_stego", "g_ivf_ct", "g_ivf_asg", "g_pq_ct", "g_pq_codes", "g_bq",
    "g_mhsig", "g_mhpairs")
  val WmStages: Seq[String] = Artifacts.take(5)

  final case class Op(key: String, seconds: Double, ok: Boolean, hash: String,
                      rows: Int, census: Option[Census])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    // the JVM's own start, so setup_s covers JVM and session start too
    val jvmStartNs = System.nanoTime() - 1000000L * (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val work = new File(a("work")).getAbsoluteFile
    val cpus = a("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.graft.scratch", new File(work, "scratch-default").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = try {
      val b = new Bench(spark, a, work, cpus, jvmStartNs)
      if (a("mode") == "golden") b.golden() else b.run()
    } finally spark.stop()
    Files.writeString(Paths.get(a("out")), out)
  }
}

final class Bench(spark: SparkSession, a: Map[String, String], work: File,
                  cpus: Int, jvmStartNs: Long) {
  import Main._

  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val base = a("base")
  private val tracer = new Tracer(spark.sparkContext, traced)
  /** Each mix key's (rows, hash) on the base corpus. serve_warm and
    * refresh force it before their first op: a missing golden.json, or a
    * mix key without an entry in it, fails the run instead of leaving that
    * key unchecked. */
  private lazy val goldens: Map[String, (Int, String)] = {
    val path = a.getOrElse("golden", sys.error("no --golden file given"))
    val g = Json.goldens(Files.readString(Paths.get(path)))
    val missing = Mix.filterNot(g.contains)
    require(missing.isEmpty, s"$path has no answer for ${missing.mkString(", ")}")
    g
  }
  private val roots = mutable.ArrayBuffer.empty[File]
  private val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private def fail(msg: String): Unit = { failures.add(msg); () }
  /** (CRC-passing decodes, carriers decoded) per traced verify. */
  private val crc = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private def now = System.nanoTime()
  private def secs(t0: Long) = (now - t0) / 1e9

  /** A new session with its own empty scratch root under the run dir. */
  private def session(): SparkSession = synchronized {
    val root = new File(work, s"scratch-${roots.size}")
    roots += root
    val s = spark.newSession()
    s.conf.set("spark.graft.scratch", root.getAbsolutePath)
    s
  }

  private def register(s: SparkSession, dir: String): Unit =
    tracer.span("Tables.register")(Tables.register(s, dir))

  /** One query op: entry (render, ensure, analyze), plan, collect; then,
    * untimed, the answer's hash against `expect`. */
  private def query(s: SparkSession, dir: String, key: String, phase: String,
                    expect: Option[(Int, String)]): Op = {
    val t0 = now
    val op = tracer.span("op", "key" -> key, "phase" -> phase) {
      try {
        val df = tracer.span("SparkEntry.entry") {
          if (WmCache.dependents(key)) tracer.span("WmCache.ensure")(WmCache.ensure(s, dir))
          SparkEntry.queries(key)(s, dir)
        }
        tracer.span("planner.plan")(df.queryExecution.executedPlan)
        val rows = tracer.span("exec.run")(df.collect()).toSeq
        val sec = secs(t0)
        val h = Canon.hash(df.columns.toSeq, rows)
        val ok = expect.forall(_ == ((rows.size, h))) &&
          (key != "wm_extract" || decrypts(rows))
        if (!ok) fail(s"$key ($phase): got (${rows.size}, $h), expected $expect")
        Op(key, sec, ok, h, rows.size,
          if (traced) Some(Census.of(df.queryExecution.executedPlan)) else None)
      } catch {
        case e: Exception =>
          fail(s"$key ($phase): ${e.getClass.getSimpleName}: ${e.getMessage}")
          Op(key, secs(t0), ok = false, "", 0, None)
      }
    }
    println(f"[op] $phase%-6s $key%-24s ${op.seconds}%8.3f s ok=${op.ok}")
    op
  }

  /** wm_extract's (blk, bit_idx, bit, votes) rows decrypt to the message. */
  private def decrypts(rows: Seq[Row]): Boolean = {
    val bits = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    try Graft.assembleAndDecrypt(bits, Wm.Key) == Wm.Message
    catch { case _: Exception => false }
  }

  private def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

  private def deleteRec(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }

  // ---------------------------------------------------------------- workloads

  /** What a workload measured. `units` are its jobs (wm_cold), rounds
    * (serve_warm) or snapshot steps (refresh); `ops` its reads. */
  final case class Result(firstTimedNs: Long, units: Seq[Double], ops: Seq[Op],
                          wallS: Double, scratchBytes: Double, failedUnits: Int = 0)

  def run(): String = {
    val r = a("workload") match {
      case "wm_cold" => wmCold()
      case "serve_warm" => goldens; serveWarm()
      case "refresh" => goldens; refresh()
    }
    val peakRss = peakRssMb
    tracer.drain()
    roots.foreach(deleteRec)
    val attempted = r.units.size + r.failedUnits + r.ops.size
    val failed = r.ops.count(!_.ok) + r.failedUnits
    val opS = r.ops.map(_.seconds)
    val e2e = Seq(
      "setup_s" -> (r.firstTimedNs - jvmStartNs) / 1e9,
      "job_s" -> Stats.median(r.units),
      "op_p50_s" -> Stats.median(opS),
      "op_per_s" -> r.ops.size / r.wallS,
      "scratch_mb" -> r.scratchBytes / 1e6)
    val info = Seq("units" -> r.units.size.toDouble, "ops" -> r.ops.size.toDouble,
      "timed_wall_s" -> r.wallS, "peak_rss_mb" -> peakRss) ++
      Stats.tail(opS).toSeq.flatMap { case (p, v) => Seq("op_tail_pct" -> p, "op_tail_s" -> v) }
    if (traced) writeTrace(r)
    Json.obj(
      "correct" -> (failures.isEmpty && attempted > 0),
      "attempted" -> attempted, "failed" -> failed,
      "end_to_end" -> Json.metrics(e2e),
      "per_layer" -> Json.metrics(if (traced) perLayer(r, attempted, failed, peakRss) else Nil),
      "info" -> Json.metrics(info),
      "failures" -> failures.asScala.take(20).map(Json.str).mkString("[", ",", "]"))
  }

  /** serve_warm: one untimed pass over the mix builds every artifact,
    * then rounds until the run's seconds are spent (at least MinRounds).
    * In a round two closed-loop clients each run the whole mix in their
    * own seeded order on the shared session; the round ends when both are
    * done, so every timed op runs beside the other client. */
  private def serveWarm(): Result = {
    val s = session()
    tracer.span("setup") {
      register(s, base)
      Mix.foreach(k => query(s, base, k, "setup", Some(goldens(k))))
    }
    val orders = (0 until 2).map(c => new Random(seed * 1000 + c))
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val rounds = mutable.ArrayBuffer.empty[Double]
    val t0 = now
    do {
      val r0 = now
      val clients = orders.map { rnd =>
        val keys = rnd.shuffle(Mix)
        val t = new Thread(() => keys.foreach(k => ops.add(query(s, base, k, "timed", Some(goldens(k))))))
        t.start(); t
      }
      clients.foreach(_.join())
      rounds += secs(r0)
    } while (secs(t0) < seconds || rounds.size < MinRounds)
    Result(t0, rounds.toSeq, ops.asScala.toSeq, secs(t0), dirBytes(roots.last).toDouble)
  }

  /** refresh: snapshots land one by one (generated beforehand, untimed);
    * each step re-runs the artifact-reading keys on the new snapshot in
    * seeded order. Afterwards the last snapshot is recomputed in a fresh
    * session on a fresh scratch root, which catches stale artifacts. */
  private def refresh(): Result = {
    val snaps = a("snapshots").split(",").toSeq
    val s = session()
    tracer.span("setup") {
      register(s, base)
      RefreshKeys.foreach(k => query(s, base, k, "setup", Some(goldens(k))))
    }
    val setupBytes = dirBytes(roots.last)
    val steps = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Op]
    val rnd = new Random(seed)
    val t0 = now
    do {
      val dir = snaps(steps.size)
      val st = now
      tracer.span("step", "phase" -> "timed", "snapshot" -> new File(dir).getName) {
        register(s, dir)
        rnd.shuffle(RefreshKeys).foreach(k => ops += query(s, dir, k, "timed", None))
      }
      steps += secs(st)
    } while (secs(t0) < seconds && steps.size < snaps.size)
    val wall = secs(t0)
    val last = snaps(steps.size - 1)
    val fresh = session()
    val got = ops.takeRight(RefreshKeys.size).map(o => o.key -> (o.rows, o.hash)).toMap
    RefreshKeys.foreach(k => query(fresh, last, k, "check", got.get(k)))
    Result(t0, steps.toSeq, ops.toSeq, wall,
      (dirBytes(roots(0)) - setupBytes).toDouble / steps.size)
  }

  /** Seeded attacked copies of job `j`'s watermarked table `t`, at the
    * strengths of the engine's own attack queries: attack_gaussian (sigma
    * 0.1 on 30% of rows), attack_subset (10% deleted) and wm_ber_combo
    * (10% deleted, sigma 0.05 on 30% of the rest). */
  private def attacks(j: Int): Seq[(String, String)] =
    (0 until AttackVariants).flatMap { v =>
      val salt = s"$seed, $j, $v"
      def u(tag: String) = s"(pmod(xxhash64($salt, vec_id, i, '$tag'), 1000003) + 1) / 1000004.0"
      def gauss(tag: String) = s"sqrt(-2 * ln(${u(tag + "u")})) * cos(2 * pi() * ${u(tag + "v")})"
      def pick(tag: String, lt: Int) = s"pmod(xxhash64($salt, vec_id, '$tag'), 10) < $lt"
      def noise(sigma: String, tag: String) =
        s"case when ${pick(tag + "pick", 3)} then transform(embedding, (x, i) -> x + $sigma * ${gauss(tag)}) else embedding end"
      Seq(s"gaussian-$v" -> s"select vec_id, ${noise("0.1", "g")} as embedding from t",
        s"subset-$v" -> s"select vec_id, embedding from t where ${pick("keep", 9)}",
        s"combo-$v" -> s"select vec_id, ${noise("0.05", "c")} as embedding from t where ${pick("ckeep", 9)}")
    }

  /** One watermark job in a fresh session and scratch root: the embed
    * (ensure, write the watermarked table, save the carrier ids) is timed
    * as a unit; then each seeded attacked copy (a view over the written
    * table) is blind-recovered from the saved ids, one op each. */
  private def job(dir: String, j: Int, phase: String): (Double, Seq[Op]) = {
    val out = new File(work, s"job-$j")
    val stego = new File(out, "stego").getPath
    val ids = new File(out, "ids").getPath
    val t0 = now
    val s = tracer.span("job", "phase" -> phase, "dir" -> new File(dir).getName) {
      val s = session()
      register(s, dir)
      tracer.span("WmCache.ensure")(WmCache.ensure(s, dir))
      tracer.span("operators.write_stego")(Graft(s, dir).writeWatermarked(stego))
      tracer.span("operators.save_ids")(Backup.saveCarrierIds(s, dir, ids))
      s
    }
    val embedS = secs(t0)
    s.read.parquet(stego).createOrReplaceTempView("t")
    val ops = attacks(j).map { case (tag, sql) => verify(s, s.sql(sql), ids, tag, phase) }
    deleteRec(out)
    (embedS, ops)
  }

  /** One verify op: `Backup.recoverFromIds` over an attacked copy must
    * return the plaintext. A traced run then repeats the extract untimed,
    * outside the op, for the CRC votes and the decrypt's own time. */
  private def verify(s: SparkSession, v: DataFrame, ids: String, tag: String,
                     phase: String): Op = {
    val t0 = now
    val msg = tracer.span("verify", "attack" -> tag, "phase" -> phase) {
      try tracer.span("operators.recover")(Backup.recoverFromIds(v, ids))
      catch { case e: Exception => e.toString }
    }
    val sec = secs(t0)
    val ok = msg == Wm.Message
    if (!ok) fail(s"verify $tag ($phase): decrypted '$msg'")
    if (traced) tracer.span("verify_split", "attack" -> tag, "phase" -> "check") {
      val rows = Backup.extractFromIds(v, ids).collect()
      crc.add(rows.filter(_.getLong(1) == 0L).map(_.getLong(3)).sum ->
        s.read.parquet(ids).join(v, "vec_id").count())
      val bits = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      tracer.span("functions.decrypt")(
        try Graft.assembleAndDecrypt(bits, Wm.Key) catch { case e: Exception => e.toString })
    }
    Op("verify_" + tag, sec, ok, "", 1, None)
  }

  /** wm_cold: jobs on the seeded 10x replica until the run's seconds are
    * spent. There is no warm-up: like a submitted batch job, the first job
    * runs in a fresh JVM, so setup is JVM and session start alone. */
  private def wmCold(): Result = {
    val replica = a("replica")
    val jobs = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[Op]
    val scratch = mutable.ArrayBuffer.empty[Double]
    var failedJobs = 0
    val t0 = now
    do {
      try {
        val (e, vs) = job(replica, jobs.size + failedJobs, "timed")
        jobs += e
        ops ++= vs
        scratch += dirBytes(roots.last).toDouble
      } catch {
        case e: Exception =>
          fail(s"job: ${e.getClass.getSimpleName}: ${e.getMessage}")
          failedJobs += 1
      }
    } while (secs(t0) < seconds)
    Result(t0, jobs.toSeq, ops.toSeq, secs(t0), Stats.median(scratch.toSeq), failedJobs)
  }

  // ------------------------------------------------------------- per layer

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Each per-layer metric over the timed part of the run: layer call
    * times as the median per call, build and Spark-work counts per unit,
    * plan census counts as the mean per query op. */
  private def perLayer(r: Result, attempted: Int, failed: Int,
                       peakRss: Double): Seq[(String, Double)] = {
    val spans = tracer.all
    val timed = spans.filter(_.attrs.get("phase").contains("timed"))
    val timedIds = timed.map(_.id).toSet
    val topTimed = timed.filterNot(s => timedIds(s.parent))
    val under = topTimed.flatMap(tracer.subtree)
    def med(name: String) = Stats.median(under.filter(_.name == name).map(_.seconds))
    val n = math.max(1, r.units.size).toDouble
    val work = topTimed.flatMap(tracer.workUnder)
    def perUnit(f: StageWork => Double) = work.map(f).sum / n
    val builds = topTimed.flatMap(_.builds.toSeq)
    val census = r.ops.flatMap(_.census)
    def cmean(f: Census => Double) = if (census.isEmpty) 0.0 else census.map(f).sum / census.size
    val (crcPass, decoded) = crc.asScala.foldLeft((0L, 0L)) { case ((p, d), (a, b)) => (p + a, d + b) }
    Seq(
      "Tables.register_s" -> med("Tables.register"),
      "WmCache.ensure_s" -> med("WmCache.ensure"),
      "Scratch.build_s" -> builds.map(_._2).sum / n,
      "Scratch.builds" -> builds.size / n) ++
      Artifacts.map(x => s"Scratch.build_s.$x" -> builds.filter(_._1 == x).map(_._2).sum / n) ++
      Seq(
        "SparkEntry.entry_s" -> med("SparkEntry.entry"),
        "planner.plan_s" -> med("planner.plan"),
        "planner.nodes" -> cmean(_.nodes),
        "planner.exchanges" -> cmean(_.exchanges),
        "planner.scans" -> cmean(_.scanCount),
        "planner.repeat_scans" -> cmean(_.repeatScans),
        "exec.run_s" -> med("exec.run"),
        "exec.stages" -> work.size / n,
        "exec.tasks" -> perUnit(_.tasks.toDouble),
        "exec.task_s" -> perUnit(_.runS),
        "exec.cpu_s" -> perUnit(_.cpuS),
        "exec.gc_s" -> perUnit(_.gcS),
        "exec.task_skew" -> Stats.median(work.flatMap(_.skew)),
        "exec.input_mb" -> perUnit(_.inputBytes / 1e6),
        "exec.input_rows" -> perUnit(_.inputRows.toDouble),
        "exec.shuffle_write_mb" -> perUnit(_.shuffleWrite / 1e6),
        "exec.shuffle_read_mb" -> perUnit(_.shuffleRead / 1e6),
        "exec.spill_mb" -> perUnit(_.spill / 1e6),
        "exec.output_mb" -> perUnit(_.output / 1e6),
        "exec.core_busy" -> work.map(_.runS).sum / (r.wallS * cpus),
        "operators.write_stego_s" -> med("operators.write_stego"),
        "operators.save_ids_s" -> med("operators.save_ids"),
        "operators.recover_s" -> med("operators.recover"),
        // the untimed split pass after each verify (phase "check")
        "functions.decrypt_s" -> Stats.median(spans.filter(_.name == "functions.decrypt").map(_.seconds)),
        "functions.crc_pass_ratio" -> (if (decoded == 0) 0.0 else crcPass.toDouble / decoded),
        "failed_ratio" -> failed.toDouble / math.max(1, attempted),
        "jvm.peak_rss_mb" -> peakRss)
  }

  /** Writes the spans (self times, builds, Spark work), the plan census
    * per key and the watermark per-stage table to `trace-out`. */
  private def writeTrace(r: Result): Unit = {
    val spans = tracer.all
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val own = tracer.ownStages
    def work(ws: Seq[StageWork]) = Json.metrics(Seq(
      "stages" -> ws.size.toDouble, "tasks" -> ws.map(_.tasks).sum.toDouble,
      "task_s" -> ws.map(_.runS).sum, "input_mb" -> ws.map(_.inputBytes).sum / 1e6,
      "shuffle_write_mb" -> ws.map(_.shuffleWrite).sum / 1e6))
    val spanJson = spans.map { s =>
      Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> Json.str(s.name),
        "attrs" -> Json.strings(s.attrs.toSeq.sorted),
        "start_s" -> Json.num((s.startNs - t0) / 1e9), "seconds" -> Json.num(s.seconds),
        "self_s" -> Json.num(tracer.selfSeconds(s)),
        "builds" -> Json.metrics(s.builds.toSeq.sorted),
        "work" -> work(own.getOrElse(s.id, Nil)))
    }
    val census = r.ops.filter(_.census.isDefined).groupBy(_.key).toSeq.sortBy(_._1).map {
      case (k, os) =>
        val c = os.head.census.get
        k -> Json.obj("nodes" -> c.nodes, "exchanges" -> c.exchanges,
          "scans" -> c.scanCount, "repeat_scans" -> c.repeatScans,
          "scans_by_table" -> Json.metrics(c.scans.toSeq.sorted.map(kv => kv._1 -> kv._2.toDouble)),
          "median_s" -> Json.num(Stats.median(os.map(_.seconds))), "n" -> os.size)
    }
    // g_bkt -> ... -> g_stego build seconds, then recover and its decrypt,
    // median over the jobs on each corpus
    val stages = spans.filter(_.name == "job").groupBy(_.attrs("dir")).toSeq.sortBy(_._1).map {
      case (dir, jobs) =>
        val sub = jobs.flatMap(tracer.subtree)
        def med(name: String) = Stats.median(sub.filter(_.name == name).map(_.seconds))
        val verifies = spans.filter(s => s.name == "verify" || s.name == "verify_split")
          .flatMap(tracer.subtree)
        dir -> Json.metrics(WmStages.map(x => x -> Stats.median(jobs.map(_.builds.getOrElse(x, 0.0)))) ++
          Seq("WmCache.ensure" -> med("WmCache.ensure"),
            "operators.write_stego" -> med("operators.write_stego"),
            "operators.save_ids" -> med("operators.save_ids"),
            "operators.recover" -> Stats.median(verifies.filter(_.name == "operators.recover").map(_.seconds)),
            "functions.decrypt" -> Stats.median(verifies.filter(_.name == "functions.decrypt").map(_.seconds)),
            "jobs" -> jobs.size.toDouble))
    }
    val doc = Json.obj(
      "workload" -> Json.str(a("workload")), "seed" -> seed,
      "wm_stages" -> Json.obj(stages: _*),
      "census" -> Json.obj(census: _*),
      "spans" -> spanJson.mkString("[\n", ",\n", "\n]"))
    Files.writeString(Paths.get(a("trace-out")), doc)
  }

  // ------------------------------------------------------------- goldens

  /** Each mix key's answer on the base corpus and its DuckDB oracle SQL,
    * for golden.py to check and commit. */
  def golden(): String = {
    val s = session()
    val entries = Mix.map { k =>
      val op = query(s, base, k, "golden", None)
      k -> Json.obj("rows" -> op.rows, "hash" -> Json.str(op.hash),
        "oracle" -> Json.str(SparkEntry.oracleSql(k)))
    }
    roots.foreach(deleteRec)
    Json.obj(entries: _*)
  }
}

/** Minimal JSON writing, and reading of golden.json, so the benchmark
  * needs nothing beyond the engine's own classpath. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => "\\u%04x".format(c.toInt)
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  /** Values that are already JSON (strings from str/obj) pass through. */
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    str(k) + ":" + (v match {
      case s: String => s
      case d: Double => num(d)
      case other => other.toString
    })
  }.mkString("{", ",", "}")
  def metrics(kv: Seq[(String, Double)]): String = obj(kv: _*)
  def strings(kv: Seq[(String, String)]): String = obj(kv.map(p => p._1 -> str(p._2)): _*)

  /** key -> (rows, hash) from golden.json's {"key": {"hash": h, "rows": n}}. */
  def goldens(text: String): Map[String, (Int, String)] = {
    val re = ("\"([a-z0-9_]+)\"\\s*:\\s*\\{\\s*\"hash\"\\s*:\\s*\"([0-9a-f]+)\"\\s*,\\s*" +
      "\"rows\"\\s*:\\s*(\\d+)\\s*\\}").r
    re.findAllMatchIn(text).map(m => m.group(1) -> (m.group(3).toInt, m.group(2))).toMap
  }
}
