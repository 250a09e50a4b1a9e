package graft

/** Driver-run benchmark. Round-8 contract: the runner is WALL-CLOCK
  * BUDGETED and FAILS OPEN — whatever the harness's timeout is, the
  * last stdout line is always a complete, parseable headline JSON
  * line covering every key measured so far:
  *
  *  - a COVERAGE sweep runs every key once, cheapest-first (last
  *    round's bench_full.json costs via GateCosts), so a kill leaves
  *    the maximal measured prefix;
  *  - budget-bounded REFINEMENT passes then re-measure
  *    most-expensive-first with warm medians — the remaining budget
  *    goes to the keys that dominate the total (and whose coverage
  *    number carries the largest first-touch bias);
  *  - a parseable cumulative headline line prints every 25 keys and
  *    after every completed sweep — the harness parses the FINAL
  *    line of the stdout tail, so a kill at any point still yields
  *    the last checkpoint instead of `parsed: null` (round 7's
  *    failure mode: rc 124 with an unparseable partial tail).
  *
  * Budget: SPARK_GRAFT_BUDGET seconds (default 570 — under any
  * plausible 10-minute harness cap), measured from JVM entry.
  */
object Bench {
  private def timeSec(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** One-line protocol descriptor published with every result set, so
    * round-over-round totals are comparable like-for-like (r8's +17.5%
    * common-key drift was protocol-shaped but unprovable as such:
    * nothing recorded how many reps each number came from). */
  private val Protocol =
    "coverage:warm1x1 cheapest-first; refine:expensive-first warm median-of-reps; result=min over all timed runs; per-key stats=[min,median,reps]; builds=per-artifact cold build seconds actually paid this run (scratch hits pay none — r12 verdict item 2)"

  def main(args: Array[String]): Unit = {
    val tEntry = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - tEntry) / 1e9
    // the published `builds` cover this run's dir only, whatever this
    // JVM built before
    Scratch.buildLog.clear()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val budget = sys.env.getOrElse("SPARK_GRAFT_BUDGET", "570").toDouble
    val priorCosts = GateCosts.load()
    val spark = DevSession()
    spark.sparkContext.setLogLevel("WARN")
    // what failed, by step (key name, "warmup", "wm_chain_build"): a
    // failure must not read as a fast key, so each one lands in
    // bench_full.json's "failures" (last message per step)
    val failures = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def attempt(step: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        failures.put(step, s"${e.getClass.getSimpleName}: ${e.getMessage}"): Unit }
    // untimed warmup: table registration, parquet footers, first
    // codegen — standard practice so query timings measure queries
    attempt("warmup")(SparkEntry.queries("vec_dim")(spark, sfDir).count(): Unit)
    // every declared artifact (the wm chain, the ANN indexes, every kept
    // table a key reads) is built and timed as its own entry, so its one-off cost is visible instead
    // of landing on whichever key happens to read it first (the per-query
    // medians then measure the steady-state plans the cache exists to
    // enable)
    val chainSec = timeSec(attempt("wm_chain_build")(WmCache.ensureAll(spark, sfDir)))
    def r3(v: Double) = math.round(v * 1000) / 1000.0

    val keys = GateCosts.cheapestFirst(SparkEntry.queries.keys, priorCosts)
    val nKeys = keys.size
    def runOnce(name: String): Unit =
      attempt(name)(SparkEntry.queries(name)(spark, sfDir).count(): Unit)
    // every TIMED run of every key, in order — the published per-key
    // stats (min / median / reps) are derived from this one log, so
    // the driver and builder emit the same schema by construction
    var runLog = Map.empty[String, List[Double]].withDefaultValue(Nil)
    def timedRun(name: String): Double = {
      val s = timeSec(runOnce(name))
      runLog += name -> (s :: runLog(name))
      s
    }
    def medianOf(name: String, nReps: Int, warm: Boolean): Double = {
      if (warm) runOnce(name) // warmup, untimed
      val runs = Seq.fill(nReps)(timedRun(name)).sorted
      runs(runs.length / 2)
    }

    def json(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val headlineKeys = Seq("wm_chain_build", "wm_recall_impact", "wm_embed",
      "wm_extract", "wm_ber", "wm_knn_edges", "vec_topk", "vec_topk_lsh",
      "vec_topk_ivf", "vec_topk_pq", "vec_topk_ivf_pq_rerank",
      "vec_topk_binary", "vec_topk_graph", "vec_append", "index_catalog",
      "vec_topk_filtered_lsh", "dedup_exact",
      "dedup_minhash", "dedup_simhash_pairs", "dedup_jaccard",
      "dedup_embedding", "dedup_semantic", "dedup_components",
      "decontaminate", "text_tfidf", "text_bm25", "text_chunk",
      "pack_sequences", "search_hybrid_rrf", "pca_project2d",
      "sketch_distinct", "q1_pricing", "q3_revenue", "q5_nation_rev",
      "q_window_topn", "events_sessions", "events_windowed",
      "events_asof", "events_retention", "ann_recall_eval")
    // the cumulative fail-open checkpoint: complete, parseable, and
    // self-describing (n_queries = keys measured so far). The harness
    // keeps only the last ~2 KB of stdout and parses the final line,
    // so the headline subset + total is sized to survive the tail
    // capture whole; the full per-key map goes on '#'-prefixed lines
    // and into bench_full.json.
    def checkpoint(results: Map[String, Double], sweep: Int): Unit = {
      val all = results + ("wm_chain_build" -> chainSec)
      val total = r3(results.values.sum + chainSec)
      val hl = headlineKeys.flatMap(k => all.get(k).map(k -> _))
      println(s"""{"queries":${json(hl)},"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"sweep":$sweep,"protocol":"min","sf":"$sfDir"}""")
      System.out.flush()
    }
    // per-key evidence: [min, median, reps] over EVERY timed run of the
    // key (coverage + all refinement reps). The published number stays
    // the min; the median+reps pin how it was produced, so a
    // round-over-round total diff can condition on like reps (the
    // r8-verdict protocol-comparability item).
    def statsJson: String = runLog.toSeq.sortBy(_._1).map { case (k, runs) =>
      val sorted = runs.sorted
      val med = sorted(sorted.length / 2)
      "\"" + k + "\":[" + r3(sorted.head) + "," + r3(med) + "," + runs.length + "]"
    }.mkString("{", ",", "}")
    def writeFull(results: Map[String, Double]): Unit = {
      val all = results + ("wm_chain_build" -> chainSec)
      val total = r3(results.values.sum + chainSec)
      // diagnostics to STDERR: the harness parses the FINAL stdout
      // line, so stdout carries only checkpoint JSON lines (the r8
      // ADVICE point — a '#full'/'#warn' tail line reproduces the
      // r7 'parsed: null' failure mode under a wall-clock kill)
      System.err.println("#full " + json(all))
      // per-artifact build seconds this run actually paid (r12 verdict
      // item 2 — the measurement-honesty column: a warm scratch pays
      // none and the map is empty; a cold/invalidated scratch shows
      // each g_* build as its own number, the wm_chain_build precedent
      // generalized). bench_full.json only — the stdout checkpoint
      // line is unchanged, so the driver's parser sees the same shape.
      val builds = Scratch.buildSeconds
      val buildsJson = s""","builds":${json(builds.toSeq.sortBy(_._1))},"builds_total":${r3(builds.values.sum)}"""
      import scala.jdk.CollectionConverters._
      val failuresJson = failures.asScala.toSeq.sortBy(_._1)
        .map { case (k, m) => Verify.jsonString(k) + ":" + Verify.jsonString(m) }.mkString(""","failures":{""", ",", "}")
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_full.json"),
        s"""{"queries":${json(all)},"stats":$statsJson$buildsJson$failuresJson,"protocol":${"\"" + Protocol + "\""},"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"sf":"$sfDir"}""")
      catch { case e: Throwable =>
        // a silent failure would leave a stale file that reads as current
        System.err.println(s"#warn bench_full.json write failed: ${e.getMessage}") }
    }

    // ---- sweep 1 (COVERAGE): warmup + one timed run per key,
    // cheapest-first — every key gets a number early, so a kill
    // leaves the maximal measured prefix, and the untimed warmup
    // absorbs first-touch costs (codegen compile, broadcast build,
    // scratch build) that would otherwise inflate the published
    // number several-fold on cheap keys. Past 55% of budget the
    // warmups drop for the REMAINING keys (cheapest-first puts the
    // expensive keys there — exactly the keys whose first-touch
    // fraction is smallest AND which the refinement pass below
    // re-measures warm first).
    var med1 = Map.empty[String, Double]
    var warmed = Set.empty[String]
    keys.zipWithIndex.foreach { case (name, i) =>
      if (elapsed < 0.55 * budget) { runOnce(name); warmed += name }
      else if (warmed.size == i)
        System.err.println(s"#warn coverage warmups dropped at key $i/$nKeys (${r3(elapsed)}s)")
      med1 += name -> timedRun(name)
      // cheap keys take their SECOND timed rep immediately (sub-second
      // by their first run, warmest possible, bounded by the coverage
      // cost itself — the first timed touch of a cheap key routinely
      // reads 2-5× its warm floor, which is exactly the artifact) —
      // the ≥2-reps guarantee can then never depend on the refinement
      // passes reaching the tail before the budget runs out. This
      // removes the r9 artifact class where 56 cheap keys published
      // single-touch coverage numbers that read as >2× regressions
      // (r9 verdict item 4: no [_, _, 1] stats rows for cheap keys).
      if (med1(name) < 1.0 && elapsed < budget - 10)
        med1 += name -> math.min(med1(name), timedRun(name))
      if ((i + 1) % 25 == 0 && i + 1 < nKeys) checkpoint(med1, 1)
    }
    writeFull(med1)
    checkpoint(med1, 1)

    // ---- refinement passes (ACCURACY, budget-bounded): re-measure
    // MOST-EXPENSIVE-FIRST — the keys that dominate the published
    // total are exactly the ones whose sweep-1 number carries the
    // largest first-touch bias, so the remaining budget goes there
    // first; cheap keys left unrefined keep their (small) sweep-1
    // numbers. Warm median of `reps` for keys ≥ 0.2 s, 1 rep below
    // (noise-dominated anyway); result = min(sweep1, refined): both
    // measurements of the same plan, and ambient load only ever ADDS
    // time (observed: driver 119.4 s vs 82.6 s idle, same code), so
    // the smaller is the better steady-state estimate. A SECOND
    // refinement pass runs if budget remains — the load-robust
    // re-measure minutes later that r6 asked for. Every timed run
    // lands in bench_full.json "stats" as [min, median, reps] so the
    // min is auditable (its residual downward bias under pure iid
    // noise is bounded by the published min-vs-median gap, and a
    // reader can take the median instead).
    val passes = sys.env.getOrElse("SPARK_GRAFT_REFINE_PASSES", "2").toInt
    var refined = Map.empty[String, Double]
    def best(k: String) = math.min(med1(k), refined.getOrElse(k, med1(k)))
    var pass = 1
    var stopped = false
    while (pass <= passes && !stopped) {
      val order = keys.sortBy(k => -best(k))
      var i = 0
      var skippedKeys = 0
      while (i < order.length && !stopped) {
        val name = order(i)
        val nReps = if (best(name) >= 0.2) reps else 1
        if (elapsed > budget - 10) {
          stopped = true
          System.err.println(s"#warn refinement pass $pass stopped at key $i/$nKeys (${r3(elapsed)}s of ${r3(budget)}s budget)")
        } else if (elapsed + best(name) * nReps * 1.2 > budget - 10) {
          // SKIP an oversized key instead of halting the pass: the
          // order is most-expensive-first, so the keys after this one
          // are cheaper and may still fit — halting here was what left
          // the sub-second tail at reps=1 in the r9 driver artifact
          // (56 phantom >2× readings, all single-touch; r9 verdict
          // item 4: every key gets ≥ 2 timed runs within the budget)
          skippedKeys += 1
          i += 1
        } else {
          val m = medianOf(name, nReps, warm = false)
          refined += name -> math.min(m, refined.getOrElse(name, m))
          if ((i + 1) % 25 == 0)
            checkpoint(keys.map(k => k -> best(k)).toMap, pass + 1)
          i += 1
        }
      }
      if (skippedKeys > 0)
        System.err.println(s"#warn refinement pass $pass skipped $skippedKeys oversized keys (${r3(elapsed)}s of ${r3(budget)}s budget)")
      pass += 1
    }
    val results = keys.map(k => k -> best(k)).toMap
    writeFull(results)
    // stop BEFORE the parsed line so no shutdown logging can trail it:
    // the harness keeps the last ~2 KB of stdout and parses the final
    // line as JSON
    spark.stop()
    checkpoint(results, pass - 1)
  }
}
