package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sqlgen.{DuckDialect, Gen, SparkDialect}
import graft.operators.PcaSolve

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator
  * inventory behind each query key. */
object SparkEntry {
  // Spark rendering reads every kept g_* artifact from its view (Gen
  // declares them, WmCache builds what a statement names, Scratch keeps
  // them); the DuckDB oracle always renders the full inline chain.
  //
  // The Spark side derives its LSH plane count from the corpus size
  // (the §4 sizing formula, wired into the entrypoint): at the
  // verify/smoke SFs lshPlanesFor(N) floors at the static default, so
  // the rendering is IDENTICAL to the static oracle there — the
  // driver's sf0.01 hash compare is unaffected — while larger corpora
  // (the sf0.1 bench, any production dir) get right-sized buckets
  // instead of ever-fatter ones.
  private val sparkGens =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Gen]()
  private def genFor(planes: Int, bands: Int, l1j: Int): Gen =
    sparkGens.computeIfAbsent((planes, bands, l1j), { case (p, b, j) =>
      new Gen(SparkDialect, useViews = true, lshPlanes = p, simhashBands = b,
        l1Hashes = j) })

  /** The Spark rendering for `dir`'s corpus — also the one WmCache
    * builds `dir`'s artifacts from, so the g_* views and every query
    * reading them agree on the bucket layout. */
  private[graft] def sparkGenFor(s: SparkSession, dir: String): Gen = {
    val planes = graft.sqlgen.Wm.lshPlanesFor(Tables.vectorCount(s, dir))
    // the doc-side analog: the SimHash band split widens once the
    // corpus outgrows the 5×12 geometry (~82k docs) — §4's band
    // ladder, wired into the entrypoint exactly like the plane count.
    // At the verify/smoke/bench SFs simhashBandsFor floors at the
    // static default, so the oracle renderings are unaffected.
    val bands = graft.sqlgen.Wm.simhashBandsFor(Tables.docCount(s, dir))
    // the L1 rung's AND-construction depth (r11): grows past ~45k
    // vectors, floors at the static default below
    val l1j = graft.sqlgen.Wm.l1HashesFor(Tables.vectorCount(s, dir))
    genFor(planes, bands, l1j)
  }
  /** The Spark rendering at the static default geometry (what every
    * verify-scale corpus gets from [[sparkGenFor]]). */
  private[graft] lazy val sparkGen: Gen = genFor(
    graft.sqlgen.Wm.LshPlanes, graft.sqlgen.Wm.SimhashBands, 2)
  private lazy val duckGen  = new Gen(DuckDialect)

  /** `sql` as a DataFrame over `dir`'s tables, after ensuring every
    * artifact it reads. */
  private def sqlOn(s: SparkSession, dir: String, sql: String): DataFrame = {
    Tables.register(s, dir)
    WmCache.ensureReads(s, dir, sql)
    s.sql(sql)
  }

  /** Flagship: watermark recall-impact pipeline (LSH buckets → kNN graph
    * → in-degree carrier selection → QIM embed → top-k recall overlap)
    * on sf0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    queries("wm_recall_impact")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2: the
    * generated Spark rendering of every key, except the few whose
    * Spark side runs JVM code (decoders, driver math); their oracle SQL
    * lives next to the operator or in the generator. Every entry
    * ensures the g_* artifacts its statements read, and no others. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    sparkGen.keys.map { name =>
      name -> ((s: SparkSession, dir: String) => sqlOn(s, dir, sparkGenFor(s, dir).sql(name)))
    }.toMap ++ programmatic

  private lazy val programmatic: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](
      // real WAV decode (synthesize → encode → chunk-walk parse → stats)
      "multimodal_wav_stats" -> ((s, dir) => graft.operators.Wav.wavStats(s, dir)),
      // real audio FEATURE extraction over the decoded PCM payload
      // (ZCR / energy / Walsh sequency correlates — exact integers)
      "multimodal_wav_features" -> ((s, dir) => graft.operators.Wav.wavFeatures(s, dir)),
      // real BMP decode (render embeddings → encode → header/row parse)
      "multimodal_bmp_stats" -> ((s, dir) => graft.operators.Bmp.bmpStats(s, dir)),
      // real image FEATURE extraction over the decoded pixels
      // (gradients / checkerboard Walsh / brightness — exact integers,
      // each sensitive to a different aspect of decode order)
      "multimodal_bmp_features" -> ((s, dir) => graft.operators.Bmp.bmpFeatures(s, dir)),
      // real PNG decode (render → deflate-encode → chunk/CRC/unfilter parse)
      "multimodal_png_stats" -> ((s, dir) => graft.operators.Png.pngStats(s, dir)),
      // perceptual-hash IMAGE DEDUP over the decoded pixels (dHash
      // gradient-sign bits → banded near-dup census)
      "multimodal_image_dhash" -> ((s, dir) => graft.operators.Bmp.imageDhash(s, dir)),
      // real image RESIZE over the decoded pixels (2x2 box downsample
      // -> integer features over the 4x4 thumbnail)
      "multimodal_bmp_resize" -> ((s, dir) => graft.operators.Bmp.bmpResize(s, dir)),
      // perceptual AUDIO-FINGERPRINT dedup over the decoded PCM
      // (frame-energy delta bits → exact collision census)
      "multimodal_audio_fp" -> ((s, dir) => graft.operators.Wav.audioFingerprint(s, dir)),
      // removal-effect attribution: the journey pass (lag windows over
      // the events scan) is the only corpus-priced work and runs once
      // per session/dir; the 8-step × 5-variant power iteration is
      // BOUNDED driver math over the collected ≤ |event_types|²-row
      // transition census (the Pca/Mds convention — 40 tiny shuffled
      // aggregations cost ~4 s of pure exchange latency for ≤ 35 live
      // state rows; the driver does the same exact integer arithmetic
      // in microseconds). The oracle re-derives the identical ppm
      // iteration in pure SQL (markovAttributionSql), so the hash
      // match pins the driver math to the SQL rendering.
      "events_attribution_markov" -> ((s, dir) => {
        val tr = WmCache.artifact(s, dir, "g_markov_trans")
        val trans = tr.collect().map(r => (r.getAs[String]("src"),
          r.getAs[String]("dst"), r.getAs[Long]("c")))
        val outc = trans.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._3).sum }
        val ppm = trans.map { case (src, dst, c) => (src, dst, c * 1000000L / outc(src)) }
        def conv(removed: Option[String]): (Long, Long) = {
          val vt = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
          ppm.foreach { case (src, dst, p) =>
            if (!removed.contains(src))
              vt((src, if (removed.contains(dst)) "null" else dst)) += p
          }
          vt(("purchase", "purchase")) += 1000000L
          vt(("null", "null")) += 1000000L
          var st = Map("start" -> 1000000000000L).withDefaultValue(0L)
          for (_ <- 1 to 8) {
            val nx = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
            vt.foreach { case ((a, b), p) => if (st(a) != 0L) nx(b) += st(a) * p / 1000000L }
            st = nx.toMap.withDefaultValue(0L)
          }
          (st("purchase"), st("purchase") + st("null"))
        }
        val (fullP, fullAb) = conv(None)
        val chans = Seq("view", "click", "signup", "error")
        val effs = chans.map(c => c -> (1.0 - conv(Some(c))._1.toDouble / fullP))
        val sEff = effs.map(_._2).sum
        def r(x: Double, dec: Int) = PcaSolve.roundAway(x, dec)
        import s.implicits._
        effs.map { case (c, eff) =>
          (c, r(fullP / 1e12, 6), r(conv(Some(c))._1 / 1e12, 6), r(eff, 6),
            r(eff / sEff, 4), r(1.0 - fullAb / 1e12, 6))
        }.toDF("channel", "conv_full", "conv_removed", "removal_effect",
          "attribution", "mass_unabsorbed")
      }),
      // stationary distribution of the raw event-type chain: the
      // transition census (the only corpus-priced pass) is
      // scratch-materialized once per (session, dir); the 8-step
      // power iteration is BOUNDED driver math over the collected
      // ≤ |event_types|²-row matrix (the attribution convention —
      // ~17 tiny shuffled aggregations would cost ~2 s of pure
      // exchange latency for 25 live rows; the driver does the same
      // exact integer arithmetic in microseconds). The oracle
      // re-derives the identical ppm iteration in pure SQL
      // (markovStationarySql), pinning the driver math op for op.
      "events_markov_stationary" -> ((s, dir) => {
        val tr = WmCache.artifact(s, dir, "g_type_trans")
        val trans = tr.collect().map(r => (r.getAs[String]("src"),
          r.getAs[String]("dst"), r.getAs[Long]("c")))
        val outc = trans.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._3).sum }
        val ppm = trans.map { case (a, b, c) => (a, b, c * 1000000L / outc(a)) }
        val k = outc.size.toLong
        var st: Map[String, Long] =
          outc.keys.map(_ -> 1000000000000L / k).toMap.withDefaultValue(0L)
        var prev = st
        for (_ <- 1 to 8) {
          prev = st
          val nx = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
          ppm.foreach { case (a, b, p) => if (st.contains(a)) nx(b) += st(a) * p / 1000000L }
          st = nx.toMap.withDefaultValue(0L)
        }
        val total = outc.values.sum
        def r6(x: Double) = PcaSolve.roundAway(x, 6)
        import s.implicits._
        outc.toSeq.map { case (state, n) =>
          (state, n, r6(n.toDouble / total),
            r6(st.getOrElse(state, 0L) / 1e12), r6(prev.getOrElse(state, 0L) / 1e12),
            r6(math.abs(st.getOrElse(state, 0L) - prev.getOrElse(state, 0L)) / 1e12))
        }.toDF("state", "n_out_transitions", "occupancy",
          "pi_stationary", "pi_prev_step", "step_delta")
      }),
      // the in-SQL power-iteration eigensolve mirrored in the JVM
      // (operators.PcaSolve — the bounded-driver-math convention of
      // events_attribution_markov): ONE 44-aggregate corpus pass
      // (Gen.pcaMomentsSql) collects the 8×8 moment row; the C⁴ power
      // iterations, Rayleigh quotients, and deflation run as exact
      // IEEE-ordered driver math; the DuckDB oracle still renders the
      // full ~50-stage SQL chain, so the hash match pins the mirror
      // op for op. Replaces the two slowest gate keys' 1-row
      // HashAggregate chains (pure exchange latency, 4.9 s + 3.1 s).
      "pca_variance_explained" -> ((s, dir) => {
        val e = pcaEig(s, dir)
        def r6(x: Double) = PcaSolve.roundAway(x, 6)
        def r4(x: Double) = PcaSolve.roundAway(x, 4)
        import s.implicits._
        Seq(
          ("pc1", r6(e.lam1), r4(e.lam1 / e.tr), r4(e.lam1 / e.tr), r6(e.tr)),
          ("pc2", r6(e.lam2), r4(e.lam2 / e.tr), r4((e.lam1 + e.lam2) / e.tr), r6(e.tr)),
          ("residual", r6(e.tr - e.lam1 - e.lam2), r4((e.tr - e.lam1 - e.lam2) / e.tr),
            r4(1.0), r6(e.tr)))
          .toDF("component", "lambda", "explained_share",
            "cum_explained_share", "total_variance")
      }),
      // same solve; the projection itself stays a MAP-ONLY corpus scan
      // with the solved axes as exact double literals (shortest repr
      // round-trips bit-exactly through cast-as-double) — identical
      // per-row arithmetic to the generated SQL's final select
      "pca_project2d" -> ((s, dir) => {
        val e = pcaEig(s, dir)
        // sign convention: first component of each axis made positive;
        // ±1 multiplies are exact, but the m1/m2 term order follows
        // the SQL: ((mu_i · ev_i) · sgn), summed left-to-right
        val sg1 = if (e.ev(0) < 0) -1.0 else 1.0
        val sg2 = if (e.v2(0) < 0) -1.0 else 1.0
        val w1 = e.ev.toSeq.map(_ * sg1)
        val w2 = e.v2.toSeq.map(_ * sg2)
        var m1 = 0.0; var m2 = 0.0
        (0 until PcaSolve.Dim).foreach { i =>
          m1 += e.mu(i) * e.ev(i) * sg1
          m2 += e.mu(i) * e.v2(i) * sg2
        }
        sqlOn(s, dir, sparkGen.pcaProjectSql(w1, w2, m1, m2))
      }),
      // same solve again; the residual pass is a MAP-ONLY corpus scan
      // with the solved means/axes as exact double literals + one
      // rollup (pcaResidualLiteralSql) — identical per-row arithmetic
      // to the oracle's rendering by shared template construction.
      // Sign fix matches pca_project2d (residual² is sign-invariant,
      // but the rendered text must match the oracle's op for op).
      "vec_pca_residual" -> ((s, dir) => {
        val e = pcaEig(s, dir)
        val sg1 = if (e.ev(0) < 0) -1.0 else 1.0
        val sg2 = if (e.v2(0) < 0) -1.0 else 1.0
        sqlOn(s, dir, sparkGen.pcaResidualLiteralSql(e.mu.toSeq,
          e.ev.toSeq.map(_ * sg1), e.v2.toSeq.map(_ * sg2)))
      }),
      // landmark-MDS 2-D layout (§2 row 21i), the JVM-mirror half of
      // the vec_mds2d oracle chain: collect the 32 PRF-ranked landmark
      // rows (bounded — m is a constant), fold their 8×8 moment row in
      // the SQL rendering's exact left-to-right order, run the SAME
      // PcaSolve eigensolve the chain renders (landmark-MDS ≡ PCA of
      // the landmark set — mdsSt0Cte's derivation), and project the
      // corpus map-only with the solved axes as exact double literals.
      "vec_mds2d" -> ((s, dir) => {
        val rows = sqlOn(s, dir, sparkGen.mdsLandmarksSql).collect()
        require(rows.length == graft.sqlgen.Wm.MdsLandmarks,
          s"need ${graft.sqlgen.Wm.MdsLandmarks} landmarks, got ${rows.length}")
        val xs = rows.map(_.getSeq[Double](1).toArray)
        val m = xs.length
        // moments in the pivot's pinned order: ((x1 + x2) + x3) … / 32
        // (0.0 + x1 == x1 exactly, so the JVM fold matches the SQL's
        // first-term start; /32 is a power-of-two divide — exact)
        def mom(f: Array[Double] => Double): Double = {
          var t = 0.0; var k = 0
          while (k < m) { t += f(xs(k)); k += 1 }
          t / m
        }
        val a = Array.tabulate(PcaSolve.Dim)(i => mom(x => x(i)))
        val e = PcaSolve.solve(a, (i, j) => mom(x => x(i) * x(j)))
        val sg1 = if (e.ev(0) < 0) -1.0 else 1.0
        val sg2 = if (e.v2(0) < 0) -1.0 else 1.0
        val w1 = e.ev.toSeq.map(_ * sg1)
        val w2 = e.v2.toSeq.map(_ * sg2)
        var m1 = 0.0; var m2 = 0.0
        (0 until PcaSolve.Dim).foreach { i =>
          m1 += e.mu(i) * e.ev(i) * sg1
          m2 += e.mu(i) * e.v2(i) * sg2
        }
        sqlOn(s, dir, sparkGen.mdsProjectSql(w1, w2, m1, m2))
      }))

  /** Collect the one st0 moment row and run the JVM eigensolve. */
  private def pcaEig(s: SparkSession, dir: String): PcaSolve.Eig = {
    val row = sqlOn(s, dir, sparkGen.pcaMomentsSql).collect()(0)
    val a = Array.tabulate(PcaSolve.Dim)(i => row.getAs[Double](s"a${i + 1}"))
    PcaSolve.solve(a, (i, j) => row.getAs[Double](s"m${i + 1}_${j + 1}"))
  }

  /** DuckDB-runnable oracle SQL, generated from the same templates.
    * Every rendering passes through DuckHints.materialize — DuckDB 1.0
    * re-evaluates multi-referenced CTEs per reference, which made the
    * heaviest wm oracles minutes each (sqlgen.DuckHints). */
  def oracleSql: Map[String, String] = rawOracleSql.view
    .mapValues(graft.sqlgen.DuckHints.materialize).toMap

  private def rawOracleSql: Map[String, String] =
    duckGen.keys.map(k => k -> duckGen.sql(k)).toMap ++
      Map("multimodal_wav_stats" -> graft.operators.Wav.wavStatsOracleSql,
        "multimodal_wav_features" -> graft.operators.Wav.wavFeaturesOracleSql,
        "multimodal_bmp_stats" -> graft.operators.Bmp.bmpStatsOracleSql,
        "multimodal_bmp_features" -> graft.operators.Bmp.bmpFeaturesOracleSql,
        "multimodal_bmp_resize" -> graft.operators.Bmp.bmpResizeOracleSql,
        "multimodal_png_stats" -> graft.operators.Png.pngStatsOracleSql,
        "multimodal_image_dhash" -> graft.operators.Bmp.imageDhashOracleSql,
        "multimodal_audio_fp" -> graft.operators.Wav.audioFingerprintOracleSql)
}
