package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp
import graft.operators.PcaSolve.{roundAway, sparkRound}

/** Structured Streaming operators over the `events` shape
  * (ts timestamp, user_id long, event_type string, value double).
  *
  * The batch analogs are `events_windowed` / `events_sessions` in the
  * oracle-checked corpus; these run the same logic incrementally with
  * event-time watermarks, so at 100 TB/day the state store holds only
  * the open windows / sessions, not history.
  */
object Streams {

  /** Tumbling 1h event-time window per event_type, 1h watermark for
    * late data — the streaming form of `events_windowed`. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))

  /** In-stream exact dedup: drop repeated event_ids, bounding state by
    * the event-time watermark (the streaming form of `dedup_exact` —
    * at 100 TB/day the state store holds one key per id inside the
    * watermark horizon only). */
  def dedupStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour").dropDuplicates("event_id")

  case class Decoded(vecId: Long, blk: Int, bits: Array[Int])

  /** Streaming blind watermark extraction: (ts, vec_id, pos, sval)
    * cells arrive in any order and any batch split; per-vector state
    * assembles the 64 dims, and a completed vector is CRC-gated and
    * decoded immediately (graft.functions.WmDecode — identical math to
    * the batch SQL extract). State is O(open vectors); the tiny
    * majority-vote tail stays a batch aggregation downstream.
    *
    * Vectors that never complete (deletion/truncation attacks drop
    * cells) expire via EVENT-time timeout `incompleteTimeout` past the
    * stream's watermark — not processing-time: a processing-time
    * timeout makes every micro-batch schedule a successor (the wall
    * clock always advances, so shouldRunAnotherBatch never goes false),
    * which both spins empty batches at idle and hangs
    * processAllAvailable-style drains. Event-time timeouts fire only
    * when arriving data moves the watermark — O(open vectors) state
    * with zero idle work. */
  def extractStream(cells: Dataset[(Timestamp, Long, Int, Double)],
                    incompleteTimeoutMs: Long = 3600L * 1000,
                    params: graft.sqlgen.WmParams = graft.sqlgen.WmParams.Default)
      : Dataset[Decoded] = {
    import cells.sparkSession.implicits._
    cells
      .withWatermark("_1", s"$incompleteTimeoutMs milliseconds")
      .groupByKey(_._2)
      .flatMapGroupsWithState[Map[Int, Double], Decoded](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (vecId, it, state: GroupState[Map[Int, Double]]) =>
          if (state.hasTimedOut) {
            // vector never completed — expire the partial state
            // instead of leaking it
            state.remove(); Iterator.empty
          } else {
            var m = state.getOption.getOrElse(Map.empty[Int, Double])
            var maxTs = Long.MinValue
            it.foreach { case (ts, _, pos, sval) =>
              m += pos -> sval
              maxTs = math.max(maxTs, ts.getTime)
            }
            if (m.size >= graft.sqlgen.Wm.Dim) {
              state.remove()
              val vals = Array.tabulate(graft.sqlgen.Wm.Dim)(i => m(i + 1))
              graft.functions.WmDecode.decode(vals, params.key, params.delta)
                .map { case (blk, bits) => Decoded(vecId, blk, bits) }
                .iterator
            } else {
              state.update(m)
              // anchor the expiry to this vector's newest EVENT time
              // (never the batch's watermark: during the first batch
              // the watermark is still epoch 0, and an expiry computed
              // from it would be immediately due once real event times
              // advance it — expiring every in-flight vector)
              state.setTimeoutTimestamp(
                math.max(maxTs, state.getCurrentWatermarkMs() + 1) + incompleteTimeoutMs)
              Iterator.empty
            }
          }
      }
  }

  /** REGISTRY-PATH streaming extraction — the streaming twin of
    * `wm_extract_ids` (and of `wm_audit_curve`'s registry rung, the
    * 0-error audit path): the persisted carrier-id registry rides
    * along as a broadcast set, so the cell stream is filtered MAP-SIDE
    * before any state allocates — per-vector assembly state is
    * O(open carriers), not O(open corpus), and no non-carrier can
    * chance-pass the CRC gate (the full-table blind-scan false-pass
    * noise floor wm_audit_curve documents, eliminated by
    * construction). Decode and state semantics are exactly
    * [[extractStream]]'s (same WmDecode math as the batch SQL;
    * StreamingRegistryExtractSpec pins batch parity across
    * micro-batch splits against the wm_extract_ids vote rows). */
  def registryExtractStream(cells: Dataset[(Timestamp, Long, Int, Double)],
                            registry: Set[Long],
                            incompleteTimeoutMs: Long = 3600L * 1000,
                            params: graft.sqlgen.WmParams = graft.sqlgen.WmParams.Default)
      : Dataset[Decoded] = {
    val bc = cells.sparkSession.sparkContext.broadcast(registry)
    extractStream(cells.filter(c => bc.value.contains(c._2)),
      incompleteTimeoutMs, params)
  }

  case class RungSess(gapSec: Long, userId: Long, start: Long, end: Long,
                      nEvents: Long)

  /** Multi-timeout sessionization — the streaming twin of
    * `events_sessions_curve`: ONE stateful pass maintains an open
    * session PER TIMEOUT RUNG (the batch key's tuning ladder), so the
    * curve that picks the session-gap parameter runs incrementally
    * with state O(users × rungs), not one full re-sessionization per
    * rung. Each rung independently applies [[sessionize]]'s
    * interval-merge semantics (late-but-in-watermark events handled
    * identically); a rung's session closes either inline (a newer
    * event opens the next one) or via the shared event-time timeout,
    * anchored at the EARLIEST rung deadline still open.
    * StreamingSessionCurveSpec pins per-rung batch parity across
    * micro-batch splits. */
  def sessionCurveStream(events: Dataset[(Timestamp, Long)],
                         gaps: Seq[Long] = Seq(600, 1800, 3600),
                         watermarkDelaySec: Long = 1800): Dataset[RungSess] = {
    import events.sparkSession.implicits._
    require(gaps.nonEmpty)
    events
      .withColumnRenamed("_1", "ts").withColumnRenamed("_2", "user_id")
      .withWatermark("ts", s"$watermarkDelaySec seconds")
      .as[(Timestamp, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Map[Long, Sess], RungSess](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, it, state: GroupState[Map[Long, Sess]]) =>
          def deadline(g: Long, s: Sess) = s.end * 1000 + g * 1000
          if (state.hasTimedOut) {
            // close every rung whose deadline the watermark passed;
            // later-deadline rungs stay open for more data
            val wm = state.getCurrentWatermarkMs()
            val open = state.get
            val (due, left) = open.partition { case (g, s) => deadline(g, s) <= wm }
            if (left.isEmpty) state.remove()
            else {
              state.update(left)
              state.setTimeoutTimestamp(
                left.map { case (g, s) => deadline(g, s) }.min)
            }
            due.iterator.map { case (g, s) =>
              RungSess(g, s.userId, s.start, s.end, s.nEvents) }
          } else {
            val evs = it.map(t => Sess(user, t._1.getTime / 1000,
              t._1.getTime / 1000, 1)).toSeq
            val prev = state.getOption.getOrElse(Map.empty[Long, Sess])
            val out = Vector.newBuilder[RungSess]
            val next = gaps.map { g =>
              // per-rung interval merge, exactly sessionize's semantics
              val all = (prev.get(g).toSeq ++ evs).sortBy(s => (s.start, s.end))
              val merged = scala.collection.mutable.ArrayBuffer.empty[Sess]
              for (s <- all) merged.lastOption match {
                case Some(p) if s.start <= p.end + g =>
                  merged(merged.length - 1) = p.copy(
                    end = math.max(p.end, s.end), nEvents = p.nEvents + s.nEvents)
                case _ => merged += s
              }
              merged.init.foreach(s =>
                out += RungSess(g, s.userId, s.start, s.end, s.nEvents))
              g -> merged.last
            }.toMap
            state.update(next)
            state.setTimeoutTimestamp(
              next.map { case (g, s) => deadline(g, s) }.min)
            out.result().iterator
          }
      }
  }

  /** Watermarked STREAM-STREAM interval join — the streaming form of
    * the as-of/attribution shape (`events_asof`): each click pairs with
    * the same user's purchases in the preceding hour. Both sides carry
    * event-time watermarks and the join condition bounds the time
    * range, so the state store retains only rows inside the watermark
    * horizon (purchases need the longer retention: a purchase must
    * wait up to 1 h of clicks plus the click stream's 1 h lateness).
    * At 100 TB/day this is the standard two-sided state-bounded join;
    * without BOTH the watermark and the range condition Spark would
    * have to keep unbounded state and refuses the append-mode query.
    *
    * clicks/purchases: (ts timestamp, user_id long, event_id long). */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.toDF("c_ts", "c_user", "click_id")
      .withWatermark("c_ts", "1 hour")
    val p = purchases.toDF("p_ts", "p_user", "purchase_id")
      .withWatermark("p_ts", "2 hours")
    c.join(p, expr(
      """c_user = p_user AND
        |p_ts >= c_ts - INTERVAL 1 HOUR AND p_ts <= c_ts""".stripMargin))
      .select(col("click_id"), col("purchase_id"), col("c_user").as("user_id"),
        col("c_ts"), col("p_ts"))
  }

  case class EmCell(vecId: Long, pos: Int, sval: Double)

  /** Streaming watermark EMBED — the symmetric counterpart of
    * [[extractStream]]: (ts, vec_id, pos, val) cells of ORIGINAL
    * vectors arrive in any order/batch split; per-vector state
    * assembles the 64 dims, and a completed CARRIER vector is QIM-
    * embedded immediately (graft.functions.WmEmbed — identical math to
    * the batch stego chain, see StreamingEmbedSpec for the bit-for-bit
    * parity proof). Non-carrier vectors complete and are dropped (the
    * batch `wm_embed` likewise emits carrier cells only; compose with
    * the original stream for a full-table writeback).
    *
    * `carriers` maps vec_id → block index, i.e. the persisted carrier
    * id list (operators.Backup.saveCarrierIds / the reference's
    * save_low_degree_ids, pg_func.py:312-323). It is rate·N entries —
    * broadcast-sized for typical rates; at extreme scale the same
    * logic runs as a stream-static join against the carrier parquet
    * keyed by vec_id, with the state/timeout handling unchanged.
    *
    * Incomplete vectors expire via the same event-time timeout
    * discipline as extractStream (see that scaladoc for why
    * processing-time timeouts are wrong here). */
  def embedStream(cells: Dataset[(Timestamp, Long, Int, Double)],
                  carriers: Map[Long, Int],
                  incompleteTimeoutMs: Long = 3600L * 1000,
                  params: graft.sqlgen.WmParams = graft.sqlgen.WmParams.Default)
      : Dataset[EmCell] = {
    import cells.sparkSession.implicits._
    cells
      .withWatermark("_1", s"$incompleteTimeoutMs milliseconds")
      .groupByKey(_._2)
      .flatMapGroupsWithState[Map[Int, Double], EmCell](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (vecId, it, state: GroupState[Map[Int, Double]]) =>
          if (state.hasTimedOut) {
            state.remove(); Iterator.empty
          } else {
            var m = state.getOption.getOrElse(Map.empty[Int, Double])
            var maxTs = Long.MinValue
            it.foreach { case (ts, _, pos, v) =>
              m += pos -> v
              maxTs = math.max(maxTs, ts.getTime)
            }
            if (m.size >= graft.sqlgen.Wm.Dim) {
              state.remove()
              carriers.get(vecId) match {
                case Some(blk) =>
                  val vals = Array.tabulate(graft.sqlgen.Wm.Dim)(i => m(i + 1))
                  val sv = graft.functions.WmEmbed.embed(vals, blk, params)
                  (1 to graft.sqlgen.Wm.Dim).iterator
                    .map(pos => EmCell(vecId, pos, sv(pos - 1)))
                case None => Iterator.empty
              }
            } else {
              state.update(m)
              state.setTimeoutTimestamp(
                math.max(maxTs, state.getCurrentWatermarkMs() + 1) + incompleteTimeoutMs)
              Iterator.empty
            }
          }
      }
  }

  case class Sess(userId: Long, start: Long, end: Long, nEvents: Long)

  /** Event-time sessionization with a 30-min gap, the streaming form of
    * `events_sessions`: per-user state holds only the open session;
    * sessions close via event-time timeout when the watermark passes
    * gap past the last event. */
  def sessionize(events: Dataset[(Timestamp, Long)],
                 gapSec: Long = 1800): Dataset[Sess] = {
    import events.sparkSession.implicits._
    events
      .withColumnRenamed("_1", "ts").withColumnRenamed("_2", "user_id")
      .withWatermark("ts", "30 minutes")
      .as[(Timestamp, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Sess, Sess](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, it, state: GroupState[Sess]) =>
          if (state.hasTimedOut) {
            val s = state.get; state.remove(); Iterator(s)
          } else {
            // interval-merge the batch's events WITH the open session,
            // sorted by start: a late-but-within-watermark event from a
            // later micro-batch may precede the open session entirely —
            // folding it in last-seen order would displace the newer
            // open session and mis-split a subsequent adjacent event
            // (e.g. 10:00,10:20 then late 09:00 then 10:25 must yield
            // [09:00] closed + [10:00-10:25] open, not three sessions).
            // Merged intervals are disjoint and start-ordered, so the
            // LAST one is the open session; everything earlier closes
            // now (its gap to the open session already exceeds gapSec).
            val evs = it.map(t => Sess(user, t._1.getTime / 1000,
              t._1.getTime / 1000, 1)).toSeq
            val all = (state.getOption.toSeq ++ evs).sortBy(s => (s.start, s.end))
            val merged = scala.collection.mutable.ArrayBuffer.empty[Sess]
            for (s <- all) merged.lastOption match {
              case Some(p) if s.start <= p.end + gapSec =>
                merged(merged.length - 1) = p.copy(
                  end = math.max(p.end, s.end), nEvents = p.nEvents + s.nEvents)
              case _ => merged += s
            }
            val open = merged.last
            state.update(open)
            state.setTimeoutTimestamp(open.end * 1000 + gapSec * 1000)
            merged.init.iterator
          }
      }
  }

  /** Incremental per-group HyperLogLog distinct sketch — the streaming
    * form of `sketch_distinct_by_source`, and the reason sketches earn
    * their place at 100 TB: the register array is a MERGEABLE O(m)
    * state, so micro-batches fold in with a per-register max and the
    * running estimate is always available — no distinct-set state, no
    * reprocessing. Register math is the JVM mirror of the SQL sketch
    * (same 60-bit keyed PRF via functions.Prf, same register split,
    * same register-order fold and linear-counting gate), so on the
    * same rows the streaming estimate EQUALS the batch query's
    * (StreamingSketchSpec pins that, including Spark's round
    * semantics). Emits (source, estimate) per update (Update mode —
    * monitoring reads the latest row per key). */
  case class AnomalyScore(eventType: String, hourEpoch: Long, n: Long,
                          nh: Long, mu: Double, z: Option[Double],
                          isAnomaly: Long)

  /** Streaming trailing-window anomaly scoring — the incremental form
    * of the batch `events_anomaly` query. Input rows are FINALIZED
    * hourly counts (the append-mode output of a watermarked
    * 1h-window aggregation upstream — the standard composition), one
    * per (event_type, hour), arriving in hour order per key. State per
    * event type is the ring of the last ≤ 24 completed hours — O(24)
    * integers, exactly the batch frame `rows between 24 preceding and
    * 1 preceding`. The float math mirrors the generated SQL
    * bit-for-bit (integer rolling sums, one double division, the same
    * floor-based round-half-away), so on the same rows the streaming
    * scores EQUAL the batch query's (StreamingAnomalySpec pins it).
    * Hours with under 12 trailing hours emit nothing, like the batch
    * `nh >= 12` gate. */
  def anomalyStream(hourly: Dataset[(String, Long, Long)])
      : Dataset[AnomalyScore] = {
    import hourly.sparkSession.implicits._
    hourly
      .groupByKey(_._1)
      .flatMapGroupsWithState[Vector[(Long, Long)], AnomalyScore](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (etype, it, state: GroupState[Vector[(Long, Long)]]) =>
          var ring = state.getOption.getOrElse(Vector.empty)
          val out = Vector.newBuilder[AnomalyScore]
          it.toSeq.sortBy(_._2).foreach { case (_, hr, c) =>
            val frame = ring.filter(_._1 < hr).takeRight(24)
            val nh = frame.size.toLong
            if (nh >= 12) {
              val s = frame.map(_._2).sum
              val s2 = frame.map(e => e._2 * e._2).sum
              val mu = s.toDouble / nh
              val vr = s2.toDouble / nh - mu * mu
              val z = if (vr > 0) Some(roundAway((c - mu) / math.sqrt(vr), 4)) else None
              val flag = if (vr > 0 && math.abs(c - mu) >= 3 * math.sqrt(vr)) 1L else 0L
              out += AnomalyScore(etype, hr, c, nh, roundAway(mu, 4), z, flag)
            }
            ring = (ring.filter(_._1 < hr) :+ (hr, c)).takeRight(24)
          }
          state.update(ring)
          out.result().iterator
      }
  }

  /** Streaming first-order transition extraction — the incremental
    * form of the batch `events_transitions` lead() window: state per
    * user is just the LAST event's (sec, event_id, type) key — O(1)
    * per user, vs the batch window's per-partition sort — and each
    * arriving event emits one (prev_type, type) transition row.
    * Within a micro-batch events sort by the same (sec, event_id)
    * total order the batch query uses, so on the same rows (however
    * they split across micro-batches, as long as each user's stream
    * arrives in order across batches — the per-key ordering Kafka-
    * style sources guarantee) the emitted transition multiset EQUALS
    * the batch query's counts (StreamingTransitionSpec pins it).
    * Downstream, counts/probabilities are one windowed groupBy. */
  def transitionStream(events: Dataset[(Long, Long, Long, String)])
      : Dataset[(String, String)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._3)
      .flatMapGroupsWithState[(Long, Long, String), (String, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[(Long, Long, String)]) =>
          var last = state.getOption
          val out = Vector.newBuilder[(String, String)]
          it.toSeq.sortBy(e => (e._1, e._2)).foreach { case (sec, eid, _, et) =>
            last.foreach { case (_, _, prev) => out += ((prev, et)) }
            last = Some((sec, eid, et))
          }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Incremental A/B experiment monitor (batch form: `events_ab_test`):
    * per-variant impression/click counts as a streaming aggregation in
    * complete mode — two rows of state total, updated per micro-batch,
    * so the z-test readout is available continuously while the
    * experiment runs instead of at batch boundaries. Counts are exact
    * integer sums (mergeable across any micro-batch split), so the
    * final state equals the batch query's counts on the same rows
    * (StreamingAbTestSpec). */
  def abTestStream(events: DataFrame): DataFrame =
    events
      .selectExpr("user_id % 2 as variant",
        "case when event_type = 'click' then 1 else 0 end as c",
        "case when event_type in ('click', 'view') then 1 else 0 end as imp")
      .groupBy("variant")
      .agg(sum("c").as("n_click"), sum("imp").as("n"))

  case class IvfAsg(vecId: Long, cell: Long)

  /** Streaming-ingest half of the index-maintenance story (batch half:
    * `vec_ivf_reindex`): assign arriving vectors against the SERVED
    * centroid table — broadcast once, never retrained per batch, the
    * Milvus/faiss insert path. A stateless per-row map: no state
    * store, no shuffle; at 100 TB/day ingest this is embarrassingly
    * parallel over √N·d centroid bytes per executor. The JVM math
    * mirrors the generated SQL exactly — normalize by the left-fold
    * norm, per-cell sim = leftfold(n·cv)/sqrt(leftfold(cv·cv)),
    * argmax by max(struct(sim, -cell)) i.e. smallest cell on ties —
    * so the streamed assignment is BIT-IDENTICAL to the batch
    * g_ivf_asg view on the same vectors (StreamingIvfAssignSpec). */
  def ivfAssignStream(vecs: Dataset[(Timestamp, Long, Seq[Double])],
                      centroids: Map[Long, Array[Double]]): Dataset[IvfAsg] = {
    import vecs.sparkSession.implicits._
    val cells = centroids.toArray.sortBy(_._1)
    val bc = vecs.sparkSession.sparkContext.broadcast(cells)
    vecs.map { case (_, id, v) =>
      val arr = v.toArray
      var s = 0.0; var i = 0
      while (i < arr.length) { s += arr(i) * arr(i); i += 1 }
      val nrm = math.sqrt(s)
      var bestSim = Double.NegativeInfinity
      var bestCell = Long.MaxValue
      bc.value.foreach { case (cell, cv) =>
        var dot = 0.0; var cn = 0.0; var j = 0
        val n = math.min(arr.length, cv.length)
        while (j < n) {
          dot += (arr(j) / nrm) * cv(j); cn += cv(j) * cv(j); j += 1
        }
        val sim = dot / math.sqrt(cn)
        if (sim > bestSim || (sim == bestSim && cell < bestCell)) {
          bestSim = sim; bestCell = cell
        }
      }
      IvfAsg(id, bestCell)
    }
  }

  /** Streaming per-group bounded top-k — the incremental twin of the
    * native `graft_topk` aggregate (functions.TopKAgg): state is the
    * ≤ k (score, id) shortlist per group under the SAME total order
    * (score desc, id asc), merged per micro-batch exactly like the
    * batch aggregate merges partials — so on the same rows the final
    * streamed shortlist EQUALS the batch query's, under any
    * micro-batch split (StreamingTopkSpec pins it). The 100 TB serving
    * story: a live candidate stream (new embeddings scoring against a
    * standing query set) keeps O(groups · k) state total — no
    * retained candidate history, no per-trigger re-rank. */
  def groupedTopkStream(scored: Dataset[(Timestamp, String, Long, Double)], k: Int)
      : Dataset[(String, Seq[Long], Seq[Double])] = {
    import scored.sparkSession.implicits._
    scored
      .groupByKey(_._2)
      .mapGroupsWithState[Array[(Double, Long)], (String, Seq[Long], Seq[Double])](
        GroupStateTimeout.NoTimeout) {
        case (g, it, state: GroupState[Array[(Double, Long)]]) =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
          state.getOption.foreach(buf ++= _)
          it.foreach { case (_, _, id, sc) => buf += ((sc, id)) }
          val kept = buf.sortWith((a, b) =>
            a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)).take(k).toArray
          state.update(kept)
          (g, kept.map(_._2).toList, kept.map(_._1).toList)
      }
  }

  /** Streaming per-group count-min grid — the incremental form of the
    * native `graft_cms` aggregate (functions.CmsAgg): the 4×16 long
    * grid is mergeable-by-addition state, updated per micro-batch with
    * the SAME keyed PRF rows as the batch aggregate and the generated
    * SQL, so on the same rows the streamed grid is LONG-FOR-LONG equal
    * to the batch grid (StreamingCmsSpec pins it). */
  def cmsStream(words: Dataset[(Timestamp, String, String)])
      : Dataset[(String, Seq[Long])] = {
    import words.sparkSession.implicits._
    words
      .groupByKey(_._2)
      .mapGroupsWithState[Array[Long], (String, Seq[Long])](
        GroupStateTimeout.NoTimeout) {
        case (source, it, state: GroupState[Array[Long]]) =>
          val grid = state.getOption.getOrElse(new Array[Long](64))
          it.foreach { case (_, _, word) =>
            var r = 0
            while (r < 4) {
              grid(r * 16 + (graft.functions.Prf.prf("cms", r, word) % 16).toInt) += 1L
              r += 1
            }
          }
          state.update(grid)
          (source, grid.toSeq)
      }
  }

  /** Per-user funnel stage row: epoch-second timestamps of the first
    * view, the first qualifying click, the first qualifying purchase
    * (-1 = stage not reached yet). */
  case class FunnelRow(userId: Long, tView: Long, tClick: Long, tBuy: Long)

  /** Streaming windowed conversion funnel — the incremental form of
    * `events_funnel_windowed`: view → click within 1 h of the first
    * view → purchase within 24 h of the first qualifying click. State
    * per user is just the three stage timestamps (O(1) — never the
    * event history): each stage only ever LATCHES the first qualifying
    * event, so with events arriving in per-user event-time order (the
    * anomalyStream contract; same-sec stage races resolved
    * view < click < purchase inside a batch) the latched times equal
    * the batch query's min-based stage times on the same rows —
    * StreamingFunnelSpec pins per-user equality AND the aggregated
    * funnel censuses across micro-batch splits. Update mode: the
    * latest row per user is the current funnel position; the batch
    * report is one aggregation over those rows. */
  def funnelStream(events: Dataset[(Timestamp, Long, String)],
                   clickWinSec: Long = 3600,
                   buyWinSec: Long = 86400): Dataset[FunnelRow] = {
    import events.sparkSession.implicits._
    def rank(tp: String): Int = tp match {
      case "view" => 0; case "click" => 1; case "purchase" => 2; case _ => 3
    }
    events
      .groupByKey(_._2)
      .mapGroupsWithState[FunnelRow, FunnelRow](GroupStateTimeout.NoTimeout) {
        case (user, it, state: GroupState[FunnelRow]) =>
          var s = state.getOption.getOrElse(FunnelRow(user, -1L, -1L, -1L))
          val evs = it.map(e => (e._1.getTime / 1000, e._3)).toSeq
            .sortBy { case (sec, tp) => (sec, rank(tp)) }
          for ((sec, tp) <- evs) tp match {
            case "view" if s.tView < 0 => s = s.copy(tView = sec)
            case "click" if s.tView >= 0 && s.tClick < 0 &&
              sec >= s.tView && sec <= s.tView + clickWinSec =>
              s = s.copy(tClick = sec)
            case "purchase" if s.tClick >= 0 && s.tBuy < 0 &&
              sec >= s.tClick && sec <= s.tClick + buyWinSec =>
              s = s.copy(tBuy = sec)
            case _ =>
          }
          state.update(s)
          s
      }
  }

  def distinctSketchStream(words: Dataset[(Timestamp, String, String)])
      : Dataset[(String, Double)] = {
    import words.sparkSession.implicits._
    words
      .groupByKey(_._2)
      .mapGroupsWithState[Array[Byte], (String, Double)](
        GroupStateTimeout.NoTimeout) {
        case (source, it, state: GroupState[Array[Byte]]) =>
          val regs = state.getOption.getOrElse(new Array[Byte](HllSketch.M))
          it.foreach { case (_, _, word) => HllSketch.insert(regs, word) }
          state.update(regs)
          (source, HllSketch.estimate(regs))
      }
  }

  /** Streaming per-group KMV bottom-k sketch — the incremental form of
    * the native `graft_kmv` aggregate (functions.KmvAgg): state is the
    * k-bounded distinct-min hash set (ascending Array[Long]), updated
    * per micro-batch with the SAME keyed PRF as the batch aggregate
    * and the generated SQL. The sketch is a pure function of the input
    * SET, so micro-batch splits cannot change a single element — on
    * the same rows the streamed set is LONG-FOR-LONG equal to the
    * batch aggregate's array (StreamingKmvSpec pins it). */
  def kmvStream(words: Dataset[(Timestamp, String, String)], k: Int)
      : Dataset[(String, Seq[Long])] = {
    import words.sparkSession.implicits._
    words
      .groupByKey(_._2)
      .mapGroupsWithState[Array[Long], (String, Seq[Long])](
        GroupStateTimeout.NoTimeout) {
        case (source, it, state: GroupState[Array[Long]]) =>
          val set = new java.util.TreeSet[java.lang.Long]()
          state.getOption.foreach(_.foreach(v => set.add(v)))
          it.foreach { case (_, _, word) =>
            val h = graft.functions.Prf.prf("kmv", word)
            if (set.size < k) set.add(h)
            else if (h < set.last && !set.contains(h)) {
              set.add(h); set.remove(set.last)
            }
          }
          val arr = new Array[Long](set.size)
          val iter = set.iterator()
          var i = 0
          while (iter.hasNext) { arr(i) = iter.next(); i += 1 }
          state.update(arr)
          (source, arr.toList)
      }
  }

  case class BurnPoint(hourIdx: Long, n: Long, nErr: Long, burn1h: Double,
                       burn6h: Double, burn24h: Double, pageAlert: Long,
                       ticketAlert: Long)

  /** Streaming multi-window SLO burn-rate — the incremental form of
    * the batch `events_slo_burn` RANGE frames: state is the ring of
    * the last ≤ 24 finalized hourly (hour, total, errors) rows, and
    * each window sum filters the ring BY HOUR VALUE (hr − w < h ≤ hr),
    * exactly the batch query's value-based RANGE semantics — a silent
    * hour contributes zero instead of shifting the frame. Same
    * integer sums, same single-division burn, same floor-based
    * rounding, so on the same finalized hours the points EQUAL the
    * batch rows however they split across micro-batches
    * (StreamingSloBurnSpec pins it). Hours must arrive in order —
    * the same finalized-window contract as anomalyStream. */
  def sloBurnStream(hourly: Dataset[(Long, Long, Long)]): Dataset[BurnPoint] = {
    import hourly.sparkSession.implicits._
    hourly
      .groupByKey(_ => "all")
      .flatMapGroupsWithState[Vector[(Long, Long, Long)], BurnPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[Vector[(Long, Long, Long)]]) =>
          var ring = state.getOption.getOrElse(Vector.empty)
          val out = Vector.newBuilder[BurnPoint]
          it.toSeq.sortBy(_._1).foreach { case (hr, n, ne) =>
            ring = (ring.filter(_._1 < hr) :+ (hr, n, ne)).takeRight(24)
            def burn(w: Long): Double = {
              val in = ring.filter(e => e._1 > hr - w && e._1 <= hr)
              val tot = in.map(_._2).sum
              // the batch query can never see a zero-total window (an
              // hour row only exists when it grouped ≥1 event), but
              // this API accepts arbitrary hourly rows incl. n = 0 —
              // guard the division so an all-silent window reads as
              // burn 0 (no error share of no events), not NaN that
              // silently un-trips every alert comparison
              if (tot == 0L) 0.0 else (in.map(_._3).sum.toDouble / tot) / 0.25
            }
            val (b1, b6, b24) = (burn(1), burn(6), burn(24))
            out += BurnPoint(hr, n, ne, roundAway(b1, 4), roundAway(b6, 4),
              roundAway(b24, 4),
              if (b1 > 2.0 && b6 > 2.0) 1L else 0L,
              if (b6 > 1.5 && b24 > 1.5) 1L else 0L)
          }
          state.update(ring)
          out.result().iterator
      }
  }

  case class BotPoint(userId: Long, nGaps: Long, meanGapS: Double,
                      gapCv: Double, botLike: Long)

  /** Streaming bot / automation detector — the alerting twin of
    * `events_bot_detect` (machine traffic fires on a metronome; human
    * gaps are over-dispersed): per-user state is FOUR exact integers
    * (last event second, gap count, Σgap, Σgap²), folded as events
    * arrive, and each micro-batch re-emits the user's verdict once it
    * clears the ≥ 5-gap evidence floor. The gap MULTISET is invariant
    * under reordering of equal-second events, so per-user
    * second-ordered arrival (the finalized-order contract the other
    * twins state) reproduces the batch key's lag-window gaps exactly;
    * all verdict math mirrors the batch double tree op for op
    * (StreamingBotSpec pins bit-parity across micro-batch splits).
    * State is O(users) and never grows with history. */
  def botStream(events: Dataset[(Timestamp, Long)]): Dataset[BotPoint] = {
    import events.sparkSession.implicits._
    def rnd(x: Double, n: Int) = graft.operators.PcaSolve.roundAway(x, n)
    events
      .groupByKey(_._2)
      .flatMapGroupsWithState[(Long, Long, Long, Long), BotPoint](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (user, it, state: GroupState[(Long, Long, Long, Long)]) =>
          var (last, n, sg, sgg) = state.getOption.getOrElse((Long.MinValue, 0L, 0L, 0L))
          it.toSeq.map(_._1.getTime / 1000).sorted.foreach { sec =>
            if (last != Long.MinValue) {
              val gap = sec - last
              n += 1
              sg = Math.addExact(sg, gap)
              sgg = Math.addExact(sgg, Math.multiplyExact(gap, gap))
            }
            last = sec
          }
          state.update((last, n, sg, sgg))
          if (n >= 5) {
            // same fail-fast policy as the accumulators above: the
            // variance numerator n·sgg − sg² is exact-Long-guarded, not
            // allowed to wrap silently (which would flip gap_cv and
            // bot_like in lockstep with the batch side's identical
            // wrap — garbage agreeing with garbage). Bound: gaps are
            // seconds inside the 30-day event horizon (< 2.6e6 s), so
            // sgg < n·6.8e12 and n·sgg needs n ≈ 37k same-user events
            // before 2^63 — far past the corpus; if a corpus ever gets
            // there, this throws instead of lying.
            val cv = if (sg > 0)
              rnd(math.sqrt(Math.subtractExact(Math.multiplyExact(n, sgg),
                Math.multiplyExact(sg, sg)).toDouble) / sg.toDouble, 4)
            else 0.0
            val bot = if ((sg > 0 && cv < 0.3) || sg == 0) 1L else 0L
            Iterator(BotPoint(user, n, rnd(sg.toDouble / n, 2), cv, bot))
          } else Iterator.empty
      }
  }

  case class DriftPoint(dim: Int, nBase: Long, nCur: Long, muBase: Double,
                        muCur: Double, stdPooled: Double, zShift: Double)

  /** Streaming embedding data-drift monitor — the alerting twin of
    * `vec_data_drift` (the train/serve skew readout that says "retrain
    * the index / recalibrate the quantizer"): the BASELINE window's
    * per-dimension moments ride along as a broadcast map, incoming
    * cells fold into per-dim state that is three EXACT integers
    * (count, Σ value-micros, Σ value²-picos — the same 1e-6
    * quantization grid the batch key sums in DECIMAL(18,6)), and each
    * micro-batch emits the refreshed drift row per dimension. Because
    * the state is an integer set-function of the rows consumed, the
    * emitted row after the stream has seen exactly the batch key's
    * second half EQUALS the batch row bit-for-bit however the cells
    * split across micro-batches (StreamingDriftSpec pins it,
    * including Spark's decimal→double cast semantics via BigDecimal).
    * State is O(d) — nothing grows with the stream. */
  def driftStream(cells: Dataset[(Timestamp, Long, Int, Double)],
                  baseline: Map[Int, (Long, Long, Long)]): Dataset[DriftPoint] = {
    import cells.sparkSession.implicits._
    val bc = cells.sparkSession.sparkContext.broadcast(baseline)
    def toD(v: Long, scale: Int): Double =
      new java.math.BigDecimal(java.math.BigInteger.valueOf(v), scale).doubleValue()
    def micro(v: Double): Long = {
      val q = if (v >= 0) math.floor(v * 1e6 + 0.5) else -math.floor(-v * 1e6 + 0.5)
      q.toLong
    }
    cells
      .groupByKey(_._3)
      .mapGroupsWithState[(Long, Long, Long), DriftPoint](
        GroupStateTimeout.NoTimeout) {
        case (dim, it, state: GroupState[(Long, Long, Long)]) =>
          var (c, s1, s2) = state.getOption.getOrElse((0L, 0L, 0L))
          it.foreach { case (_, _, _, v) =>
            val m = micro(v)
            c += 1
            s1 = Math.addExact(s1, m)
            s2 = Math.addExact(s2, Math.multiplyExact(m, m))
          }
          state.update((c, s1, s2))
          val (bcnt, bs1, bs2) = bc.value.getOrElse(dim, (0L, 0L, 0L))
          def rnd(x: Double, n: Int) = graft.operators.PcaSolve.sparkRound(x, n)
          // the batch key's exact double tree: decimal→double casts,
          // then mean/variance/z in the same operand order
          val mu0 = toD(bs1, 6) / bcnt
          val mu1 = toD(s1, 6) / c
          val v0 = toD(bs2, 12) / bcnt - mu0 * mu0
          val v1 = toD(s2, 12) / c - mu1 * mu1
          DriftPoint(dim, bcnt, c, rnd(mu0, 6), rnd(mu1, 6),
            rnd(math.sqrt((v0 + v1) / 2), 6),
            rnd(math.abs(mu0 - mu1) / math.sqrt((v0 + v1) / 2 + 0.000001), 4))
      }
  }

  case class EwmaPoint(series: String, day: Long, n: Long, ewma: Double,
                       forecast: Option[Double], residual: Option[Double])

  /** Streaming exact dyadic EWMA — the incremental form of the batch
    * `events_ewma` cumulative window: EWMA with α = 1/2 is
    * prefix-computable, so the per-series state is just TWO longs
    * (day index i, scaled mantissa M_t = x_0 + Σ x_k·2^{k-1}) — O(1)
    * per series vs the batch cumulative window, and M_t is the SAME
    * exact bigint the batch query folds, so ewma = M_t / 2^i (a pure
    * IEEE exponent shift) matches bit-for-bit on the same finalized
    * daily rows however they split across micro-batches
    * (StreamingEwmaSpec pins it). Same 2^53 mantissa ceiling as the
    * batch key (≤ ~39 days at 10⁴ events/day; past that a deployment
    * rebases the kernel, same note). Days must arrive in order per
    * series — the per-key ordering the batch row_number encodes. */
  def ewmaStream(daily: Dataset[(String, Long, Long)]): Dataset[EwmaPoint] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), EwmaPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (series, it, state: GroupState[(Long, Long)]) =>
          var (i, mt) = state.getOption.getOrElse((-1L, 0L))
          val out = Vector.newBuilder[EwmaPoint]
          it.toSeq.sortBy(_._2).foreach { case (_, day, x) =>
            val prev = if (i >= 0) Some(mt.toDouble / math.pow(2.0, i.toDouble)) else None
            i += 1
            // enforce the documented mantissa ceiling instead of
            // relying on the doc comment: past day 63 the shift would
            // wrap silently (and precision degrades past 2^53 well
            // before) — a deployment that reaches the bound rebases
            // the kernel (drop the ring, restart the fold); garbage
            // EWMA values are never emitted
            require(i <= 63, s"ewmaStream: series '$series' exceeded the 63-day dyadic " +
              "kernel bound — rebase the fold (documented 2^53 mantissa ceiling)")
            mt = if (i == 0) x
                 else Math.addExact(mt, Math.multiplyExact(x, 1L << (i - 1)))
            val ew = mt.toDouble / math.pow(2.0, i.toDouble)
            out += EwmaPoint(series, day, x, roundAway(ew, 4),
              prev.map(roundAway(_, 4)), prev.map(p => roundAway(x - p, 4)))
          }
          state.update((i, mt))
          out.result().iterator
      }
  }

  case class ChangepointPoint(cpDay: Long, nDays: Long, cusumPeak: Double,
                              meanBefore: Double, meanAfter: Double,
                              levelShift: Double)

  /** Streaming CUSUM changepoint monitor — the alerting twin of
    * `events_changepoint` (the level-shift detector a deployed
    * pipeline runs on its daily volume): per-day counts fold into
    * O(days) integer state, and each micro-batch re-emits the
    * refreshed changepoint verdict over the days seen so far. All
    * verdict math mirrors the batch SQL op for op — exact-integer
    * cumulative deviations ad = |m·cn − rn·s| (addExact/multiplyExact,
    * same fail-fast policy as the other twins; bound: needs
    * m·total < 2^63 — ~3.6e15 even at 10 years × 1e12 events), the
    * max(struct(ad, −day)) tie-break, and roundAway on the three
    * IEEE divisions. After the stream has consumed exactly the batch
    * key's events, the last emitted row EQUALS the batch row
    * bit-for-bit however the events split across micro-batches
    * (StreamingChangepointSpec pins it). State is O(distinct days),
    * never O(events). */
  def changepointStream(events: Dataset[Timestamp]): Dataset[ChangepointPoint] = {
    import events.sparkSession.implicits._
    def rnd(x: Double, n: Int) = graft.operators.PcaSolve.roundAway(x, n)
    events
      .groupByKey(_ => "all")
      .flatMapGroupsWithState[Map[Long, Long], ChangepointPoint](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[Map[Long, Long]]) =>
          var byDay = state.getOption.getOrElse(Map.empty[Long, Long])
          it.foreach { ts =>
            val day = ts.getTime / 1000 / 86400
            byDay += day -> (byDay.getOrElse(day, 0L) + 1L)
          }
          state.update(byDay)
          if (byDay.isEmpty) Iterator.empty
          else {
            val days = byDay.toSeq.sortBy(_._1)
            val m = days.length.toLong
            var s = 0L
            days.foreach { case (_, n) => s = Math.addExact(s, n) }
            var cn = 0L
            var bestAd = -1L
            var bestNd = Long.MinValue // -day of the current winner
            days.zipWithIndex.foreach { case ((day, n), i) =>
              cn = Math.addExact(cn, n)
              val ad = Math.abs(Math.subtractExact(
                Math.multiplyExact(m, cn), Math.multiplyExact(i + 1L, s)))
              if (ad > bestAd || (ad == bestAd && -day > bestNd)) {
                bestAd = ad; bestNd = -day
              }
            }
            val cpDay = -bestNd
            var nb = 0L; var db = 0L; var na = 0L; var da = 0L
            days.foreach { case (day, n) =>
              if (day <= cpDay) { nb += n; db += 1 } else { na += n; da += 1 }
            }
            Iterator(ChangepointPoint(cpDay, m,
              rnd(bestAd.toDouble / m, 2),
              rnd(nb.toDouble / db, 2),
              rnd(na.toDouble / da, 2),
              rnd(na.toDouble / da - nb.toDouble / db, 2)))
          }
      }
  }

  case class MadPoint(day: Long, nEvents: Long, medianEvents: Long,
                      mad: Long, robustZ: Option[Double], isOutlier: Long)

  /** Streaming median/MAD robust anomaly monitor — the alerting twin
    * of `events_anomaly_mad`: per-day counts fold into the same
    * O(days) integer state as the changepoint twin, and each
    * micro-batch re-emits the refreshed per-day robust-z table.
    * Median and MAD replicate the batch SQL's rank selection exactly
    * (order by (x, day) / (ad, day), element at ceil(m/2)); robust_z
    * mirrors the batch's one-rounding double tree and is None when
    * MAD = 0 (the batch's NULL). Final-state emission equals the
    * batch rows bit-for-bit across any micro-batch split
    * (StreamingMadSpec). State is O(distinct days). */
  def anomalyMadStream(events: Dataset[Timestamp]): Dataset[MadPoint] = {
    import events.sparkSession.implicits._
    def rnd(x: Double, n: Int) = graft.operators.PcaSolve.roundAway(x, n)
    events
      .groupByKey(_ => "all")
      .flatMapGroupsWithState[Map[Long, Long], MadPoint](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[Map[Long, Long]]) =>
          var byDay = state.getOption.getOrElse(Map.empty[Long, Long])
          it.foreach { ts =>
            val day = ts.getTime / 1000 / 86400
            byDay += day -> (byDay.getOrElse(day, 0L) + 1L)
          }
          state.update(byDay)
          if (byDay.isEmpty) Iterator.empty
          else {
            val days = byDay.toSeq
            val m = days.length
            val medIdx = math.ceil(m * 0.5).toInt - 1
            val md = days.sortBy { case (d, x) => (x, d) }.apply(medIdx)._2
            val mv = days.map { case (d, x) => (math.abs(x - md), d) }
              .sorted.apply(medIdx)._1
            days.sortBy(_._1).iterator.map { case (day, x) =>
              val z = if (mv > 0) Some(rnd(0.6745 * (x - md) / mv.toDouble, 4))
                      else None
              val outlier =
                if (mv > 0 && math.abs(0.6745 * (x - md) / mv.toDouble) > 3.5) 1L
                else 0L
              MadPoint(day, x, md, mv, z, outlier)
            }
          }
      }
  }

  case class SeasonalMadPoint(day: Long, nEvents: Long, dow: Long,
                              dowMean: Double, residual: Double,
                              robustZ: Option[Double], isOutlier: Long)

  /** Streaming seasonal-adjusted robust anomaly monitor — the twin of
    * `events_anomaly_seasonal` (deseasonalize FIRST, then median/MAD:
    * separates "it's Saturday" from "something broke"): the same
    * O(days) day-count state as the changepoint/MAD twins; each
    * micro-batch re-emits the full per-day table with dow means,
    * residuals, and the modified-z flags, replicating the batch SQL's
    * float tree and rank selections exactly
    * (StreamingSeasonalMadSpec pins bit-parity). */
  def seasonalAnomalyStream(events: Dataset[Timestamp]): Dataset[SeasonalMadPoint] = {
    import events.sparkSession.implicits._
    def rnd(x: Double, n: Int) = graft.operators.PcaSolve.roundAway(x, n)
    events
      .groupByKey(_ => "all")
      .flatMapGroupsWithState[Map[Long, Long], SeasonalMadPoint](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[Map[Long, Long]]) =>
          var byDay = state.getOption.getOrElse(Map.empty[Long, Long])
          it.foreach { ts =>
            val day = ts.getTime / 1000 / 86400
            byDay += day -> (byDay.getOrElse(day, 0L) + 1L)
          }
          state.update(byDay)
          if (byDay.isEmpty) Iterator.empty
          else {
            val days = byDay.toSeq
            // dow means folded from exact integer sums, divided once —
            // the batch's cast(sum as double) / count
            val wm = days.groupBy { case (day, _) => ((day + 4) % 7) }
              .view.mapValues { xs =>
                xs.map(_._2).sum.toDouble / xs.size
              }.toMap
            val res = days.map { case (day, x) =>
              val dow = (day + 4) % 7
              (day, x, dow, wm(dow), x - wm(dow))
            }
            val m = res.length
            val medIdx = math.ceil(m * 0.5).toInt - 1
            val md = res.map { case (day, _, _, _, r) => (r, day) }
              .sorted.apply(medIdx)._1
            val mv = res.map { case (day, _, _, _, r) => (math.abs(r - md), day) }
              .sorted.apply(medIdx)._1
            res.sortBy(_._1).iterator.map { case (day, x, dow, dm, r) =>
              val z = if (mv > 0) Some(rnd(0.6745 * (r - md) / mv, 4)) else None
              val outlier =
                if (mv > 0 && math.abs(0.6745 * (r - md) / mv) > 3.5) 1L else 0L
              SeasonalMadPoint(day, x, dow, rnd(dm, 4), rnd(r, 4), z, outlier)
            }
          }
      }
  }

  case class JsPoint(day: Long, prevDay: Long, nEvents: Long, nPrev: Long,
                     jsNats: Double, jsNormalized: Double)

  /** Streaming day-over-day mix-shift monitor — the alerting twin of
    * `events_mix_shift` (the distribution-drift alarm on the event-type
    * mix): state is the per-(day, type) integer count map (calendar ×
    * type-domain bounded — O(days·types), never O(events)); each
    * micro-batch re-emits the refreshed Jensen–Shannon row for every
    * adjacent-day pair TOUCHED by the batch (an event on day D moves
    * the (D−1, D) and (D, D+1) pairs). The JS fold replicates the
    * batch SQL bit for bit: quantized-ln integers (round-away
    * ln·1e9), exact bigint sums over the union type set, two final
    * divisions (StreamingMixShiftSpec pins parity across splits). */
  def mixShiftStream(events: Dataset[(Timestamp, String)]): Dataset[JsPoint] = {
    import events.sparkSession.implicits._
    def rnd(x: Double, n: Int) = graft.operators.PcaSolve.roundAway(x, n)
    // the batch computes its ln arguments as EXACT bigints, then casts
    // to double — mirror that exactly (a double product can round
    // differently past 2^53)
    def lg(x: Long): Long = rnd(math.log(x.toDouble) * 1e9, 0).toLong
    events
      .groupByKey(_ => "all")
      .flatMapGroupsWithState[Map[(Long, String), Long], JsPoint](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[Map[(Long, String), Long]]) =>
          var cnt = state.getOption.getOrElse(Map.empty[(Long, String), Long])
          var touched = Set.empty[Long]
          it.foreach { case (ts, typ) =>
            val day = ts.getTime / 1000 / 86400
            cnt += (day, typ) -> (cnt.getOrElse((day, typ), 0L) + 1L)
            touched += day
          }
          state.update(cnt)
          val byDay = cnt.groupBy(_._1._1).view
            .mapValues(_.map { case ((_, t), c) => t -> c }.toMap).toMap
          val pairs = touched.flatMap(dd => Seq(dd - 1 -> dd, dd -> (dd + 1)))
            .filter { case (a, b) => byDay.contains(a) && byDay.contains(b) }
          pairs.toSeq.sorted.iterator.map { case (d1, d2) =>
            val (m1, m2) = (byDay(d1), byDay(d2))
            val n1 = m1.values.sum
            val n2 = m2.values.sum
            var sp = 0L; var sq = 0L
            (m1.keySet ++ m2.keySet).foreach { t =>
              val c1 = m1.getOrElse(t, 0L); val c2 = m2.getOrElse(t, 0L)
              val mix = Math.addExact(Math.multiplyExact(c1, n2),
                Math.multiplyExact(c2, n1))
              if (c1 > 0) sp = Math.addExact(sp,
                Math.multiplyExact(c1, lg(Math.multiplyExact(2L, Math.multiplyExact(c1, n2))) - lg(mix)))
              if (c2 > 0) sq = Math.addExact(sq,
                Math.multiplyExact(c2, lg(Math.multiplyExact(2L, Math.multiplyExact(c2, n1))) - lg(mix)))
            }
            val nats = (sp.toDouble / n1 + sq.toDouble / n2) / 2.0 / 1e9
            JsPoint(d2, d1, n2, n1, rnd(nats, 6), rnd(nats / math.log(2.0), 4))
          }
      }
  }

  case class PeriodPoint(periodDays: Long, power: Double,
                         powerShare: Option[Double], isDominant: Long)

  /** Streaming periodogram — the spectral twin of `events_periodogram`:
    * the same O(days) integer day-count state as the changepoint twin,
    * re-emitting the 4-period quantized-trig DFT row set each
    * micro-batch. All math is the batch key's exact-integer fold
    * (literal micro-grid cos/sin, analytic mean-centering), so the
    * final emission equals the batch rows bit for bit
    * (StreamingPeriodogramSpec). */
  def periodogramStream(events: Dataset[Timestamp]): Dataset[PeriodPoint] = {
    import events.sparkSession.implicits._
    def rnd(x: Double, n: Int) = graft.operators.PcaSolve.roundAway(x, n)
    val periods = Seq(2, 3, 7, 14)
    events
      .groupByKey(_ => "all")
      .flatMapGroupsWithState[Map[Long, Long], PeriodPoint](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[Map[Long, Long]]) =>
          var byDay = state.getOption.getOrElse(Map.empty[Long, Long])
          it.foreach { ts =>
            val day = ts.getTime / 1000 / 86400
            byDay += day -> (byDay.getOrElse(day, 0L) + 1L)
          }
          state.update(byDay)
          if (byDay.isEmpty) Iterator.empty
          else {
            val m = byDay.size.toLong
            val s = byDay.values.sum
            val powers = periods.map { p =>
              val cosA = Array.tabulate(p)(k => Math.round(Math.cos(2 * Math.PI * k / p) * 1e6))
              val sinA = Array.tabulate(p)(k => Math.round(Math.sin(2 * Math.PI * k / p) * 1e6))
              var sc = 0L; var ss = 0L; var cc = 0L; var cs = 0L
              byDay.foreach { case (day, n) =>
                val k = (day % p).toInt
                sc = Math.addExact(sc, Math.multiplyExact(n, cosA(k)))
                ss = Math.addExact(ss, Math.multiplyExact(n, sinA(k)))
                cc += cosA(k); cs += sinA(k)
              }
              val a = Math.subtractExact(Math.multiplyExact(m, sc),
                Math.multiplyExact(s, cc)).toDouble / 1e6 / m
              val b = Math.subtractExact(Math.multiplyExact(m, ss),
                Math.multiplyExact(s, cs)).toDouble / 1e6 / m
              p.toLong -> (a * a + b * b)
            }
            val tot = powers.map(_._2).sum
            val best = powers.map(_._2).max
            val dom = powers.filter(_._2 == best).map(_._1).min
            powers.iterator.map { case (p, pw) =>
              PeriodPoint(p, rnd(pw, 4),
                if (tot > 0) Some(rnd(pw / tot, 4)) else None,
                if (p == dom) 1L else 0L)
            }
          }
      }
  }

  case class ConcPoint(day: Long, nStarts: Long, nEnds: Long,
                       dayPeak: Long, eodConcurrency: Long, globalPeak: Long)

  /** Streaming PEAK-CONCURRENCY monitor — the capacity-planning twin
    * of `events_peak_concurrency`: CLOSED sessions (start sec, end
    * sec — e.g. the output of [[sessionCurveStream]]'s 1800 rung, or
    * the batch sessionizer) arrive in any order/batch split; each
    * session contributes a +1 boundary at `st` and a −1 at `fin + 1`
    * (the batch `bd` CTE exactly), state folds boundaries into a
    * per-second net-delta map, and every micro-batch re-emits the
    * refreshed per-day table: starts/ends, the day's running-sum
    * peak, end-of-day concurrency, and the global peak — each with
    * the cross-day carry the batch key computes, bit-for-bit across
    * any split (StreamingConcurrencySpec).
    *
    * State is O(distinct boundary seconds) here (the re-emit-all
    * convention of the changepoint/MAD twins — a day's peak can move
    * until its last late boundary lands); the production-shape
    * variant watermarks the session stream and closes each day via
    * EventTimeTimeout (the sessionCurveStream discipline), dropping
    * that day's second-map and carrying only (day, net) forward —
    * state then bounded by the watermark horizon. */
  case class BandDelta(docId: Long, bb: Int, bandv: Long, delta: Int)

  /** Streaming CDC-upsert maintenance of the banded signature index —
    * the incremental twin of the batch `dedup_upsert` maintenance
    * path: a stream of (ts, doc_id, text) upserts (empty text =
    * DELETE) keyed by doc_id keeps each doc's last 60-bit simhash as
    * state (functions.SimHash — the integer-exact JVM twin of the
    * generated signature chain) and emits the BAND-ROW DELTA an index
    * maintainer applies to its blocking table: −1 rows for the
    * outgoing signature's bands, +1 rows for the incoming one's; an
    * upsert that does not change the signature emits nothing. The
    * bands partition the 60 bits, so the accumulated +1 rows per doc
    * reassemble the exact signature — on an insert-only replay the
    * maintained state equals the oracle-gated batch `dedup_simhash`
    * key long-for-long however the stream splits into micro-batches
    * (StreamingUpsertSpec pins it, plus the update/delete
    * retract-then-assert protocol). Events within a micro-batch fold
    * in timestamp order (ties by arrival) — the same in-order
    * contract as the other twins. State is 8 bytes per live doc. */
  def upsertStream(ups: Dataset[(Timestamp, Long, String)]): Dataset[BandDelta] = {
    import ups.sparkSession.implicits._
    val NoSig = -1L // signatures are 60-bit non-negatives
    ups
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, BandDelta](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (docId, it, state: GroupState[Long]) =>
          var cur = state.getOption.getOrElse(NoSig)
          val out = scala.collection.mutable.ArrayBuffer.empty[BandDelta]
          it.toSeq.sortBy(_._1.getTime).foreach { case (_, _, text) =>
            val next = if (text.isEmpty) NoSig else graft.functions.SimHash.sig(text)
            if (next != cur) {
              if (cur != NoSig)
                graft.functions.SimHash.bands(cur).foreach { case (bb, v) =>
                  out += BandDelta(docId, bb, v, -1) }
              if (next != NoSig)
                graft.functions.SimHash.bands(next).foreach { case (bb, v) =>
                  out += BandDelta(docId, bb, v, 1) }
              cur = next
            }
          }
          // a deleted doc carries no information — drop its state row
          // entirely instead of parking a NoSig sentinel forever, so
          // delete-heavy CDC streams don't grow state per dead doc
          // (the '8 bytes per LIVE doc' bound in the doc comment)
          if (cur == NoSig) state.remove() else state.update(cur)
          out.iterator
      }
  }

  case class MhBandDelta(docId: Long, band: Int, sigv: Long, delta: Int)

  /** Streaming CDC-upsert maintenance of the MINHASH index — the
    * incremental twin of the batch `dedup_upsert_minhash` path,
    * exactly the [[upsertStream]] contract applied to the other kept
    * signature family: a stream of (ts, doc_id, text) upserts (empty
    * text = DELETE) keeps each doc's 16-hash minhash signature as
    * state (functions.MinHash — the integer-exact JVM twin of the
    * generated chain; docs with < 3 tokens carry no signature, like
    * the SQL's shingle filter) and emits the BAND-ROW DELTA an index
    * maintainer applies to its g_mhpairs blocking table: −1 rows for
    * the outgoing signature's 8 bands, +1 for the incoming one's.
    * The bands partition the 16 hashes, so the accumulated +1 rows
    * per doc reassemble the exact signature (m₂ᵦ = v div 2³¹ …) — on
    * an insert-only replay the maintained state equals the batch
    * minhash signature table long-for-long however the stream splits
    * (StreamingUpsertMinhashSpec pins it, plus the update/delete
    * retract-then-assert protocol). State is 128 bytes per live
    * signed doc; deleted docs drop their state row. */
  def upsertMinhashStream(ups: Dataset[(Timestamp, Long, String)]): Dataset[MhBandDelta] = {
    import ups.sparkSession.implicits._
    ups
      .groupByKey(_._2)
      .flatMapGroupsWithState[Seq[Long], MhBandDelta](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (docId, it, state: GroupState[Seq[Long]]) =>
          var cur: Option[Seq[Long]] = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[MhBandDelta]
          it.toSeq.sortBy(_._1.getTime).foreach { case (_, _, text) =>
            val next =
              if (text.isEmpty) None else graft.functions.MinHash.sig(text)
            if (next != cur) {
              cur.foreach(s => graft.functions.MinHash.bands(s).foreach {
                case (b, v) => out += MhBandDelta(docId, b, v, -1) })
              next.foreach(s => graft.functions.MinHash.bands(s).foreach {
                case (b, v) => out += MhBandDelta(docId, b, v, 1) })
              cur = next
            }
          }
          cur match {
            case Some(s) => state.update(s)
            case None    => state.remove()
          }
          out.iterator
      }
  }

  def concurrencyStream(sessions: Dataset[(Long, Long)]): Dataset[ConcPoint] = {
    import sessions.sparkSession.implicits._
    sessions
      .groupByKey(_ => "all")
      .flatMapGroupsWithState[Map[Long, (Long, Long)], ConcPoint](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[Map[Long, (Long, Long)]]) =>
          // sec -> (n_starts, n_ends); net = starts − ends
          var bySec = state.getOption.getOrElse(Map.empty[Long, (Long, Long)])
          it.foreach { case (st, fin) =>
            val s0 = bySec.getOrElse(st, (0L, 0L))
            bySec += st -> (s0._1 + 1, s0._2)
            val e0 = bySec.getOrElse(fin + 1, (0L, 0L))
            bySec += (fin + 1) -> (e0._1, e0._2 + 1)
          }
          state.update(bySec)
          if (bySec.isEmpty) Iterator.empty
          else {
            val days = bySec.toSeq.sortBy(_._1).groupBy(_._1 / 86400)
              .toSeq.sortBy(_._1).map { case (day, secs) =>
                var cum = 0L; var mx = Long.MinValue
                var st = 0L; var en = 0L
                secs.sortBy(_._1).foreach { case (_, (s, e)) =>
                  cum = Math.addExact(cum, s - e)
                  if (cum > mx) mx = cum
                  st += s; en += e
                }
                (day, st, en, mx, cum)
              }
            var carry = 0L
            val rows = days.map { case (day, st, en, mx, dnet) =>
              val r = (day, st, en, carry + mx, carry + dnet)
              carry = Math.addExact(carry, dnet)
              r
            }
            val globalPeak = rows.map(_._4).max
            rows.iterator.map { case (day, st, en, pk, eod) =>
              ConcPoint(day, st, en, pk, eod, globalPeak)
            }
          }
      }
  }
}

/** JVM mirror of the SQL HLL sketch (m = 256) in
  * `sketch_distinct_by_source`: identical hash, register split, rho,
  * alpha literal, register-order fold, and linear-counting gate —
  * byte-for-byte the same registers and bit-for-bit the same estimate
  * as the batch query on the same rows. */
object HllSketch {
  val M = 256
  /** the SQL's alpha literal for m=256: 0.7213/(1 + 1.079/256) */
  private val Alpha = 0.7182726

  /** max-merge one word into the register array (idempotent — raw
    * streams need no distinct). */
  def insert(regs: Array[Byte], word: String): Unit = {
    val h = graft.functions.Prf.prf("hll", word)
    val j = (h % M).toInt
    val w = h / M // 52-bit remainder
    // rho = first r in 1..52 with w >= 2^(52-r); w=0 -> 53 (the SQL's
    // unrolled integer-compare CASE)
    val rho = if (w == 0) 53 else java.lang.Long.numberOfLeadingZeros(w) - 11
    if (rho > regs(j)) regs(j) = rho.toByte
  }

  /** the SQL estimate: Z folded in register order, raw = alpha·m²/Z
    * rounded like Spark's round(x, 4), linear counting iff v0 > 0 AND
    * raw <= 2.5m. */
  def estimate(regs: Array[Byte]): Double = {
    var z = 0.0
    var v0 = 0
    var j = 0
    while (j < M) {
      z += math.pow(2.0, -regs(j).toDouble)
      if (regs(j) == 0) v0 += 1
      j += 1
    }
    val raw = sparkRound(Alpha * M * M / z, 4)
    if (v0 > 0 && raw <= 2.5 * M)
      sparkRound(M * math.log(M.toDouble / v0), 4)
    else raw
  }
}
