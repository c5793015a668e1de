package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor,
  TTLConfig, TimeMode, TimerValues, ValueState}

/** Structured Streaming variants of the temporal operators (net-new;
  * the reference is pure batch — SURVEY §2.10): the same EMA / rolling
  * semantics maintained incrementally over an unbounded stream with
  * per-key state.
  *
  * Design for scale: state is O(1) per key for EMA (one double) and
  * O(window) per key for rolling stats; keys partition across the
  * cluster via the streaming groupByKey exchange. Event-time windowed
  * aggregation with watermark is delegated to the built-in engine
  * ([[windowedMean]]).
  */
// Top-level case classes: encoders for classes nested inside an
// object trip whole-stage codegen (outer-instance constructor lookup).
case class Obs(key: String, ts: Long, id: Long, value: Double)
case class EmaOut(key: String, ts: Long, id: Long, value: Double, ema: Double)
case class RollOut(key: String, ts: Long, id: Long, value: Double,
                   roll_mean: Double, roll_n: Int)
case class EmaState(ema: Double)
case class RollState(recent: List[Double])
case class CusumOut(key: String, ts: Long, id: Long, cents: Long, cusum: Long)
case class CusumState(s: Long)
case class PhState(rn: Long, sCal: Long, cs: Long, runmin: Long,
                   stat: Long)
case class PhOut(key: String, n_detect: Long, s_cal: Long,
                 ph8_stat: Long, alarm: Long)
case class KalmanOut(key: String, n: Long, kalman_x: Double, kalman_p: Double)
case class KalmanState(x: Double, p: Double, n: Long)
case class KeyStats(key: String, n: Long, max_value: Double)
case class TopKOut(key: String, id: Long, value: Double, rnk: Int)
case class TypedObs(key: String, typ: String, id: Long)
case class TypeCount(key: String, typ: String, n: Long)
case class AttrObs(key: String, ts: Long, id: Long, typ: String)
case class AttrOut(key: String, purchase_id: Long, ts: Long,
                   click_id: Option[Long], click_ts: Option[Long],
                   attributed: Boolean)
case class ClickState(cts: Long, cid: Long)
case class SessTimerOut(key: String, session_first: Long, n_events: Long,
                        sum_cents: Long)
case class SessTimerState(first: Long, n: Long, sum: Long, last: Long)

/** Spark 4 arbitrary-state API ([[StatefulProcessor]]) — running
  * per-key count + max, emitted once per key per micro-batch. The
  * aggregates are ORDER-FREE (count, max), so the emitted values are
  * deterministic regardless of intra-batch row order — the property
  * the EMA/rolling processors have to buy with an explicit sort.
  * Top-level class: processors are serialized to executors. */
class KeyStatsProcessor extends StatefulProcessor[String, Obs, KeyStats] {
  @transient private var nState: ValueState[Long] = _
  @transient private var maxState: ValueState[Double] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    nState = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
    maxState = getHandle.getValueState[Double]("mx", Encoders.scalaDouble, TTLConfig.NONE)
  }

  override def handleInputRows(key: String, rows: Iterator[Obs],
                               timerValues: TimerValues): Iterator[KeyStats] = {
    var n = if (nState.exists()) nState.get() else 0L
    var mx = if (maxState.exists()) maxState.get() else Double.NegativeInfinity
    rows.foreach { r => n += 1; mx = math.max(mx, r.value) }
    nState.update(n)
    maxState.update(mx)
    Iterator.single(KeyStats(key, n, mx))
  }
}

/** Streaming per-key top-k (k=3) by (value DESC, id ASC) — the
  * transformWithState twin of the batch [[graft.functions.TopKAgg]]:
  * O(k) ValueState per key, the same total order (ties on value break
  * by id, so the kept set is unique under any batch/row order), rows
  * that do not beat the current k-th are O(k) no-state-write. Emitted
  * once per key per micro-batch (same single-batch contract as
  * [[KeyStatsProcessor]] under an AvailableNow file source).
  * Top-level class: processors are serialized to executors. */
class TopKProcessor(k: Int)
    extends StatefulProcessor[String, Obs, TopKOut] {
  @transient private var topState: ListState[(Double, Long)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    topState = getHandle.getListState[(Double, Long)](
      "top", Encoders.product[(Double, Long)], TTLConfig.NONE)

  /** (value DESC, id ASC) via Double.compare — NaN-total like TopKAgg. */
  private def beats(a: (Double, Long), b: (Double, Long)): Boolean = {
    val c = java.lang.Double.compare(a._1, b._1)
    c > 0 || (c == 0 && a._2 < b._2)
  }

  override def handleInputRows(key: String, rows: Iterator[Obs],
                               timerValues: TimerValues): Iterator[TopKOut] = {
    var top = topState.get().toList
    rows.foreach { r =>
      val cand = (r.value, r.id)
      if (top.size < k || beats(cand, top.last))
        top = (cand :: top).sortWith(beats).take(k)
    }
    topState.put(top.toArray)
    top.iterator.zipWithIndex.map { case ((v, id), i) =>
      TopKOut(key, id, v, i + 1)
    }
  }
}

/** Streaming per-key-per-category running counts through MapState —
  * the third transformWithState primitive (Value/List/Map all
  * exercised): one map entry per observed category, point-updated
  * (no full-map rewrite per row — the RocksDB column family stores
  * each map key separately). Emits the key's full category histogram
  * once per micro-batch; order-free counts, so deterministic under
  * any batch/row order. Top-level class: serialized to executors. */
class TypeCountsProcessor
    extends StatefulProcessor[String, TypedObs, TypeCount] {
  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[String, Long](
      "counts", Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[TypedObs],
                               timerValues: TimerValues): Iterator[TypeCount] = {
    rows.foreach { r =>
      val c = if (counts.containsKey(r.typ)) counts.getValue(r.typ) else 0L
      counts.updateValue(r.typ, c + 1)
    }
    counts.iterator().map { case (t, n) => TypeCount(key, t, n) }
  }
}

/** Gap-timeout sessionization through transformWithState EVENT-TIME
  * TIMERS — the fourth transformWithState primitive after Value (w19)
  * / List (w36) / Map (w38) state: rows inside a batch close sessions
  * inline on a strict `gap` exceedance; the per-key idle timer —
  * re-armed to lastSeen + gap on every input, stale timers deleted —
  * closes a session from [[handleExpiredTimer]] once the watermark
  * passes its timeout with NO newer input, the path a live
  * low-traffic key depends on in production. Both paths emit the
  * identical session row (exact integer first-id/count/cent-sum), and
  * a session is closed exactly once (input-path deletes the timer;
  * timer-path clears the state), so output CONTENT is invariant to
  * how the engine batches the files — the property that makes the
  * query oracle-able. StreamingSpec forces the timer-only closure
  * deterministically via a two-run checkpoint restart.
  * Top-level class: processors are serialized to executors. */
class SessionTimerProcessor(gapUs: Long)
    extends StatefulProcessor[String, Obs, SessTimerOut] {
  @transient private var st: ValueState[SessTimerState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    st = getHandle.getValueState[SessTimerState]("sess",
      Encoders.product[SessTimerState], TTLConfig.NONE)

  /** One live timer per key: the current session's timeout. The +1 ms
    * keeps the ms-granular expiry strictly after the micro-precise
    * timeout instant. */
  private def rearm(lastUs: Long): Unit = {
    getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
    getHandle.registerTimer(lastUs / 1000 + gapUs / 1000 + 1)
  }

  override def handleInputRows(key: String, rows: Iterator[Obs],
                               timerValues: TimerValues): Iterator[SessTimerOut] = {
    val sorted = rows.toIndexedSeq.sortBy(r => (r.ts, r.id))
    val out = Seq.newBuilder[SessTimerOut]
    var cur = if (st.exists()) Option(st.get()) else None
    sorted.foreach { r =>
      // floor(x+0.5) == BigDecimal HALF_UP on the positive cent lattice
      val c = math.round(r.value * 100)
      cur match {
        case Some(sess) if r.ts - sess.last > gapUs =>
          out += SessTimerOut(key, sess.first, sess.n, sess.sum)
          cur = Some(SessTimerState(r.id, 1L, c, r.ts))
        case Some(sess) =>
          // max() keeps `last` MONOTONE: a row arriving in a later
          // micro-batch with ts earlier than the stored session's
          // last (cross-batch disorder) is folded into the session
          // but cannot move its timeout backwards. Full batching-
          // invariance of session BOUNDARIES still assumes per-key
          // ts-ordered arrival across batches (the harness writes
          // ts-ordered files, the w37 pattern); this guard bounds
          // the failure mode to "late row joins the open session"
          // rather than "session timeout regresses".
          cur = Some(SessTimerState(sess.first, sess.n + 1L, sess.sum + c,
            math.max(sess.last, r.ts)))
        case None =>
          cur = Some(SessTimerState(r.id, 1L, c, r.ts))
      }
    }
    cur.foreach { sess => st.update(sess); rearm(sess.last) }
    out.result().iterator
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[SessTimerOut] = {
    if (st.exists()) {
      val sess = st.get()
      st.clear()
      Iterator.single(SessTimerOut(key, sess.first, sess.n, sess.sum))
    } else Iterator.empty
  }
}

object StreamingTemporal {

  /** Streaming EMA (pandas ewm adjust=False, W5): y_t = a·x_t +
    * (1-a)·y_{t-1}, continued across micro-batches via GroupState.
    * Rows inside a batch are folded in (ts, id) order — the same total
    * order as the batch window's (ts, event_id) order, so parity with
    * [[graft.functions.EwmAvg]] is exact provided events arrive in (or
    * before) the micro-batch their successors do. */
  def emaStream(ds: Dataset[Obs], alpha: Double): Dataset[EmaOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[EmaState, EmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Obs], state: GroupState[EmaState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.ts, r.id))
          var ema = state.getOption.map(_.ema)
          val out = sorted.map { r =>
            ema = Some(ema.fold(r.value)(prev => alpha * r.value + (1 - alpha) * prev))
            EmaOut(key, r.ts, r.id, r.value, ema.get)
          }
          ema.foreach(e => state.update(EmaState(e)))
          out.iterator
      }
  }

  /** Streaming last-touch attribution (the batch w58 shape as an
    * always-on stream): O(1) state per user — the most recent click
    * (ts, id) — updated on clicks, read on purchases, continued
    * across micro-batches. The online form of the ad-attribution
    * join every event pipeline runs; state never grows with history,
    * which is what makes it run forever. Exact integers end-to-end,
    * so stream output ≡ batch output row-for-row (the oracle IS the
    * batch SQL — hash-equality is the batch-parity proof). Same
    * in-order-arrival assumption as [[emaStream]]. */
  def attributionStream(ds: Dataset[AttrObs],
                        windowUs: Long): Dataset[AttrOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[ClickState, AttrOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[AttrObs], state: GroupState[ClickState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.ts, r.id))
          var lc = state.getOption
          val out = sorted.flatMap { r =>
            if (r.typ == "click") { lc = Some(ClickState(r.ts, r.id)); None }
            else Some(AttrOut(key, r.id, r.ts, lc.map(_.cid), lc.map(_.cts),
              lc.exists(c => r.ts - c.cts <= windowUs)))
          }
          lc.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming CUSUM (the batch w27 recursion, continued across
    * micro-batches): s_t = max(0, s_{t-1} + (round(x·100) − k)) per
    * key, O(1) long of state — the always-on drift monitor a
    * data-quality pipeline runs beside the batch detector. Exact
    * integer arithmetic end-to-end, so stream output ≡ batch output
    * row-for-row (the oracle IS the batch SQL: hash-equality is the
    * batch-parity proof). */
  def cusumStream(ds: Dataset[Obs], allowance: Long): Dataset[CusumOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Obs], state: GroupState[CusumState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.ts, r.id))
          var s = state.getOption.fold(0L)(_.s)
          val out = sorted.map { r =>
            // floor(x+0.5) == BigDecimal HALF_UP for the positive cents
            // lattice the events values live on (matches batch round())
            val c = math.round(r.value * 100)
            s = math.max(0L, s + (c - allowance))
            CusumOut(key, r.ts, r.id, c, s)
          }
          state.update(CusumState(s))
          out.iterator
      }
  }

  /** Streaming Page-Hinkley with a frozen calibration reference (the
    * batch w84 recursion as an always-on drift monitor): the first
    * `calN` observations per key freeze μ_ref; afterwards the ×calN
    * integer-lattice excursion m_t = calN·CS_t − t·(S_cal +
    * calN·δ) tracks drift-up via max(m − runmin). O(1) longs of
    * state per key, continued across micro-batches.
    *
    * HARD CONTRACT (same as [[emaStream]]): emits the CUMULATIVE
    * per-key row on every micro-batch in Append mode, so a
    * multi-batch run yields one row per key PER BATCH, the earlier
    * ones carrying intermediate statistics. Run under a single-batch
    * AvailableNow harness (the oracled use), or have consumers keep
    * only the max(n) row per key. With the single-batch harness the
    * emitted row is the final state, replayed exactly by the batch
    * oracle (everything is integer, so there is no fold-order
    * question at all). */
  def pageHinkleyStream(ds: Dataset[Obs], calN: Long = 8L,
                        deltaCents: Long = 50L,
                        lambdaScaled: Long = 24000L): Dataset[PhOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[PhState, PhOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Obs], state: GroupState[PhState]) =>
          var st = state.getOption.getOrElse(
            PhState(0L, 0L, 0L, Long.MaxValue, Long.MinValue))
          rows.toSeq.sortBy(r => (r.ts, r.id)).foreach { r =>
            val c = math.round(r.value * 100)
            val rn = st.rn + 1
            if (rn <= calN) st = st.copy(rn = rn, sCal = st.sCal + c)
            else {
              val i = rn - calN
              val cs = st.cs + c
              val m = cs * calN - i * (st.sCal + deltaCents * calN)
              val runmin = math.min(st.runmin, m)
              st = PhState(rn, st.sCal, cs, runmin,
                math.max(st.stat, m - runmin))
            }
          }
          state.update(st)
          if (st.rn > calN)
            Iterator.single(PhOut(key, st.rn - calN, st.sCal, st.stat,
              if (st.stat > lambdaScaled) 1L else 0L))
          else Iterator.empty
      }
  }

  /** Streaming 1D Kalman level filter (the batch w75 recursion as an
    * always-on estimator): x ← x + k·(z−x), p ← (1−k)·(p+q) with
    * k = (p+q)/(p+q+r) per observation, O(1) doubles of state per
    * key, continued across micro-batches. Emits the RUNNING
    * (n, x, p) once per key per micro-batch — the online level
    * estimate a monitoring pipeline reads; with the AvailableNow
    * harness that is the final state, replayed exactly by the
    * oracle's full-history left fold (same in-order-arrival
    * assumption as [[emaStream]], divisions of deterministic doubles
    * fold in the same (ts, id) order on both engines). */
  def kalmanStream(ds: Dataset[Obs], q: Double, r: Double): Dataset[KalmanOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[KalmanState, KalmanOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Obs], state: GroupState[KalmanState]) =>
          val sorted = rows.toSeq.sortBy(r0 => (r0.ts, r0.id))
          var st = state.getOption
          sorted.foreach { r0 =>
            val z = math.round(r0.value * 100).toDouble
            st = Some(st.fold(KalmanState(z, r, 1L)) { s0 =>
              val pp = s0.p + q
              val k = pp / (pp + r)
              KalmanState(s0.x + k * (z - s0.x), (1.0 - k) * pp, s0.n + 1L)
            })
          }
          st match {
            case Some(s0) =>
              state.update(s0)
              Iterator.single(KalmanOut(key, s0.n, s0.x, s0.p))
            case None => Iterator.empty
          }
      }
  }

  /** Streaming trailing rolling mean over the last `k` observations
    * per key (W2, min_periods=1), state-bounded to k values. */
  def rollingMeanStream(ds: Dataset[Obs], k: Int): Dataset[RollOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.key)
      .flatMapGroupsWithState[RollState, RollOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Obs], state: GroupState[RollState]) =>
          var recent = state.getOption.map(_.recent).getOrElse(Nil)
          val out = rows.toSeq.sortBy(r => (r.ts, r.id)).map { r =>
            recent = (r.value :: recent).take(k)
            // Sum oldest-first: the same left-fold order as a batch
            // window's list fold, so the double result is bitwise
            // identical to the batch/oracle computation.
            val mean = recent.reverse.foldLeft(0.0)(_ + _) / recent.size
            RollOut(key, r.ts, r.id, r.value, mean, recent.size)
          }
          state.update(RollState(recent))
          out.iterator
      }
  }

  /** Event-time tumbling-window mean with watermark — the built-in
    * engine handles state, late data, and window eviction. */
  def windowedMean(df: DataFrame, tsCol: String, valueCol: String,
                   keyCol: String, windowDur: String,
                   watermark: String = "10 seconds"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .groupBy(col(keyCol), window(col(tsCol), windowDur))
      .agg(avg(col(valueCol)).as("mean_value"),
        count(lit(1)).as("n"))
}
