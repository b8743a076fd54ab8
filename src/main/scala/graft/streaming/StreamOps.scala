package graft.streaming

import graft.{F, Tables}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Event for [[StreamOps.streamingSessionize]]. */
case class SessEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

/** Open-session state kept per user between micro-batches. */
case class SessState(startMs: Long, endMs: Long, n: Long, total: Double)

/** A closed session emitted once its gap has passed the watermark. */
case class Session(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long, total_value: Double)

/** Event for [[StreamOps.streamingWma]]. */
case class WmaEvent(event_type: String, event_id: Long, ts: java.sql.Timestamp, value: Double)

/** Arriving document for [[StreamOps.streamingIncrementalDedup]]. */
case class DocEvent(doc_id: Long, text: String)

/** Arriving event for [[StreamOps.streamingSketchProfile]]. */
case class ProfileEvent(event_type: String, user_id: Long, value: Double)

/** Arriving tick for [[StreamOps.streamingOhlc]]. */
case class TickEvent(event_type: String, event_id: Long,
                     ts: java.sql.Timestamp, value: Double)

/** Arriving vector for [[StreamOps.streamingAnnIndex]]. */
case class VecEvent(vec_id: Long, v: Seq[Double])

/** Full OHLC bar for [[StreamOps.streamingHeikinAshi]]. */
case class OhlcEvent(event_type: String, ts: java.sql.Timestamp,
                     open: Double, high: Double, low: Double, close: Double)

/** Heikin-Ashi carried state: previous HA open/close. */
case class HaState(hao: Double, hac: Double, started: Boolean)

/** One Heikin-Ashi bar per input bar. */
case class HaOut(event_type: String, ts_ms: Long, ha_open: Double,
                 ha_high: Double, ha_low: Double, ha_close: Double)

/** ADX carried state: delta count, previous bar, four RMA accumulators. */
case class AdxState(j: Long, ph: Double, pl: Double, pc: Double,
                    atr: Double, ps: Double, ns: Double, adx: Double,
                    started: Boolean)

/** One directional-movement observation per bar after the seed; fields
  * None until their warmup (n deltas for DI/DX, 2n−1 for ADX). */
case class AdxOut(event_type: String, ts_ms: Long, di_plus: Option[Double],
                  di_minus: Option[Double], dx: Option[Double], adx: Option[Double])

/** TRIX carried state: the three EWMA stages. */
case class TrixState(e1: Double, e2: Double, e3: Double, started: Boolean)

/** Carried state for [[StreamOps.streamingHolt]]: bars seen, previous
  * value, level, trend — the batch scan's exact O(1) state. */
case class HoltState(n: Long, px: Double, l: Double, b: Double)

case class HoltOut(event_type: String, event_id: Long, ts_ms: Long,
                   level: Double, trend: Option[Double],
                   forecast: Option[Double], err: Option[Double])

/** One TRIX observation per event; trix None on the first event. */
case class TrixOut(event_type: String, event_id: Long, ts_ms: Long,
                   e3: Double, trix: Option[Double])

/** One OHLC bar for [[StreamOps.streamingSupertrend]]. */
case class BarEvent(event_type: String, ts: java.sql.Timestamp,
                    high: Double, low: Double, close: Double)

/** Supertrend carried state — O(1) per key: RMA ATR, the two ratcheted
  * bands, trend direction, previous close. */
case class StState(atr: Double, fu: Double, fl: Double, trend: Int,
                   pc: Double, started: Boolean)

/** One supertrend observation per bar. */
case class StOut(event_type: String, ts_ms: Long, close: Double,
                 atr: Double, supertrend: Double, trend: Int)

/** Input for [[StreamOps.streamingAsof]]: side 0 = right (reference
  * series, e.g. quotes/views), side 1 = left (rows to enrich). */
case class AsofEvent(key: Long, side: Int, id: Long, ts: java.sql.Timestamp, value: Double)

/** Latest right row seen per key (O(1) state). */
case class AsofState(rTsMs: Long, rId: Long, rValue: Double)

/** One enriched left row; asof_* are None until a right row precedes. */
case class AsofOut(key: Long, id: Long, ts_ms: Long, value: Double,
                   asof_ts_ms: Option[Long], asof_id: Option[Long], asof_value: Option[Double])

/** Rolling window of the n−1 most recent values per key (oldest first). */
case class WmaState(recent: List[Double])

/** Event for [[StreamOps.streamingBollinger]]. */
case class BollEvent(event_type: String, event_id: Long, ts: java.sql.Timestamp, value: Double)

/** The n values BEFORE the next event, oldest first (O(n) per key). */
case class BollState(recent: List[Double])

/** One banded observation; bands are None until n prior values exist. */
case class BollOut(event_type: String, event_id: Long, ts_ms: Long, value: Double,
                   mid: Option[Double], upper: Option[Double], lower: Option[Double],
                   breakout: Option[Int])

/** One WMA observation per input event; `wma` is None until the window
  * is full (pandas_ta semantics, matching batch q11). */
case class WmaOut(event_type: String, event_id: Long, ts_ms: Long, value: Double, wma: Option[Double])

/** State for [[StreamOps.streamingRsi]]: the previous value and the
  * last n deltas, oldest first (O(n) per key). */
case class RsiState(prev: Option[Double], deltas: List[Double])

/** One RSI observation per input event; `rsi` is None until n deltas
  * exist (matching batch q36's warmup nulls). */
case class RsiOut(event_type: String, event_id: Long, ts_ms: Long, value: Double, rsi: Option[Double])

/** State for [[StreamOps.streamingEwma]]: the running exact-EWMA
  * accumulator — O(1) per key, independent of stream length. */
case class EwmaState(acc: Option[Double])

/** State for [[StreamOps.streamingKalman]]: the filtered level and
  * posterior variance — O(1) per key, the filter's whole memory. */
case class KalmanState(level: Option[Double], p: Double)

/** One Kalman observation per input event. */
case class KalmanOut(event_type: String, event_id: Long, ts_ms: Long, value: Double,
                     level: Double, variance: Double)

/** State for [[StreamOps.streamingGarch]]: the running conditional
  * variance and the previous squared innovation — O(1) per key. */
case class GarchState(s2: Option[Double], prevR2: Double)

/** One GARCH observation per input innovation. */
case class GarchOut(event_type: String, event_id: Long, ts_ms: Long, value: Double,
                    sigma2: Double, sigma: Double)

/** State for [[StreamOps.streamingVolumeBars]]: the OPEN bar's
  * accumulators — O(1) per key; completed bars are emitted, the
  * in-progress bar lives only in state. */
case class VbarState(bar: Long, startMs: Long, endMs: Long, n: Long,
                     open: Double, high: Double, low: Double, close: Double,
                     vol: Double, notional: Double, cumVol: Double)

/** One COMPLETED volume bar (emitted when the clock rolls past it). */
case class VbarOut(event_type: String, bar: Long, start_ms: Long, end_ms: Long,
                   n_fills: Long, open: Double, high: Double, low: Double,
                   close: Double, volume: Double, vwap: Double)

/** One fill for [[StreamOps.streamingVolumeBars]]. */
case class FillEvent(event_type: String, event_id: Long, ts: java.sql.Timestamp,
                     price: Double, volume: Double)

/** State for [[StreamOps.streamingMacd]]: the fast/slow value EWMAs
  * and the signal EWMA of their difference — O(1) per key. */
case class MacdState(eFast: Double, eSlow: Double, sig: Double)

/** One MACD observation per input event. */
case class MacdOut(event_type: String, event_id: Long, ts_ms: Long, value: Double,
                   macd: Double, signal: Double, hist: Double)

/** One bar for [[StreamOps.streamingObv]]: a close and its volume. */
case class ObvEvent(event_type: String, event_id: Long, ts: java.sql.Timestamp,
                    close: Double, volume: Double)

/** State for [[StreamOps.streamingObv]]: previous close + running OBV
  * — O(1) per key. */
case class ObvState(prevClose: Option[Double], obv: Double)

/** One OBV observation per input bar (first bar contributes 0, like
  * batch [[graft.Graft.obv]]'s null first delta). */
case class ObvOut(event_type: String, event_id: Long, ts_ms: Long,
                  close: Double, obv: Double)

/** State for [[StreamOps.streamingStochastic]]: the last n (high, low)
  * pairs and the last dPeriod−1 %K values, oldest first — O(n)/key. */
case class StochState(bars: List[(Double, Double)], pks: List[Option[Double]])

/** One stochastic observation per input bar. */
case class StochOut(event_type: String, event_id: Long, ts_ms: Long, close: Double,
                    pct_k: Option[Double], pct_d: Option[Double])

/** State for [[StreamOps.streamingExtrema]]: the last n values,
  * oldest first — O(n)/key. */
case class ExtremaState(vals: List[Double])

/** One rolling-extrema observation per input event. */
case class ExtremaOut(event_type: String, event_id: Long, ts_ms: Long, value: Double,
                      roll_min: Option[Double], roll_max: Option[Double])

/** One OHLC bar for [[StreamOps.streamingAtr]]. */
case class AtrEvent(event_type: String, event_id: Long, ts: java.sql.Timestamp,
                    high: Double, low: Double, close: Double)

/** State for [[StreamOps.streamingAtr]]: previous close, the running
  * cumulative true-range sum, the row count, and the cum values of the
  * last n rows (so atr can subtract the cum EXACTLY n rows back — the
  * same two prefix sums the batch window differences). O(n) per key. */
case class AtrState(prevClose: Option[Double], cum: Double, rn: Long, cums: List[Double])

/** One ATR observation per input bar; `atr` is None until n bars. */
case class AtrOut(event_type: String, event_id: Long, ts_ms: Long,
                  close: Double, tr: Double, atr: Option[Double])

/** One exact-EWMA observation per input event (first event's ewma is
  * its own value — pandas `ewm(adjust=False)` init). */
case class EwmaOut(event_type: String, event_id: Long, ts_ms: Long, value: Double, ewma: Double)

/** State for [[StreamOps.streamingAdfMonitor]]: previous close + the
  * five running OLS sums and the pair count — O(1) per key,
  * independent of stream length (the associative-sums property the
  * batch cumulative windows rely on). */
case class AdfMonState(prevClose: Option[Double], n: Long, sx: Double,
                       sy: Double, sxy: Double, sx2: Double, sy2: Double)

/** One running ADF/OU observation per bar AFTER the first (a lag pair
  * must exist) — the st06 row shape. */
case class AdfMonOut(event_type: String, event_id: Long, ts_ms: Long,
                     n_obs: Long, beta: Option[Double], df_stat: Option[Double],
                     stationary: Option[Boolean], mean_reverting: Option[Boolean],
                     kappa: Option[Double], halflife_bars: Option[Double])

/** State for [[StreamOps.streamingCusum]]: the two one-sided decision
  * statistics (Page's test). O(1) per key, independent of stream
  * length. */
case class CusumState(sPos: Double, sNeg: Double)

/** One online-CUSUM observation per event; `alarm` marks the row whose
  * update crossed the threshold (statistics reset to 0 after it). */
case class CusumOut(event_type: String, event_id: Long, ts_ms: Long,
                    value: Double, s_pos: Double, s_neg: Double, alarm: Boolean)

/** Streaming operators (SURVEY.md §2 #33-34).
  *
  * The reference polls REST endpoints on a scheduler and upserts
  * (crypto_data_pipeline_duckdb.py:1612-1680); the Spark-native
  * equivalent is Structured Streaming. The transforms here are plain
  * Column logic over an unbounded or bounded DataFrame — the SAME
  * function runs in a `readStream` pipeline (see StreamingSpec) and in
  * the batch entries the driver oracle-checks. Event-time correctness
  * comes from watermarks, supplied by the caller on the streaming side.
  */
object StreamOps {
  type Q = (SparkSession, String) => DataFrame
  import Tables.t
  import F._

  /** Tumbling 1-hour event-time aggregation — shared batch/streaming.
    * On a stream: `tumblingAgg(readStream.withWatermark("ts", "2 hours"))`.
    * One shuffle on (window, event_type); partial aggregation map-side. */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_raw"))

  /** Presentation projection for the tumbling agg (epoch-ms boundary). */
  def tumblingAggOut(agg: DataFrame): DataFrame =
    agg.select(unix_millis(col("window.start")).as("bucket_ms"), col("event_type"),
        col("n"), r4(col("total_raw")).as("total"))

  /** #33 batch-equivalent entry: the tumbling agg over the events table.
    * Streaming equivalence (watermark + memory sink) is proven in
    * StreamingSpec with the same [[tumblingAgg]] plan. */
  private val st01: Q = (s, dir) =>
    tumblingAggOut(tumblingAgg(t(s, dir, "events"))).orderBy("bucket_ms", "event_type")

  private val st01Sql =
    """SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms, event_type,
      |  count(*) AS n, round(sum(value), 4) AS total
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY bucket_ms, event_type""".stripMargin

  /** NATIVE gap-session aggregation — Spark's `session_window` operator
    * (the engine-managed counterpart of the hand-rolled q14 islands scan
    * and the flatMapGroupsWithState [[streamingSessionize]]): per user,
    * a session extends while consecutive events arrive < 30 min apart
    * and its window ends at last-event-ts + gap. At the exact boundary
    * session_window MERGES (an event landing ON the open session's end
    * extends it; splits are strictly diff > gap — q14's rule, pinned in
    * Round13Spec), so the oracle's islands scan uses `>` like q14's.
    * Shared batch/streaming: on a stream the SAME plan runs under a
    * watermark in append mode and each session emits exactly once,
    * when the watermark passes its end (state is merged per key by the
    * engine — O(open sessions), not O(events)). One shuffle on
    * user_id; at 100 TB the state store holds only open sessions. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), col("ts"), col("value"))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_raw"))

  /** Presentation projection for [[sessionAgg]] (epoch-ms bounds). */
  def sessionAggOut(agg: DataFrame): DataFrame =
    agg.select(col("user_id"),
      unix_millis(col("session_window.start")).as("start_ms"),
      unix_millis(col("session_window.end")).as("end_ms"),
      col("n_events"), r4(col("total_raw")).as("total_value"))

  /** #35g batch-equivalent entry: native session windows over the
    * events table. Streaming equivalence (watermark + append-mode
    * memory sink, sentinel-flushed) is proven in Round13Spec with the
    * same [[sessionAgg]] plan. */
  private val st07: Q = (s, dir) =>
    sessionAggOut(sessionAgg(t(s, dir, "events"))).orderBy("user_id", "start_ms")

  private val st07Sql =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, value,
      |    lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |  FROM events),
      |f AS (
      |  SELECT *, CASE WHEN prev_ts IS NULL
      |      OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |s AS (
      |  SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |  FROM f)
      |SELECT user_id, epoch_ms(min(ts)) AS start_ms,
      |  epoch_ms(max(ts)) + 1800000 AS end_ms,
      |  count(*) AS n_events, round(sum(value), 4) AS total_value
      |FROM s
      |GROUP BY user_id, sid
      |ORDER BY user_id, start_ms""".stripMargin

  /** Streaming dedup: first arrival per (user_id, event_type, minute)
    * wins, state bounded by the watermark. */
  def streamingDedup(events: DataFrame): DataFrame =
    events
      .withColumn("bucket", date_trunc("minute", col("ts")))
      .dropDuplicatesWithinWatermark("user_id", "event_type", "bucket")

  /** #34 batch-equivalent entry: deterministic keep-first per
    * (user_id, event_type, minute bucket) — what [[streamingDedup]]
    * converges to when arrival order is event-time order. */
  private val st02: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id"), col("event_type"), col("bucket"))
      .orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .withColumn("bucket", date_trunc("minute", col("ts")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), epochMs(col("bucket")).as("bucket_ms"),
        col("event_id"), epochMs(col("ts")).as("ts_ms"), col("value"))
      .orderBy("user_id", "event_type", "bucket_ms")
  }

  private val st02Sql =
    """SELECT user_id, event_type, epoch_ms(bucket) AS bucket_ms, event_id, epoch_ms(ts) AS ts_ms, value
      |FROM (
      |  SELECT *, date_trunc('minute', ts) AS bucket,
      |    row_number() OVER (PARTITION BY user_id, event_type, date_trunc('minute', ts)
      |      ORDER BY ts, event_id) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id, event_type, bucket_ms""".stripMargin

  /** Stream-stream interval join — shared batch/streaming transform:
    * each purchase pairs with every view by the same user in the
    * `windowMs` interval ENDING at the purchase (attribution shape).
    * Inputs must carry the exact columns produced by [[st03Purchases]]
    * / [[st03Views]]. The time bound is expressed as an event-time
    * interval condition so Spark's stream-stream join derives state
    * watermarks from it — each side's buffered state is bounded by
    * (watermark − window), the scalable shape at any stream rate.
    *
    * `joinType` "left_outer" keeps unattributed purchases (null view
    * columns); on a stream the outer row emits once the watermark
    * passes the purchase's window, i.e. when no matching view can
    * still arrive — proven in StreamingSpec. */
  def intervalJoin(purchases: DataFrame, views: DataFrame, windowMs: Long,
                   joinType: String = "inner"): DataFrame =
    purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") >= col("p_ts") - expr(s"INTERVAL $windowMs MILLISECONDS") &&
        col("v_ts") <= col("p_ts"),
      joinType)

  /** Purchase side of [[intervalJoin]] from a raw events frame. */
  def st03Purchases(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event_id"), col("user_id"), col("ts").as("p_ts"))

  /** View side of [[intervalJoin]] from a raw events frame. */
  def st03Views(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "view")
      .select(col("event_id").as("v_event_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"), col("value").as("v_value"))

  /** #35 batch-equivalent entry: views attributed to purchases within a
    * 2-hour look-back. Streaming equivalence (both sides watermarked
    * MemoryStreams) is proven in StreamingSpec with the same
    * [[intervalJoin]] plan. */
  private val st03: Q = (s, dir) => {
    val e = t(s, dir, "events")
    intervalJoin(st03Purchases(e), st03Views(e), windowMs = 7200000L)
      .select(col("p_event_id"), col("v_event_id"), col("user_id"),
        epochMs(col("p_ts")).as("p_ts_ms"), epochMs(col("v_ts")).as("v_ts_ms"),
        (epochMs(col("p_ts")) - epochMs(col("v_ts"))).as("lag_ms"), col("v_value"))
      .orderBy("p_event_id", "v_event_id")
  }

  private val st03Sql =
    """WITH p AS (
      |  SELECT event_id AS p_event_id, user_id, ts AS p_ts
      |  FROM events WHERE event_type = 'purchase'),
      |v AS (
      |  SELECT event_id AS v_event_id, user_id AS v_user, ts AS v_ts, value AS v_value
      |  FROM events WHERE event_type = 'view')
      |SELECT p_event_id, v_event_id, user_id,
      |  epoch_ms(p_ts) AS p_ts_ms, epoch_ms(v_ts) AS v_ts_ms,
      |  epoch_ms(p_ts) - epoch_ms(v_ts) AS lag_ms, v_value
      |FROM p JOIN v ON user_id = v_user
      |  AND v_ts >= p_ts - INTERVAL 2 HOUR AND v_ts <= p_ts
      |ORDER BY p_event_id, v_event_id""".stripMargin

  /** Top-k ranking over a windowed aggregate — the sink-side half of a
    * streaming leaderboard. Ranking needs the whole window's counts,
    * so in a streaming deployment [[tumblingAgg]] runs WITH a
    * watermark (append mode emits each window once, final) and this
    * rank runs per emitted window — in `foreachBatch` or on the sink
    * table — never inside the append stream (proven equivalent in
    * StreamingSpec). Batch: one window shuffle after the agg. */
  def windowTopK(agg: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("window")).orderBy(col("n").desc, col("event_type"))
    agg.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** #35b batch-equivalent entry: hourly top-3 event types by count —
    * the windowed leaderboard over the events stream. */
  private val st04: Q = (s, dir) =>
    windowTopK(tumblingAgg(t(s, dir, "events")), k = 3)
      .select(unix_millis(col("window.start")).as("bucket_ms"), col("rank"),
        col("event_type"), col("n"), r4(col("total_raw")).as("total"))
      .orderBy("bucket_ms", "rank")

  private val st04Sql =
    """WITH a AS (
      |  SELECT date_trunc('hour', ts) AS b, event_type,
      |    count(*) AS n, sum(value) AS total_raw
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY b ORDER BY n DESC, event_type) AS BIGINT) AS rank
      |  FROM a)
      |SELECT epoch_ms(b) AS bucket_ms, rank, event_type, n, round(total_raw, 4) AS total
      |FROM r WHERE rank <= 3
      |ORDER BY bucket_ms, rank""".stripMargin

  /** Windowed data-quality monitoring — the ds11 constraint suite as a
    * CONTINUOUS gate, shared batch/streaming: per tumbling 1-hour
    * window, volume, value completeness, event-type domain conformity
    * and value-range conformity. Every aggregate is an associative
    * integer COUNT (no distincts, no order-dependent float sums), so
    * the streaming run is bit-equal to the batch run and the state per
    * window is four longs. On a stream:
    * `windowedQuality(readStream.withWatermark("ts", "2 hours"))`. */
  def windowedQuality(events: DataFrame,
                      domain: Seq[String] = Seq("view", "click", "purchase", "signup", "error"),
                      lo: Double = 0.0, hi: Double = 1e6): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"),
        count(col("value")).as("n_value"),
        sum(when(col("event_type").isin(domain: _*), 1L).otherwise(0L)).as("n_domain"),
        sum(when(col("value").between(lo, hi), 1L).otherwise(0L)).as("n_range"))

  /** Presentation + gating projection for [[windowedQuality]]: fractions
    * are long/long divisions (bit-exact), `passed` ANDs the volume and
    * conformity thresholds. */
  def windowedQualityOut(agg: DataFrame, minN: Long = 50,
                         minComplete: Double = 0.99, minConform: Double = 0.999): DataFrame =
    agg.select(
        unix_millis(col("window.start")).as("bucket_ms"),
        col("n"), col("n_value"),
        r6(col("n_value") / col("n").cast("double")).as("value_complete"),
        r6(col("n_domain") / col("n").cast("double")).as("domain_frac"),
        r6(col("n_range") / col("n").cast("double")).as("range_frac"),
        (col("n") >= minN &&
          col("n_value") / col("n").cast("double") >= minComplete &&
          col("n_domain") / col("n").cast("double") >= minConform &&
          col("n_range") / col("n").cast("double") >= minConform).as("passed"))

  /** #33e batch-equivalent entry: the continuous quality gate over the
    * events table; streaming equivalence (watermark + memory sink) is
    * proven in StreamingSpec with the same [[windowedQuality]] plan. */
  private val st05: Q = (s, dir) =>
    windowedQualityOut(windowedQuality(t(s, dir, "events"))).orderBy("bucket_ms")

  private val st05Sql =
    """WITH a AS (
      |  SELECT epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
      |    count(*) AS n, count(value) AS n_value,
      |    sum(CASE WHEN event_type IN ('view','click','purchase','signup','error') THEN 1 ELSE 0 END) AS n_domain,
      |    sum(CASE WHEN value BETWEEN 0.0 AND 1000000.0 THEN 1 ELSE 0 END) AS n_range
      |  FROM events GROUP BY 1)
      |SELECT bucket_ms, n, n_value,
      |  round(n_value / CAST(n AS DOUBLE), 6) AS value_complete,
      |  round(n_domain / CAST(n AS DOUBLE), 6) AS domain_frac,
      |  round(n_range / CAST(n AS DOUBLE), 6) AS range_frac,
      |  (n >= 50 AND n_value / CAST(n AS DOUBLE) >= 0.99
      |    AND n_domain / CAST(n AS DOUBLE) >= 0.999
      |    AND n_range / CAST(n AS DOUBLE) >= 0.999) AS passed
      |FROM a ORDER BY bucket_ms""".stripMargin

  /** #33f batch-equivalent entry (st06): the q92/q95 econometrics as a
    * RUNNING monitor over hourly closes — one row per bar with the
    * prefix DF(0) t-stat, stationarity verdict, and OU half-life
    * ([[graft.ops.EconOps.adfTrajectoryOf]]); the continuous twin
    * [[streamingAdfMonitor]] reproduces every row bit-for-bit from
    * O(1) per-key state (StreamTwin9Spec). */
  private val st06: Q = (s, dir) =>
    graft.ops.EconOps.adfTrajectoryOf(
        graft.Graft.resampleOhlc(t(s, dir, "events"), "event_type", "ts",
            "event_id", "value", "hour")
          .select(col("event_type"), col("bucket"), col("close")),
        "event_type", "bucket", "close")
      .select(col("series"), unix_millis(col("bucket")).as("bucket_ms"),
        col("n_obs"), r6(col("beta")).as("beta"), r6(col("df_stat")).as("df_stat"),
        col("stationary"), col("mean_reverting"),
        r6(col("kappa")).as("kappa"), r6(col("halflife_bars")).as("halflife_bars"))
      .orderBy("series", "bucket_ms")

  private val st06Sql =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    last(value ORDER BY ts, event_id) AS close
      |  FROM events GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, bucket, close,
      |    lag(close, 1) OVER (PARTITION BY event_type ORDER BY bucket) AS xl
      |  FROM b),
      |d AS (
      |  SELECT event_type, bucket, xl, close - xl AS dy
      |  FROM c WHERE xl IS NOT NULL),
      |e AS (
      |  SELECT event_type, bucket,
      |    row_number() OVER o AS rn,
      |    sum(xl) OVER w AS sx, sum(dy) OVER w AS sy,
      |    sum(xl * dy) OVER w AS sxy, sum(xl * xl) OVER w AS sx2,
      |    sum(dy * dy) OVER w AS sy2
      |  FROM d
      |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket),
      |    w AS (PARTITION BY event_type ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f AS (
      |  SELECT event_type, bucket, rn,
      |    sx2 - sx * sx / CAST(rn AS DOUBLE) AS cxx,
      |    sxy - sx * sy / CAST(rn AS DOUBLE) AS cxy,
      |    sy2 - sy * sy / CAST(rn AS DOUBLE) AS cyy
      |  FROM e),
      |g AS (
      |  SELECT event_type, bucket, rn, cxx, cxy, cyy,
      |    CASE WHEN rn > 2 AND cxx > 0.0 THEN cxy / cxx END AS beta
      |  FROM f),
      |h AS (
      |  SELECT event_type, bucket, rn, cxx, beta,
      |    greatest(cyy - beta * cxy, 0.0) AS sse
      |  FROM g),
      |i AS (
      |  SELECT event_type, bucket, rn, beta,
      |    CASE WHEN beta IS NOT NULL
      |      THEN sqrt((sse / (CAST(rn AS DOUBLE) - 2.0)) / cxx) END AS se
      |  FROM h),
      |j AS (
      |  SELECT event_type, bucket, rn, beta,
      |    CASE WHEN se > 0.0 THEN beta / se END AS df_stat
      |  FROM i),
      |k AS (
      |  SELECT event_type, bucket, rn, beta, df_stat,
      |    CASE WHEN beta IS NOT NULL THEN beta < 0.0 AND beta > -1.0 END AS mean_reverting
      |  FROM j),
      |l AS (
      |  SELECT event_type, bucket, rn, beta, df_stat, mean_reverting,
      |    CASE WHEN mean_reverting THEN -ln(1.0 + beta) END AS kappa
      |  FROM k)
      |SELECT event_type AS series, epoch_ms(bucket) AS bucket_ms,
      |  CAST(rn AS BIGINT) AS n_obs,
      |  round(beta, 6) AS beta, round(df_stat, 6) AS df_stat,
      |  CASE WHEN df_stat IS NOT NULL THEN df_stat < -2.86 END AS stationary,
      |  mean_reverting,
      |  round(kappa, 6) AS kappa,
      |  round(CASE WHEN kappa > 0.0 THEN ln(2.0) / kappa END, 6) AS halflife_bars
      |FROM l
      |ORDER BY series, bucket_ms""".stripMargin

  /** Page's one-sided CUSUM drift detector, batch form (the
    * [[streamingCusum]] twin — public operator behind
    * [[graft.Graft.pageCusum]]): per series the FIRST HALF of the
    * rows (in (`ts`, `tie`) order) is the frozen reference period —
    * target μ and scale σ come from it and ONLY it, so the detector
    * is causal (q53's offline CUSUM sees the whole series; a deployed
    * monitor cannot) — and every later row folds Page's recurrence
    *   s⁺ = max(0, s⁺ + (x − μ − k)),  s⁻ = max(0, s⁻ + (μ − x − k))
    * with slack k = `slackSigma`·σ and threshold h = `hSigma`·σ,
    * alarming when either side exceeds h and resetting both to 0
    * after an alarm (each alarm opens a fresh decision interval —
    * the exact [[streamingCusum]] update, same float op order, so
    * batch == stream BIT-for-bit given the same μ/k/h).
    *
    * Exactness: μ/σ from cumulative folds taken at the reference's
    * last row (the q53/q33 rule — never unordered hash-agg double
    * sums); the recurrence is an irreducibly sequential segmented
    * scan (max(0,·) is non-affine — no ParScan form), run as ONE
    * series-key shuffle streamed in sorted order with O(1) state
    * (the [[graft.ops.ScanOps]] contract); σ·0.5 and σ·4.0 are
    * exact (powers of two). Series with n div 2 < 2 reference rows
    * or zero reference variance emit nothing (no scale to detect
    * against). Emits one row per MONITORED row: (`key`, ts_ms,
    * `tie`, value, s_pos, s_neg, alarm) — s_pos/s_neg are the
    * pre-reset decision statistics, alarm marks the crossing row. */
  def pageCusumOf(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
                  valueCol: String, slackSigma: Double = 0.5,
                  hSigma: Double = 4.0): DataFrame = {
    require(slackSigma >= 0, s"slackSigma must be >= 0, got $slackSigma")
    require(hSigma > 0, s"hSigma must be > 0, got $hSigma")
    val s = df.sparkSession
    import s.implicits._
    val base = df.select(col(keyCol).cast("string").as("__k"),
      F.epochMs(col(tsCol)).as("__t"), col(tieCol).cast("long").as("__i"),
      col(valueCol).cast("double").as("__x"))
    val wOrd = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__i"))
    val cum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val marked = base
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("__k"))))
      .withColumn("cy", sum(col("__x")).over(cum))
      .withColumn("cyy", sum(col("__x") * col("__x")).over(cum))
    val mu = col("cy") / col("rn").cast("double")
    val stats = marked
      .filter(col("rn") === expr("n div 2") && col("rn") >= 2)
      .withColumn("target", mu)
      .withColumn("__var",
        col("cyy") / col("rn").cast("double") - col("target") * col("target"))
      .filter(col("__var") > 0)
      .withColumn("__sigma", sqrt(col("__var")))
      .select(col("__k"), col("rn").as("__nref"), col("target"),
        (col("__sigma") * slackSigma).as("slack"),
        (col("__sigma") * hSigma).as("h"))
    marked.join(stats, "__k").filter(col("rn") > col("__nref"))
      .select(col("__k"), col("__t"), col("__i"), col("__x"),
        col("target"), col("slack"), col("h"))
      .as[(String, Long, Long, Double, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("__t").asc, col("__i").asc) { (k, rows) =>
        var sp = 0.0
        var sn = 0.0
        rows.map { case (_, t, i, v, target, slack, h) =>
          // the exact streamingCusum update, same op order
          val p = math.max(0.0, sp + (v - target - slack))
          val ng = math.max(0.0, sn + (target - v - slack))
          val alarm = p > h || ng > h
          if (alarm) { sp = 0.0; sn = 0.0 } else { sp = p; sn = ng }
          (k, t, i, v, p, ng, alarm)
        }
      }
      .toDF(keyCol, "ts_ms", tieCol, "value", "s_pos", "s_neg", "alarm")
  }

  /** #33k batch-equivalent entry (st11): Page's online CUSUM as a
    * RUNNING drift monitor over each event series — reference μ/σ
    * frozen on the first half, every later row a decision statistic
    * with alarm+reset ([[pageCusumOf]]); the continuous twin
    * [[streamingCusum]] reproduces every monitored row bit-for-bit
    * from O(1) per-key state (Round14Spec). */
  private val st11: Q = (s, dir) =>
    pageCusumOf(t(s, dir, "events"), "event_type", "ts", "event_id", "value")
      .select(col("event_type").as("series"), col("ts_ms"), col("event_id"),
        col("value"), F.r6(col("s_pos")).as("s_pos"),
        F.r6(col("s_neg")).as("s_neg"), col("alarm"))
      .orderBy("series", "ts_ms", "event_id")

  /** The oracle replays the recurrence as a per-row prefix fold over
    * the monitored rows (list_reduce in DOUBLE[5] state: [s⁺ post-
    * reset, s⁻ post-reset, s⁺ raw, s⁻ raw, x] — the reset couples
    * the two sides, so one scalar fold per side cannot express it),
    * with μ/σ from the same cumulative-fold-at-the-reference-last-row
    * chain as the Spark side. */
  private val st11Sql =
    """WITH b AS (
      |  SELECT event_type, event_id, ts, value,
      |    row_number() OVER o AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n,
      |    sum(value) OVER w AS cy,
      |    sum(value * value) OVER w AS cyy
      |  FROM events
      |  WINDOW o AS (PARTITION BY event_type ORDER BY ts, event_id),
      |    w AS (PARTITION BY event_type ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |st AS (
      |  SELECT event_type, rn AS nref,
      |    cy / CAST(rn AS DOUBLE) AS target,
      |    sqrt(cyy / CAST(rn AS DOUBLE)
      |      - (cy / CAST(rn AS DOUBLE)) * (cy / CAST(rn AS DOUBLE))) AS sigma
      |  FROM b
      |  WHERE rn = n // 2 AND rn >= 2
      |    AND cyy / CAST(rn AS DOUBLE)
      |      - (cy / CAST(rn AS DOUBLE)) * (cy / CAST(rn AS DOUBLE)) > 0),
      |m AS (
      |  SELECT b.event_type, b.event_id, b.ts, b.value,
      |    st.target, st.sigma * 0.5 AS slack, st.sigma * 4.0 AS h,
      |    list(b.value) OVER (PARTITION BY b.event_type ORDER BY b.ts, b.event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
      |  FROM b JOIN st ON b.event_type = st.event_type
      |  WHERE b.rn > st.nref),
      |f AS (
      |  SELECT event_type, event_id, ts, value, h,
      |    list_reduce(
      |      list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
      |        list_transform(pre, v -> [0.0, 0.0, 0.0, 0.0, v])),
      |      (a, x) -> [
      |        CASE WHEN greatest(0.0, a[1] + ((x[5] - target) - slack)) > h
      |               OR greatest(0.0, a[2] + ((target - x[5]) - slack)) > h
      |          THEN 0.0
      |          ELSE greatest(0.0, a[1] + ((x[5] - target) - slack)) END,
      |        CASE WHEN greatest(0.0, a[1] + ((x[5] - target) - slack)) > h
      |               OR greatest(0.0, a[2] + ((target - x[5]) - slack)) > h
      |          THEN 0.0
      |          ELSE greatest(0.0, a[2] + ((target - x[5]) - slack)) END,
      |        greatest(0.0, a[1] + ((x[5] - target) - slack)),
      |        greatest(0.0, a[2] + ((target - x[5]) - slack)),
      |        0.0]) AS fr
      |  FROM m)
      |SELECT event_type AS series, epoch_ms(ts) AS ts_ms, event_id, value,
      |  round(fr[3], 6) AS s_pos, round(fr[4], 6) AS s_neg,
      |  (fr[3] > h OR fr[4] > h) AS alarm
      |FROM f
      |ORDER BY series, ts_ms, event_id""".stripMargin

  /** Shared PSI bin assignment (the ds19 grid, verbatim): `bins`
    * equal-width buckets between the REFERENCE lo/hi; out-of-range
    * values clamp to the edge bins; a degenerate hi==lo reference
    * collapses to bin 0. Pure per-row arithmetic — safe in a stream. */
  private def psiBinExpr(x: Column, lo: Column, hi: Column, bins: Int): Column =
    when(hi === lo, lit(0L))
      .otherwise(greatest(lit(0L), least(lit(bins - 1L),
        floor((x - lo) / ((hi - lo) / bins)))))

  /** Reference-side half of the continuous PSI monitor
    * ([[windowedPsiOut]]): bin counts of `valueCol` on the
    * reference's own min/max grid, one row per bin INCLUDING empties
    * — the ≤bins-row table a deployed monitor computes ONCE, offline,
    * and broadcasts next to the stream (lo/hi ride along so the
    * stream side bins onto the identical grid). */
  def psiRefBins(ref: DataFrame, valueCol: String, bins: Int): DataFrame = {
    require(bins >= 2, s"bins must be >= 2, got $bins")
    val s = ref.sparkSession
    val stats = ref.agg(min(col(valueCol).cast("double")).as("lo"),
      max(col(valueCol).cast("double")).as("hi"))
    val binned = ref.select(col(valueCol).cast("double").as("__x"))
      .filter(col("__x").isNotNull)
      .crossJoin(broadcast(stats))
      .withColumn("bin", psiBinExpr(col("__x"), col("lo"), col("hi"), bins))
      .groupBy("bin").agg(count(lit(1)).as("n_ref"))
    s.range(bins).select(col("id").as("bin"))
      .join(binned, Seq("bin"), "left")
      .na.fill(0L, Seq("n_ref"))
      .crossJoin(broadcast(stats))
  }

  /** Stream-side half: per tumbling 1-hour window, INTEGER bin counts
    * of the value column on the reference grid — the only state the
    * stream carries (≤bins longs per open window; counts are
    * associative, so batch == stream bit-exact). `lo`/`hi` are
    * Columns: the batch gate feeds them from a 1-row broadcast stats
    * join, a streaming deployment from the offline reference's
    * literals. On a stream: watermark `ts` first, append mode. */
  def windowedPsiCounts(events: DataFrame, valueCol: String,
                        lo: Column, hi: Column, bins: Int): DataFrame =
    events.filter(col(valueCol).isNotNull)
      .groupBy(window(col("ts"), "1 hour"),
        psiBinExpr(col(valueCol).cast("double"), lo, hi, bins).as("bin"))
      .agg(count(lit(1)).as("n_cur"))

  /** Sink-side projection (the st04 rule: window functions run per
    * EMITTED window, never inside the stream): full bin frame per
    * window (empty bins must contribute — that's where vanishing mass
    * shows), add-1-smoothed shares, per-bin contrib
    * (p_ref−p_cur)·ln(p_ref/p_cur) and the window's PSI as a
    * bin-order cumulative fold (q33 rule), plus the `drifted` action
    * flag at the industry 0.25 threshold (compared on the UNROUNDED
    * double — both engines fold the identical IEEE sequence). */
  def windowedPsiOut(counts: DataFrame, refBins: DataFrame, bins: Int,
                     threshold: Double = 0.25): DataFrame = {
    // Full bin frame per window WITHOUT a counts self-join (a sink
    // table rejoined with its own projection trips conflicting-
    // reference resolution): fold each window's sparse count rows
    // into a dense bins-length array, then posexplode. The lookup is
    // by bin value, so collect_list order cannot matter.
    val full = counts
      .groupBy(col("window"))
      .agg(collect_list(struct(col("bin"), col("n_cur"))).as("__cs"))
      .select(col("window"), posexplode(expr(
        s"transform(sequence(0, ${bins - 1}), i -> " +
          "coalesce(get(filter(__cs, c -> c.bin = i), 0).n_cur, bigint(0)))")))
      .select(col("window"), col("pos").cast("long").as("bin"), col("col").as("n_cur"))
    val ordB = Window.partitionBy(col("window")).orderBy(col("bin"))
    val cumB = ordB.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allB = ordB.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val nRefT = sum(col("n_ref")).over(allB)
    val nCurT = sum(col("n_cur")).over(allB)
    val p = (col("n_ref").cast("double") + 1.0) / (nRefT.cast("double") + lit(bins.toDouble))
    val q = (col("n_cur").cast("double") + 1.0) / (nCurT.cast("double") + lit(bins.toDouble))
    full.join(broadcast(refBins.select(col("bin"), col("n_ref"))), Seq("bin"))
      .withColumn("p_ref", p).withColumn("p_cur", q)
      .withColumn("contrib", (col("p_ref") - col("p_cur")) * log(col("p_ref") / col("p_cur")))
      .withColumn("__cpsi", sum(col("contrib")).over(cumB))
      .withColumn("psi", last(col("__cpsi")).over(allB))
      .select(unix_millis(col("window.start")).as("bucket_ms"),
        col("bin").cast("long").as("bin"),
        col("n_ref").cast("long").as("n_ref"), col("n_cur").cast("long").as("n_cur"),
        col("p_ref"), col("p_cur"), col("contrib"), col("psi"),
        (col("psi") >= threshold).as("drifted"))
  }

  /** #33h batch-equivalent entry (st08): the ds19 PSI drift gate as a
    * CONTINUOUS per-hour monitor — reference = the even-event_id half
    * of the stream's history (a deterministic ds14-rule carve),
    * current = the odd half, windowed hourly. Streaming equivalence
    * (watermarked append-mode counts + this sink-side projection) is
    * proven in StreamingSpec with the same plan. */
  private val st08: Q = (s, dir) => {
    val e = t(s, dir, "events")
    val ref = e.filter(col("event_id") % 2 === 0)
    val cur = e.filter(col("event_id") % 2 === 1)
    val stats = ref.agg(min(col("value").cast("double")).as("lo"),
      max(col("value").cast("double")).as("hi"))
    val counts = windowedPsiCounts(cur.crossJoin(broadcast(stats)), "value",
      col("lo"), col("hi"), bins = 10)
    windowedPsiOut(counts, psiRefBins(ref, "value", bins = 10), bins = 10)
      .select(col("bucket_ms"), col("bin"), col("n_ref"), col("n_cur"),
        r6(col("p_ref")).as("p_ref"), r6(col("p_cur")).as("p_cur"),
        r6(col("contrib")).as("contrib"), r6(col("psi")).as("psi"),
        col("drifted"))
      .orderBy("bucket_ms", "bin")
  }

  private val st08Sql =
    """WITH s AS (
      |  SELECT CAST(min(value) AS DOUBLE) AS lo, CAST(max(value) AS DOUBLE) AS hi
      |  FROM events WHERE event_id % 2 = 0 AND value IS NOT NULL),
      |rb AS (
      |  SELECT CASE WHEN s.hi = s.lo THEN CAST(0 AS BIGINT)
      |      ELSE greatest(CAST(0 AS BIGINT), least(CAST(9 AS BIGINT),
      |        CAST(floor((CAST(value AS DOUBLE) - s.lo) / ((s.hi - s.lo) / 10)) AS BIGINT))) END AS bin,
      |    count(*) AS n_ref
      |  FROM events, s WHERE event_id % 2 = 0 AND value IS NOT NULL GROUP BY 1),
      |f AS (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS bin),
      |r AS (SELECT f.bin, coalesce(rb.n_ref, 0) AS n_ref
      |  FROM f LEFT JOIN rb ON rb.bin = f.bin),
      |cb AS (
      |  SELECT date_trunc('hour', ts) AS w,
      |    CASE WHEN s.hi = s.lo THEN CAST(0 AS BIGINT)
      |      ELSE greatest(CAST(0 AS BIGINT), least(CAST(9 AS BIGINT),
      |        CAST(floor((CAST(value AS DOUBLE) - s.lo) / ((s.hi - s.lo) / 10)) AS BIGINT))) END AS bin,
      |    count(*) AS n_cur
      |  FROM events, s WHERE event_id % 2 = 1 AND value IS NOT NULL GROUP BY 1, 2),
      |wins AS (SELECT DISTINCT w FROM cb),
      |j AS (
      |  SELECT wins.w, r.bin, r.n_ref, coalesce(cb.n_cur, 0) AS n_cur
      |  FROM wins CROSS JOIN r LEFT JOIN cb ON cb.w = wins.w AND cb.bin = r.bin),
      |tt AS (
      |  SELECT w, bin, n_ref, n_cur,
      |    sum(n_ref) OVER (PARTITION BY w) AS tr,
      |    sum(n_cur) OVER (PARTITION BY w) AS tc
      |  FROM j),
      |v AS (
      |  SELECT w, bin, n_ref, n_cur,
      |    (CAST(n_ref AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + 10.0) AS p_ref,
      |    (CAST(n_cur AS DOUBLE) + 1.0) / (CAST(tc AS DOUBLE) + 10.0) AS p_cur
      |  FROM tt),
      |c AS (
      |  SELECT w, bin, n_ref, n_cur, p_ref, p_cur,
      |    (p_ref - p_cur) * ln(p_ref / p_cur) AS contrib,
      |    sum((p_ref - p_cur) * ln(p_ref / p_cur)) OVER (PARTITION BY w ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cpsi
      |  FROM v),
      |d AS (
      |  SELECT *, last_value(cpsi) OVER (PARTITION BY w ORDER BY bin
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS psi
      |  FROM c)
      |SELECT epoch_ms(w) AS bucket_ms, bin,
      |  CAST(n_ref AS BIGINT) AS n_ref, CAST(n_cur AS BIGINT) AS n_cur,
      |  round(p_ref, 6) AS p_ref, round(p_cur, 6) AS p_cur,
      |  round(contrib, 6) AS contrib, round(psi, 6) AS psi,
      |  psi >= 0.25 AS drifted
      |FROM d
      |ORDER BY bucket_ms, bin""".stripMargin

  /** One sketch-profile tick: land the batch's HLL + histogram sketch
    * state under `landingId` ([[graft.sinks.SketchStore]]; idempotent —
    * a replayed landing id replaces exactly its partitions). */
  def sketchProfileTick(spark: SparkSession, storePath: String, batch: DataFrame,
                        keys: Seq[String], distinctCol: String, valueCol: String,
                        width: Double, landingId: Long): Unit = {
    graft.sinks.SketchStore.land(spark, s"$storePath/hll",
      graft.sinks.SketchStore.hllState(batch, keys, distinctCol), landingId)
    graft.sinks.SketchStore.land(spark, s"$storePath/vhist",
      graft.sinks.SketchStore.histState(batch, keys, valueCol, width), landingId)
  }

  /** The current merged profile from sketch STATE only — per key group,
    * estimated distinct count + histogram quantiles. Cost is state-sized
    * (registers + buckets), independent of how much raw data the
    * landings ever saw — the report a 100 TB stream can afford per tick. */
  def sketchProfileReport(spark: SparkSession, storePath: String, keys: Seq[String],
                          width: Double, qs: Seq[(Double, String)]): DataFrame =
    graft.sinks.SketchStore.hllEstimate(
        graft.sinks.SketchStore.mergedHll(spark, s"$storePath/hll", keys), keys)
      .join(graft.sinks.SketchStore.histQuantiles(
        graft.sinks.SketchStore.mergedHist(spark, s"$storePath/vhist", keys),
        keys, width, qs), keys)

  /** The a09 mergeable-sketch profile as a CONTINUOUS monitor — the
    * st-family twin of the SketchStore landing loop: every micro-batch
    * lands its own sketch state (batchId = landing id, so Structured
    * Streaming replay is idempotent by the store's dynamic-overwrite
    * contract) and overwrites the profile report derived from merged
    * state. Unlike st05/st08 (windowed monitors over recent data), the
    * report here covers EVERYTHING ever landed at state-sized cost.
    * Batch-equivalent replay gate: st10_stream_profile; batch==stream
    * equality pinned in Round14Spec. */
  def streamingSketchProfile(spark: SparkSession, events: DataFrame,
                             storePath: String, reportPath: String,
                             checkpointDir: String,
                             keys: Seq[String] = Seq("event_type"),
                             distinctCol: String = "user_id",
                             valueCol: String = "value",
                             width: Double = 10.0,
                             qs: Seq[(Double, String)] =
                               Seq(0.5 -> "p50_est", 0.95 -> "p95_est")):
      org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          sketchProfileTick(spark, storePath, batch, keys, distinctCol,
            valueCol, width, batchId)
          val rep = sketchProfileReport(spark, storePath, keys, width, qs)
            .localCheckpoint(eager = true)
          try rep.write.mode("overwrite").parquet(reportPath)
          finally graft.Checkpoints.free(rep)
          ()
        }
      }
      .start()

  /** #35j the profile monitor as a two-tick batch REPLAY (the st09
    * rule): tick 1 lands day-slice 0's sketch state, tick 2 lands
    * slice 1's, the report derives from MERGED state only — and by the
    * SketchStore merge law it must hash-equal the whole-corpus sketch
    * the oracle computes directly (a09's chain minus the exact column,
    * which a state-only monitor cannot see). */
  private val st10: Q = (s, dir) => {
    val keys = Seq("event_type")
    val ev = Tables.t(s, dir, "events")
      .select(col("event_type"), col("user_id"), col("value"),
        (dayofmonth(col("ts")) % 2).as("__tick"))
    val store = java.nio.file.Files.createTempDirectory("graft_stream_profile_").toString
    (0 until 2).foreach { tk =>
      sketchProfileTick(s, store, ev.filter(col("__tick") === tk), keys,
        "user_id", "value", 10.0, tk.toLong)
    }
    sketchProfileReport(s, store, keys, 10.0, Seq(0.5 -> "p50_est", 0.95 -> "p95_est"))
      .select(col("event_type"), col("n"), F.r4(col("est")).as("est_users"),
        F.r4(col("p50_est")).as("p50_est"), F.r4(col("p95_est")).as("p95_est"))
      .orderBy("event_type")
  }

  /** Land one micro-batch's CMS term-frequency state (the a04 sketch
    * as durable per-landing state — [[graft.sinks.SketchStore.cmsState]];
    * batchId = landing id ⇒ Structured Streaming replay is idempotent
    * by the SketchStore dynamic-overwrite contract). */
  def termSketchTick(spark: SparkSession, storePath: String, batch: DataFrame,
                     textCol: String, rows: Int, width: Int,
                     landingId: Long): Unit =
    graft.sinks.SketchStore.land(spark, storePath,
      graft.sinks.SketchStore.cmsState(batch, textCol, rows, width), landingId)

  /** Frequency report from MERGED CMS state only: each watchlist term
    * (term, n_exact — the exact side is gate evidence; a production
    * watchlist carries just terms) probed at its `rows` md5 buckets,
    * estimate = min over rows (collisions only ADD, so est ≥ exact
    * always), plus `cells_used` — the merged sketch's non-zero cell
    * count, state-derived evidence the report rode the store. The
    * merged state is ≤ rows·width rows: broadcast, never shuffled. */
  def termSketchReport(spark: SparkSession, storePath: String,
                       watchlist: DataFrame, rows: Int, width: Int): DataFrame = {
    val merged = graft.sinks.SketchStore.mergedCms(spark, storePath)
    val cells = merged.agg(count(lit(1)).as("cells_used"))
    watchlist.select(col("term"), col("n_exact"),
        explode(array((0 until rows).map(r => struct(lit(r).as("r"),
          pmod(graft.F.hash60(concat(lit(s"$r:"), col("term"))),
            lit(width.toLong)).as("b"))): _*)).as("rb"))
      .select(col("term"), col("n_exact"), col("rb.r").as("r"), col("rb.b").as("b"))
      // LEFT join: the merged state is SPARSE (never-touched cells have
      // no row), and an absent cell means count 0 — an inner join here
      // would both overestimate (min over non-empty cells only) and
      // silently drop watchlist terms whose every cell is empty.
      .join(broadcast(merged), Seq("r", "b"), "left")
      .groupBy(col("term"), col("n_exact"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("n_est"))
      .crossJoin(broadcast(cells)) // 1-row build side: documented BNLJ
      .select(col("term"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overest"), col("cells_used"))
  }

  /** Land one micro-batch's Bloom set-bit positions (the a05 filter as
    * durable per-landing state — [[graft.sinks.SketchStore.bloomState]];
    * batchId = landing id ⇒ replay idempotent twice over: dynamic
    * overwrite AND the union merge law's idempotence). */
  def bloomTick(spark: SparkSession, storePath: String, batch: DataFrame,
                textCol: String, mBits: Int, kHashes: Int,
                landingId: Long): Unit =
    graft.sinks.SketchStore.land(spark, storePath,
      graft.sinks.SketchStore.bloomState(batch, textCol, mBits, kHashes), landingId)

  /** Membership report for a batch against MERGED Bloom state only
    * (optionally bounded to landings before `beforeLanding` — the
    * probe-then-land loop's history view): (doc_id, bloom_hit). The
    * merged state is ≤ m rows — broadcast, never shuffled; history
    * content is NEVER read (the point: probing 100 TB of landed
    * history costs an m-bit broadcast). No false negatives: a hit is
    * missed only if some position is unset, impossible once the
    * content's landing merged (monotone union). */
  def bloomStoreProbe(spark: SparkSession, storePath: String,
                      batch: DataFrame, idCol: String, textCol: String,
                      mBits: Int, kHashes: Int,
                      beforeLanding: Option[Long] = None): DataFrame = {
    val bits = graft.sinks.SketchStore.mergedBloom(spark, storePath, beforeLanding)
      .withColumn("__set", lit(1))
    val m = md5(trim(regexp_replace(lower(col(textCol)), "\\s+", " ")))
    batch.select(col(idCol).as("doc_id"), m.as("__m"))
      .withColumn("pos", explode(array((0 until kHashes).map(i =>
        pmod(graft.F.hash60(concat(lit(s"bloom$i:"), col("__m"))),
          lit(mBits.toLong))): _*)))
      .join(broadcast(bits), Seq("pos"), "left")
      .groupBy(col("doc_id"), col("__m"))
      .agg((count(col("__set")) === kHashes).cast("int").as("bloom_hit"))
      .select(col("doc_id"), col("__m"), col("bloom_hit"))
  }

  /** The a05 Bloom membership filter run CONTINUOUSLY: every
    * micro-batch lands its distinct set-bit positions; the merged
    * store answers membership probes over EVERYTHING ever landed at
    * ≤ m-row cost — the membership sibling of [[streamingTermSketch]]
    * (CMS) and [[streamingSketchProfile]] (HLL/hist). */
  def streamingBloom(spark: SparkSession, docs: DataFrame,
                     storePath: String, checkpointDir: String,
                     textCol: String = "text", mBits: Int = 2048,
                     kHashes: Int = 4):
      org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          bloomTick(spark, storePath, batch, textCol, mBits, kHashes, batchId)
          ()
        }
      }
      .start()

  /** #35m the Bloom membership filter as a two-tick batch REPLAY (the
    * st09/st10/st12 rule): tick 0 lands the even-doc half's set-bit
    * positions, tick 1 probes the odd half against merged state OF
    * LANDINGS BEFORE IT (then lands its own positions into the store —
    * the probe-then-land loop). Report = the a05 shape for the odd
    * half: bloom_hit from the STORE, exact_hit/is_fp recomputed
    * in-plan as gate evidence — the no-false-negative law
    * (exact_hit = 1 ⇒ bloom_hit = 1) visible per row. The oracle
    * probes the even half directly — equal to the store path by the
    * union merge law. */
  private val st13: Q = (s, dir) => {
    val docs = Tables.t(s, dir, "documents")
    val store = java.nio.file.Files.createTempDirectory("graft_stream_bloom_").toString
    (0 until 2).foreach { tk =>
      bloomTick(s, s"$store/bloom", docs.filter(pmod(col("doc_id"), lit(2L)) === tk),
        "text", 2048, 4, tk.toLong)
    }
    val probed = bloomStoreProbe(s, s"$store/bloom",
      docs.filter(pmod(col("doc_id"), lit(2L)) === 1), "doc_id", "text",
      2048, 4, beforeLanding = Some(1L))
    val normMd5 = md5(trim(regexp_replace(lower(col("text")), "\\s+", " ")))
    val exact = docs.filter(pmod(col("doc_id"), lit(2L)) === 0)
      .select(normMd5.as("__m")).distinct().withColumn("__ex", lit(1))
    probed
      .join(broadcast(exact), Seq("__m"), "left")
      .withColumn("exact_hit", when(col("__ex").isNotNull, lit(1)).otherwise(lit(0)))
      .withColumn("is_fp", (col("bloom_hit") === 1 && col("exact_hit") === 0).cast("int"))
      .select(col("doc_id"), col("bloom_hit"), col("exact_hit"), col("is_fp"))
      .orderBy("doc_id")
  }

  private val st13Sql =
    """WITH hist AS (SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS m
      |  FROM documents WHERE doc_id % 2 = 0),
      |bat AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS m
      |  FROM documents WHERE doc_id % 2 = 1),
      |bits AS (SELECT DISTINCT
      |    CAST(('0x' || substr(md5('bloom' || i.i || ':' || m), 1, 15)) AS BIGINT) % 2048 AS pos
      |  FROM hist, range(0, 4) i(i)),
      |probe AS (SELECT doc_id, m,
      |    CAST(('0x' || substr(md5('bloom' || i.i || ':' || m), 1, 15)) AS BIGINT) % 2048 AS pos
      |  FROM bat, range(0, 4) i(i)),
      |bh AS (SELECT doc_id, m,
      |    CAST(CASE WHEN count(bits.pos) = 4 THEN 1 ELSE 0 END AS INT) AS bloom_hit
      |  FROM probe LEFT JOIN bits ON probe.pos = bits.pos
      |  GROUP BY doc_id, m),
      |hx AS (SELECT DISTINCT m FROM hist)
      |SELECT doc_id, bloom_hit,
      |  CAST(CASE WHEN hx.m IS NULL THEN 0 ELSE 1 END AS INT) AS exact_hit,
      |  CAST(CASE WHEN bloom_hit = 1 AND hx.m IS NULL THEN 1 ELSE 0 END AS INT) AS is_fp
      |FROM bh LEFT JOIN hx ON bh.m = hx.m
      |ORDER BY doc_id""".stripMargin

  /** Land one micro-batch's OHLC bar state (q09's resample as durable
    * per-landing ALGEBRAIC state — [[graft.sinks.SketchStore.ohlcState]];
    * batchId = landing id ⇒ replay idempotent by the dynamic-overwrite
    * contract). */
  def ohlcTick(spark: SparkSession, storePath: String, batch: DataFrame,
               keys: Seq[String], tsCol: String, idCol: String,
               valueCol: String, unit: String, landingId: Long,
               decimalVolume: Boolean = false): Unit =
    graft.sinks.SketchStore.land(spark, storePath,
      graft.sinks.SketchStore.ohlcState(batch, keys, tsCol, idCol, valueCol,
        unit, decimalVolume),
      landingId)

  /** Bars from MERGED OHLC state only: per (keys, bucket) the exact
    * open/high/low/close/n_trades (argmin/argmax picks and integer
    * sums merge exactly at any landing grouping) plus the summed
    * volume rounded r4 (the q09 float rule). Report cost is
    * bars-sized — independent of how many raw rows the landings ever
    * saw, the resample a 100 TB tick stream can afford per batch.
    *
    * `beforeLanding = Some(n)` is the FROZEN-PREFIX view (the st13
    * bloomStoreProbe bound applied to bars): only landings strictly
    * before `n` contribute, so the answer is a pure function of those
    * landings — later ticks, late rows included, cannot move it
    * (spec-pinned). The unbounded view stays the absorb-late-rows-
    * forever merge law; the bounded view is what a 100 TB deployment
    * publishes as "bars as of landing n" while the store keeps
    * healing. */
  def ohlcStoreReport(spark: SparkSession, storePath: String,
                      keys: Seq[String],
                      beforeLanding: Option[Long] = None): DataFrame =
    graft.sinks.SketchStore.mergedOhlc(spark, storePath, keys, beforeLanding)
      .select((keys.map(col) ++ Seq(col("bucket_ms"),
        col("open"), col("high"), col("low"), col("close"),
        F.r4(col("volume")).as("volume"), col("n_trades"))): _*)

  /** q09's OHLCV resample run CONTINUOUSLY — the ALGEBRAIC member of
    * the mergeable-state family (HLL/hist st10, CMS st12, Bloom st13;
    * this one's state is the bars themselves): every micro-batch lands
    * its own per-bucket bar state and overwrites the report derived
    * from merged state. A late row for ANY old bucket is absorbed
    * exactly (its landing merges by argmin/argmax/min/max/sum) — no
    * watermark discards, no bar is ever wrong because its events
    * split across batches.
    *
    * Report publication is ATOMIC (round-17, closing the round-16
    * caveat): each tick publishes through
    * [[graft.sinks.AtomicReport]] — a committed-version directory
    * scheme where a reader always resolves the newest COMPLETE
    * version and never observes a partial write (Round17Spec pins
    * it). Read the report with `AtomicReport.read(spark, reportPath)`;
    * a consumer wanting a frozen landing prefix instead calls
    * [[ohlcStoreReport]] with `beforeLanding` over the immutable
    * landings. The same contract applies to [[streamingSample]]. */
  def streamingOhlc(spark: SparkSession, events: DataFrame,
                    storePath: String, reportPath: String,
                    checkpointDir: String,
                    keys: Seq[String] = Seq("event_type"),
                    tsCol: String = "ts", idCol: String = "event_id",
                    valueCol: String = "value", unit: String = "hour"):
      org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          ohlcTick(spark, storePath, batch, keys, tsCol, idCol, valueCol,
            unit, batchId)
          val rep = ohlcStoreReport(spark, storePath, keys)
            .localCheckpoint(eager = true)
          try graft.sinks.AtomicReport.publish(rep, reportPath, batchId)
          finally graft.Checkpoints.free(rep)
          ()
        }
      }
      .start()

  /** #35n the q09 OHLCV resample as CONTINUOUS landed state (the
    * st09/st10/st12/st13 three-tick batch replay): each tick lands one
    * day-slice's bar state, the report derives from MERGED state only —
    * and by the algebraic merge law it must hash-equal the one-shot
    * q09 resample the oracle computes directly over the whole corpus
    * (the merge law AS the parity check; the oracle is LITERALLY q09's
    * SQL). Round15bSpec pins merge == one-shot on a random split,
    * replay idempotency, and batch==stream via live MemoryStream. */
  private val st14: Q = (s, dir) => {
    val ev = Tables.t(s, dir, "events")
      .withColumn("__tick", dayofmonth(col("ts")) % 3)
    val store = java.nio.file.Files.createTempDirectory("graft_stream_ohlc_").toString
    (0 until 3).foreach { tk =>
      ohlcTick(s, s"$store/ohlc", ev.filter(col("__tick") === tk),
        Seq("event_type"), "ts", "event_id", "value", "hour", tk.toLong)
    }
    ohlcStoreReport(s, s"$store/ohlc", Seq("event_type"))
      .orderBy("event_type", "bucket_ms")
  }

  private val st14Sql =
    """SELECT event_type, epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
      |  first(value ORDER BY ts, event_id) AS open,
      |  max(value) AS high,
      |  min(value) AS low,
      |  last(value ORDER BY ts, event_id) AS close,
      |  round(sum(value), 4) AS volume,
      |  count(*) AS n_trades
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY event_type, bucket_ms""".stripMargin

  /** Land one micro-batch's bottom-k sample state
    * ([[graft.sinks.SketchStore.bottomKState]]; batchId = landing id ⇒
    * replay idempotent twice over: dynamic overwrite AND the min-rank
    * merge law's idempotence). */
  def sampleTick(spark: SparkSession, storePath: String, batch: DataFrame,
                 keys: Seq[String], valueCol: String, k: Int,
                 landingId: Long): Unit =
    graft.sinks.SketchStore.land(spark, storePath,
      graft.sinks.SketchStore.bottomKState(batch, keys, valueCol, k), landingId)

  /** Sample-and-estimate report from MERGED bottom-k state only: one
    * row per kept sample value (the k md5-smallest distinct values per
    * group — a UNIFORM sample of everything ever landed, at ≤ k rows
    * per group regardless of raw history) with the group's KMV
    * distinct estimate n̂ = (k−1)·2⁶⁰/h₍ₖ₎ (exact count when the group
    * holds fewer than k distinct values). Everything md5-deterministic
    * — the oracle replays sample AND estimate, unlike the HLL path. */
  def sampleStoreReport(spark: SparkSession, storePath: String,
                        keys: Seq[String], k: Int): DataFrame = {
    // materialized once: the merged plan (scan + distinct + window)
    // feeds BOTH the per-group aggregate and the final join — lazy, it
    // would run twice per report; the state is ≤ k rows per group
    val merged = graft.sinks.SketchStore.mergedBottomK(spark, storePath, keys, k)
      .localCheckpoint(eager = true)
    val g = merged.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_kept"), max(col("h")).as("__hk"))
      .withColumn("__est",
        when(col("n_kept") < k, col("n_kept").cast("double"))
          .otherwise(lit((k - 1).toDouble * 1152921504606846976.0) /
            col("__hk").cast("double")))
    merged.join(g, keys)
      .select((keys.map(col) ++ Seq(col("value"), col("h"), col("n_kept"),
        col("__est").as("est"))): _*)
  }

  /** The bottom-k sample sketch run CONTINUOUSLY — the FIFTH mergeable
    * state (HLL/hist st10, CMS st12, Bloom st13, OHLC st14; this one's
    * merge is a min-rank pick: associative, commutative, idempotent):
    * every micro-batch lands its k md5-smallest distinct values per
    * group; the merged store IS a uniform sample of every distinct
    * value ever landed plus a KMV cardinality estimate, at k-row
    * state — the "show me 32 random examples + how many are there" a
    * 100 TB profiler answers without re-reading history. */
  def streamingSample(spark: SparkSession, events: DataFrame,
                      storePath: String, reportPath: String,
                      checkpointDir: String,
                      keys: Seq[String] = Seq("event_type"),
                      valueCol: String = "user_id", k: Int = 32):
      org.apache.spark.sql.streaming.StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          sampleTick(spark, storePath, batch, keys, valueCol, k, batchId)
          val rep = sampleStoreReport(spark, storePath, keys, k)
            .localCheckpoint(eager = true)
          try graft.sinks.AtomicReport.publish(rep, reportPath, batchId)
          finally graft.Checkpoints.free(rep)
          ()
        }
      }
      .start()

  /** #35o the bottom-k sample sketch as CONTINUOUS landed state (the
    * st10/st12/st13/st14 three-tick batch replay): each tick lands one
    * day-slice's k-smallest-hash state, the report derives from MERGED
    * state only — the kept sample rows themselves (hash-checking the
    * SAMPLE content, not just a summary) plus the KMV estimate next to
    * the exact distinct count with the realized relative error as
    * gate-visible evidence. The oracle computes the bottom-k of the
    * whole corpus directly — equal to the landing-merged state by the
    * min-rank merge law. */
  private val st15: Q = (s, dir) => {
    val keys = Seq("event_type")
    val k = 32
    val ev = Tables.t(s, dir, "events")
      .select(col("event_type"), col("user_id"),
        (dayofmonth(col("ts")) % 3).as("__tick"))
    val store = java.nio.file.Files.createTempDirectory("graft_stream_sample_").toString
    (0 until 3).foreach { tk =>
      sampleTick(s, s"$store/bk", ev.filter(col("__tick") === tk), keys,
        "user_id", k, tk.toLong)
    }
    val exact = Tables.t(s, dir, "events").groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    sampleStoreReport(s, s"$store/bk", keys, k)
      .join(exact, "event_type")
      .select(col("event_type"), col("value").as("user_id"), col("h"),
        col("n_kept"), F.r4(col("est")).as("est_users"), col("exact_users"),
        F.r6(abs(col("est") / col("exact_users").cast("double") - 1)).as("rel_err"))
      .orderBy("event_type", "h")
  }

  private val st15Sql =
    """WITH d AS (SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS value FROM events),
      |hs AS (SELECT event_type, value,
      |    CAST(('0x' || substr(md5('bk:' || value), 1, 15)) AS BIGINT) AS h
      |  FROM d),
      |r AS (SELECT event_type, value, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      |  FROM hs),
      |kept AS (SELECT event_type, value, h FROM r WHERE rn <= 32),
      |g AS (SELECT event_type, count(*) AS n_kept, max(h) AS hk
      |  FROM kept GROUP BY 1),
      |g2 AS (SELECT event_type, n_kept,
      |    CASE WHEN n_kept < 32 THEN CAST(n_kept AS DOUBLE)
      |      ELSE 31.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE) END AS est
      |  FROM g),
      |ex AS (SELECT event_type, count(DISTINCT user_id) AS exact_users
      |  FROM events GROUP BY 1)
      |SELECT kept.event_type, kept.value AS user_id, kept.h,
      |  g2.n_kept, round(g2.est, 4) AS est_users, ex.exact_users,
      |  round(abs(g2.est / CAST(ex.exact_users AS DOUBLE) - 1), 6) AS rel_err
      |FROM kept
      |  JOIN g2 ON g2.event_type = kept.event_type
      |  JOIN ex ON ex.event_type = kept.event_type
      |ORDER BY kept.event_type, kept.h""".stripMargin

  private def pathExists(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** Landing ids from the store's PARTITION DIRECTORY names — the
    * `__landing=N` dirs ARE the landing ids (dynamic overwrite writes
    * one dir per landing; drops remove it), so a driver-side FS listing
    * answers in milliseconds what the old parquet read + distinct +
    * collect paid a cluster job for, per store, per tick (round-17; a
    * dir is counted only when it holds at least one file — a crash
    * after mkdir but before any data file must not register). */
  private def landingIdsOf(spark: SparkSession, path: String,
                           before: Long): Array[Long] =
    graft.sinks.PartitionDirs.list(spark, path, "__landing").collect {
      case (v, dir) if v.toLong < before &&
        dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .listStatus(dir).exists(_.isFile) => v.toLong
    }.distinct.toArray

  /** Latest-op-wins LIVE vector view over an [[annIndexTick]] store:
    * per vec_id, the newest event among vector landings and delete
    * landings strictly before `beforeLanding`; an id whose newest
    * event is a delete is gone, and a later re-insert resurrects it
    * (newest event wins; within one landing the insert wins, because a
    * tick applies its deletes BEFORE its batch).
    *
    * JOIN form over the BUCKETED store (round-17: the old union+window
    * form shuffled vectors ∪ deletes through one full-store exchange
    * per read): latest insert landing per id is a partition-local
    * window on the bucketed `vectors` scan, latest delete landing a
    * partition-local aggregation on `deletes`, and live =
    * insert-landing ≥ delete-landing through a co-located outer join —
    * ZERO shuffles end to end (AnnStoreSpec pins it). The ≥ keeps the
    * within-one-landing insert-wins rule. */
  def annLiveVectors(spark: SparkSession, storePath: String,
                     beforeLanding: Long = Long.MaxValue): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("__landing").cast("long").desc)
    val latestIns = graft.sinks.AnnStore.read(spark, storePath, "vectors", "vec_id")
      .filter(col("__landing").cast("long") < beforeLanding)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("vec_id"), col("v"), col("__landing").cast("long").as("__il"))
    graft.sinks.AnnStore.readOpt(spark, storePath, "deletes", "vec_id") match {
      case None => latestIns.select(col("vec_id"), col("v"))
      case Some(dels) =>
        val latestDel = dels
          .filter(col("__landing").cast("long") < beforeLanding)
          .groupBy(col("vec_id"))
          .agg(max(col("__landing").cast("long")).as("__dl"))
        latestIns.join(latestDel, Seq("vec_id"), "left_outer")
          .filter(col("__dl").isNull || col("__il") >= col("__dl"))
          .select(col("vec_id"), col("v"))
    }
  }

  /** The queryable INDEX view over an [[annIndexTick]] store: each
    * live node's newest landed adjacency list (latest-landing-per-src
    * — the st09/d13 merged-view precedent), deleted srcs dropped by
    * the live-id semi join. Landings hold only CHANGED lists, so the
    * store stays delta-bounded while this view is always the full
    * current index. A stale dst row cannot occur: any src pointing at
    * a deleted node is severed by definition, so the deleting tick
    * re-lands its list. */
  def annIndexReport(spark: SparkSession, storePath: String,
                     beforeLanding: Long = Long.MaxValue): DataFrame =
    annIndexReportWith(spark, storePath, beforeLanding, liveVectors = null)

  /** [[annIndexReport]] with a caller-supplied live view — PRIVATE
    * (round-18, the round-17 advice): `liveVectors` must be exactly
    * `annLiveVectors(spark, storePath, beforeLanding)` (the tick and
    * compact paths pass their checkpointed copy so the view is not
    * computed twice per tick); a public caller passing a view at a
    * DIFFERENT bound would silently keep/drop the wrong srcs, so the
    * comment-only contract is now a visibility fence. */
  private[graft] def annIndexReportWith(spark: SparkSession, storePath: String,
                                        beforeLanding: Long,
                                        liveVectors: DataFrame): DataFrame = {
    val edgesPath = s"$storePath/edges"
    require(pathExists(spark, edgesPath),
      s"ANN index store at $storePath has no edges store — a first tick " +
        "landed vectors without building edges (crash between landings); " +
        "re-run that tick before reading the index")
    val live = (if (liveVectors != null) liveVectors
      else annLiveVectors(spark, storePath, beforeLanding))
      .select(col("vec_id").as("src"))
    // bucketed scan: the latest-per-src window is partition-local and
    // the live semi join co-located (both stores share the bucket count)
    val wl = Window.partitionBy(col("src"))
    graft.sinks.AnnStore.read(spark, storePath, "edges", "src")
      .filter(col("__landing").cast("long") < beforeLanding)
      .withColumn("__maxl", max(col("__landing").cast("long")).over(wl))
      .filter(col("__landing").cast("long") === col("__maxl"))
      .join(live, Seq("src"), "left_semi")
      .select(col("src"), col("dst"), col("cos"))
  }

  /** Latest-per-node persisted cell assignment ([[annIndexTick]] lands
    * its batch's assignment every tick so later ticks never repay the
    * corpus-sized assignment pass — each row reflects its node's
    * insert-time anchor set; staleness under anchor drift is what s25
    * indexDrift monitors). */
  private def mergedAsg(spark: SparkSession, storePath: String,
                        beforeLanding: Long): DataFrame = {
    val w = Window.partitionBy(col("vec_id"))
    graft.sinks.AnnStore.read(spark, storePath, "asg", "vec_id")
      .filter(col("__landing").cast("long") < beforeLanding)
      .withColumn("__maxl", max(col("__landing").cast("long")).over(w))
      .filter(col("__landing").cast("long") === col("__maxl"))
      .select(col("vec_id"), col("cell"))
  }

  /** Fresh cell assignment of a (vec_id, v) corpus against ITS OWN
    * current anchors (`vec_id % anchorMod == 0`) — exactly what
    * [[annIndexTick]] computes for a batch at insert time, applied to
    * the whole live corpus (the compaction-time repair and the drift
    * reference). */
  private def freshAsgOf(live: DataFrame, anchorMod: Int): DataFrame =
    graft.ops.SimOps.cellAsgOf(live,
      broadcast(live.filter(pmod(col("vec_id"), lit(anchorMod.toLong)) === 0)
        .select(col("vec_id").as("c_id"), col("v").as("cv"))),
      cellProbes = 2)

  /** ANCHOR-DRIFT gauge for an [[annIndexTick]] store (round-17): one
    * row — live count, count of live nodes whose STORED cell set
    * differs from a fresh assignment against the current anchors, and
    * the drift share. Stored assignments are insert-time snapshots;
    * deletes retire anchors and inserts add them, so drift grows with
    * store churn and is exactly the staleness that starves the insert
    * path's corpus-side cell proposals. Repair:
    * [[annIndexCompact]] with `reassignAnchorMod` (drift returns to
    * 0.0, spec-pinned). */
  def annAsgDrift(spark: SparkSession, storePath: String,
                  anchorMod: Int = 64): DataFrame = {
    val live = graft.ops.SimOps.freshCheckpoint(
      annLiveVectors(spark, storePath), eager = true)
    val fresh = freshAsgOf(live, anchorMod)
    val stored = mergedAsg(spark, storePath, Long.MaxValue)
      .join(live.select("vec_id"), Seq("vec_id"), "left_semi")
    val mismatched = fresh.withColumn("__f", lit(1))
      .join(stored.withColumn("__s", lit(1)),
        Seq("vec_id", "cell"), "full_outer")
      .filter(col("__f").isNull || col("__s").isNull)
      .select("vec_id").distinct()
    val nLive = live.count()
    val nDrift = mismatched.count()
    import spark.implicits._
    Seq((nLive, nDrift,
      if (nLive == 0L) 0.0 else nDrift.toDouble / nLive))
      .toDF("n_live", "n_drifted", "drift")
  }

  /** One CONTINUOUS vector-index maintenance tick — the streaming twin
    * of s26's incremental insert AND s27's delete consolidation (the
    * loop a live embedding lake actually runs: vectors arrive and
    * leave, the index absorbs both, no rebuild). Per `landingId`:
    *
    *   deletes   (optional) land the delete ids, then
    *             [[graft.ops.SimOps.graphDeleteDeltaOf]] re-ranks ONLY
    *             the severed lists (FreshDiskANN consolidation order:
    *             delete first, insert on the survivors);
    *   batch     land the vectors + their cell assignment, then
    *             first landing: build the graph on the batch alone
    *             ([[graft.ops.SimOps.knnGraphOf]]); later landings:
    *             [[graft.ops.SimOps.graphInsertDeltaOf]] over the
    *             prior LIVE corpus + merged index view, reusing the
    *             PERSISTED assignments (no corpus-sized assignment
    *             pass per tick);
    *   land      ONLY the changed adjacency lists (insert wins where
    *             both steps touched a src — its insert-side list was
    *             computed over the post-delete state), then a one-row
    *             tick MANIFEST (n_batch / n_deletes / n_changed) as
    *             the tick's commit point.
    *
    * Per-tick landing size and store growth are DELTA-bounded (the
    * round-15 full-list re-land was index-sized per tick); the
    * queryable index is [[annIndexReport]]'s latest-landing-per-src
    * merged view, spec-pinned bit-identical to the one-shot
    * graphInsertOf/graphDeleteOf composition. Every store is
    * landing-partitioned with dynamic overwrite and a tick reads only
    * landings STRICTLY BEFORE its own, so replaying a tick reads
    * unchanged history and overwrites exactly its own partitions
    * (idempotent, the st09/st10 replay contract). A tick that crashed
    * between landings left no manifest — the next tick fails loudly
    * and names the tick to re-run. An UPDATE (re-embedding a live id)
    * must arrive as delete + insert in ONE tick (`deletes` containing
    * the id, `batch` its new vector — the consolidation order makes
    * the new vector win everywhere); passing a live id in `batch`
    * alone re-lands its list but leaves the stale vector in the prior
    * corpus the search scored against. Tick-internal checkpoint blocks
    * are freed on exit ([[graft.Checkpoints.scoped]]) — a continuous
    * loop must not accumulate dead storage. */
  def annIndexTick(spark: SparkSession, storePath: String, batch: DataFrame,
                   idCol: String, vecCol: String,
                   r: Int, beam: Int, hops: Int,
                   landingId: Long, anchorMod: Int = 64,
                   deletes: DataFrame = null): Unit = graft.Checkpoints.scoped {
    import graft.ops.SimOps
    import graft.sinks.SketchStore.land
    val vecsPath = s"$storePath/vectors"
    val edgesPath = s"$storePath/edges"
    // Lands are PURE SINKS within a tick: every view the tick reads is
    // bounded to landings STRICTLY BEFORE its own, so no compute below
    // depends on a land having happened. They therefore run on ONE
    // background thread — serialized with each other (the dynamic-
    // overwrite session conf is never touched by two writes at once)
    // but OVERLAPPED with the tick's dominant compute, the
    // delete/insert delta search (guide §2.6: independent jobs
    // back-fill idle executors; round-18 TickProbe measured the 4–5
    // lands at ~half the warm tick wall). FIFO submission order
    // (deletes → vectors → asg → edges → manifest) preserves the
    // manifest-lands-LAST crash contract exactly; the tick returns
    // only after the queue drains, so later ticks (and the scoped
    // checkpoint frees) never see a land in flight.
    val lander = java.util.concurrent.Executors.newSingleThreadExecutor()
    val landFutures = scala.collection.mutable.ArrayBuffer
      .empty[java.util.concurrent.Future[Unit]]
    def landAsync(body: => Unit): Unit =
      landFutures += lander.submit(new java.util.concurrent.Callable[Unit] {
        override def call(): Unit = body
      })
    try {
    // the batch and delete sets are DELTA-sized and referenced ~5 times
    // each per tick (counts, the guard, their landings, the search and
    // both repair unions) — checkpoint once so the source scan (+ the
    // delete distinct's exchange) runs once, not per reference
    // (round-17, guide §1.2 step 1; values bit-identical)
    val b = SimOps.freshCheckpoint(batch.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v")), eager = true)
    val delIds = if (deletes == null) null
      else SimOps.freshCheckpoint(
        deletes.select(col(idCol).as("vec_id")).distinct(), eager = true)
    def anchorsOf(df: DataFrame): DataFrame =
      df.filter(pmod(col("vec_id"), lit(anchorMod.toLong)) === 0)
    def asgOf(vs: DataFrame, anc: DataFrame): DataFrame =
      SimOps.cellAsgOf(vs, broadcast(anc.select(col("vec_id").as("c_id"),
        col("v").as("cv"))), cellProbes = 2)
    // completed-tick guard: every prior landing must have its manifest
    // (the manifest lands LAST inside a tick — its absence means that
    // tick crashed between landings and must be re-run)
    val priorLandings = (landingIdsOf(spark, vecsPath, landingId) ++
      landingIdsOf(spark, s"$storePath/deletes", landingId)).distinct
    if (priorLandings.nonEmpty) {
      val done = landingIdsOf(spark, s"$storePath/ticks", landingId).toSet
      val missing = priorLandings.filterNot(done).sorted
      require(missing.isEmpty,
        s"tick(s) ${missing.mkString(",")} landed state but no manifest — " +
          s"crashed mid-tick; re-run before landing $landingId")
    }
    // the prior-state views read landings STRICTLY BEFORE this tick,
    // so they can be built (and the update-form guard run) before this
    // tick lands anything
    val priorLive0: DataFrame =
      if (priorLandings.isEmpty) null
      else SimOps.freshCheckpoint(
        annLiveVectors(spark, storePath, landingId), eager = false)
    val nDeletes = if (delIds == null) 0L else delIds.count()
    val nBatch = b.count()
    // UPDATE-form guard (fails BEFORE any landing): a live id arriving
    // in `batch` alone would re-land its adjacency list but leave the
    // STALE vector in the prior corpus the insert search scored
    // against — a silent wrong index. Re-embedding a live id must
    // arrive as delete + insert in ONE tick.
    if (priorLive0 != null && nBatch > 0L) {
      val survivors0 = if (delIds == null) priorLive0
        else priorLive0.join(delIds, Seq("vec_id"), "left_anti")
      val offenders = b.select("vec_id")
        .join(survivors0.select("vec_id"), Seq("vec_id"), "left_semi")
        .limit(5).collect().map(_.get(0))
      require(offenders.isEmpty,
        s"batch re-inserts LIVE id(s) ${offenders.mkString(", ")}" +
          (if (offenders.length == 5) ", …" else "") +
          ": re-embedding a live id must arrive as delete + insert in " +
          "ONE tick (pass the id in `deletes` AND its new vector in " +
          "`batch` — the consolidation order makes the new vector win " +
          "everywhere); a batch-only re-insert would leave the stale " +
          "vector in the corpus the insert search scores against")
    }
    if (nDeletes > 0L)
      landAsync(graft.sinks.AnnStore.land(spark, storePath, "deletes", delIds,
        landingId, "vec_id"))
    if (nBatch > 0L)
      landAsync(graft.sinks.AnnStore.land(spark, storePath, "vectors", b,
        landingId, "vec_id"))
    val changed: DataFrame =
      if (priorLandings.isEmpty) {
        require(nBatch > 0L, "the first tick needs a non-empty batch")
        val anc = anchorsOf(b)
        // assignment computed ONCE (landed + fed to the build — the
        // hierarchical ranking is the build's widest shuffle)
        val asg0 = SimOps.freshCheckpoint(asgOf(b, anc), eager = true)
        landAsync(graft.sinks.AnnStore.land(spark, storePath, "asg", asg0,
          landingId, "vec_id"))
        SimOps.knnGraphOf(b, anc, "vec_id", "v", "vec_id", "v",
          r = r, cellProbes = 2, descentRounds = 1, corpusAsg = asg0)
      } else {
        // the merged views feed every beam-search hop and both repair
        // unions — checkpoint them once per tick so their window plans
        // don't re-execute per reference (the graphAnnOf contract)
        val priorLive = priorLive0
        val priorEdges = SimOps.freshCheckpoint(
          annIndexReportWith(spark, storePath, landingId,
            liveVectors = priorLive0), eager = false)
        val (survivors, edgesAfterDel, changedDel) =
          if (nDeletes == 0L) (priorLive, priorEdges, null)
          else {
            // the post-delete view = checkpointed DELTA ∪ two anti
            // joins off the checkpointed prior index — round 17 keeps
            // the checkpoint on the DELTA only (small) and serves the
            // union LAZILY: the round-16 eager form paid an
            // index-sized localCheckpoint write per delete tick. The
            // Catalyst Union constraint-rewrite crash the eager form
            // sidestepped composed two LAZY window plans; both union
            // children here hang off LogicalRDDs (checkpoint plans),
            // which is exactly the shape the insert path already runs.
            val cd = SimOps.freshCheckpoint(
              SimOps.graphDeleteDeltaOf(priorLive, delIds, priorEdges,
                "vec_id", "v", r = r), eager = true)
            // LAZY checkpoint on the union view (round-17): the insert
            // search references it per beam hop (2·hops via the
            // symmetrized view) plus the repair semi join and the final
            // union — un-checkpointed, each reference re-ran the two
            // index-sized anti joins; the checkpoint evaluates them ONCE
            // on first use. Both union children hang off LogicalRDDs
            // (the Catalyst Union constraint-rewrite crash guard), and
            // the materialization is block-manager-resident, not the
            // round-16 per-tick durable write.
            // broadcast hints on the delete/changed-bounded anti sides
            // (round-18, §3.1): priorEdges/priorLive are checkpoint
            // leaves Catalyst cannot size, so un-hinted these anti
            // joins sort-merge-shuffled the whole prior INDEX (and the
            // live corpus) per delete tick; hinted, both are scanned
            // against broadcast probes
            val after = SimOps.freshCheckpoint(
              cd.unionByName(priorEdges
                .join(broadcast(cd.select("src").distinct()), Seq("src"), "left_anti")
                .join(broadcast(delIds.select(col("vec_id").as("src"))),
                  Seq("src"), "left_anti")),
              eager = false)
            (priorLive.join(broadcast(delIds), Seq("vec_id"), "left_anti"), after, cd)
          }
        if (nBatch == 0L) {
          require(nDeletes > 0L, "a tick needs a batch, deletes, or both")
          changedDel
        } else {
          val anc = anchorsOf(survivors)
          // the asg COMPUTE (delta×anchor cosine rank) moves onto the
          // land thread too — it feeds nothing else in this tick
          // (survivorAsg below reads the STORE's landings < this one)
          landAsync(graft.sinks.AnnStore.land(spark, storePath, "asg",
            asgOf(b, anc), landingId, "vec_id"))
          val survivorAsg = mergedAsg(spark, storePath, landingId)
            .join(survivors.select("vec_id"), Seq("vec_id"), "left_semi")
          val ci0 = SimOps.graphInsertDeltaOf(survivors, b, edgesAfterDel,
            anc, anc, "vec_id", "v", r = r, beam = beam, hops = hops,
            corpusAsg = survivorAsg)
          if (changedDel == null) ci0
          else {
            // ci is referenced twice below (the union AND its src set
            // for the anti join) — un-checkpointed, the whole
            // insert-delta tree (top-r dedup over the post-delete
            // union) executed twice per tick (round-17; bit-identical)
            val ci = SimOps.freshCheckpoint(ci0, eager = false)
            ci.unionByName(changedDel
              .join(broadcast(ci.select("src").distinct()), Seq("src"), "left_anti"))
          }
        }
      }
    val changedOut = graft.Checkpoints.register(
      changed.select(col("src"), col("dst"), col("cos"))
        .localCheckpoint(eager = true))
    val nChanged = changedOut.count()
    if (nChanged > 0L)
      landAsync(graft.sinks.AnnStore.land(spark, storePath, "edges", changedOut,
        landingId, "src"))
    import spark.implicits._
    landAsync(land(spark, s"$storePath/ticks",
      Seq((nBatch, nDeletes, nChanged)).toDF("n_batch", "n_deletes", "n_changed"),
      landingId))
    landFutures.foreach(_.get()) // surface the first land failure
    } finally {
      // success path: the queue is already drained (the get()s above);
      // failure path: cancel pending lands and WAIT for any in-flight
      // write to stop before the scoped block frees the checkpoint
      // blocks it references
      lander.shutdownNow()
      lander.awaitTermination(300, java.util.concurrent.TimeUnit.SECONDS)
      ()
    }
  }

  /** COMPACTION for the delta-landed ANN store — the store-size lever
    * that completes the delta-bounded design: landings accumulate one
    * changed-list set per tick, and while the merged view is always
    * correct, the latest-per-src window's input grows with tick count.
    * Compaction rewrites the three merged views (live vectors, index,
    * assignments) as ONE baseline landing at `upTo - 1` and drops
    * every older landing (and every delete landing — tombstoned ids
    * are simply absent from the baseline). Run it on the index's
    * maintenance cadence (FreshDiskANN's periodic consolidation), not
    * per tick.
    *
    * Crash-safe and idempotent: the baseline is eagerly materialized
    * BEFORE any write; a crash between the landing and the drops
    * leaves a store whose merged views are UNCHANGED (the baseline
    * wins latest-per-src/latest-op for every live row; older landings
    * lose every pick), and re-running completes the drops. A manifest
    * row is (re)landed at the baseline id so the completed-tick guard
    * holds even when `upTo - 1` was never itself a tick. Spec-pinned
    * (Round16Spec): report/live views bit-equal across compaction, a
    * subsequent tick lands bit-identical lists on a compacted vs
    * uncompacted store, and old landings are gone.
    *
    * `reassignAnchorMod > 0` additionally REPAIRS ANCHOR DRIFT
    * (round-17): stored assignments reflect each node's INSERT-time
    * anchor set, and as deletes remove anchors and inserts add them
    * the stored cells stop matching what a fresh assignment would
    * pick — the insert path's corpus-side cell proposals then miss
    * (the staleness [[annAsgDrift]] measures). With the knob set,
    * compaction re-assigns every live node against the CURRENT
    * anchor set (`vec_id % reassignAnchorMod == 0` over the live
    * corpus — pass the tick's `anchorMod`) and lands THAT as the
    * baseline: drift resets to zero and a subsequent insert tick
    * proposes exactly what a fresh-built store would (Round17Spec).
    * The re-assignment is corpus-sized — which compaction already is
    * — so the maintenance cadence pays it where the per-tick path
    * never does. Default 0 keeps the bit-equal carry-forward. */
  def annIndexCompact(spark: SparkSession, storePath: String,
                      upTo: Long,
                      reassignAnchorMod: Int = 0): Unit = graft.Checkpoints.scoped {
    require(upTo >= 1L, s"upTo must be >= 1, got $upTo")
    import graft.ops.SimOps
    import graft.sinks.SketchStore.land
    val base = upTo - 1
    val live = SimOps.freshCheckpoint(
      annLiveVectors(spark, storePath, upTo), eager = true)
    val edges = SimOps.freshCheckpoint(
      annIndexReportWith(spark, storePath, upTo, liveVectors = live), eager = true)
    val asg = SimOps.freshCheckpoint(
      if (reassignAnchorMod > 0) freshAsgOf(live, reassignAnchorMod)
      else mergedAsg(spark, storePath, upTo)
        .join(live.select("vec_id"), Seq("vec_id"), "left_semi"), eager = true)
    // the three baseline frames are eagerly checkpointed above, so the
    // lands are independent sinks — run them concurrently (guide §2.6;
    // landMany pins dynamic overwrite for the whole group, so the
    // concurrent writes cannot race the conf restore)
    graft.sinks.AnnStore.landMany(spark, storePath, base, Seq(
      ("vectors", live, "vec_id"),
      ("edges", edges, "src"),
      ("asg", asg, "vec_id")))
    import spark.implicits._
    land(spark, s"$storePath/ticks",
      Seq((live.count(), 0L, edges.count()))
        .toDF("n_batch", "n_deletes", "n_changed"), base)
    graft.sinks.AnnStore.dropLandings(spark, storePath, "vectors", base)
    graft.sinks.AnnStore.dropLandings(spark, storePath, "edges", base)
    graft.sinks.AnnStore.dropLandings(spark, storePath, "asg", base)
    graft.sinks.AnnStore.dropLandings(spark, storePath, "deletes", upTo)
    // ticks is a plain (unbucketed) landing store — drop by dir
    graft.sinks.PartitionDirs.drop(spark, s"$storePath/ticks", "__landing")(_.toLong < base)
  }

  /** The s26 incremental graph insert run CONTINUOUSLY: every
    * micro-batch of arriving vectors is absorbed into the stored index
    * by search-connect-repair; the latest landed edge list IS the
    * queryable index at every tick. The s-family's index lifecycle
    * (build / search / insert / delete / drift-detect) gets its
    * streaming loop. */
  def streamingAnnIndex(spark: SparkSession, vecs: DataFrame,
                        storePath: String, checkpointDir: String,
                        r: Int = 8, beam: Int = 4, hops: Int = 3):
      org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          annIndexTick(spark, storePath, batch, "vec_id", "v",
            r, beam, hops, batchId)
          ()
        }
      }
      .start()

  /** Materialize a gate report, then DELETE the temp store behind it
    * (round-16 advice: st16/st17/st18 build the largest per-query temp
    * ANN stores — three ticks plus a compaction baseline — and
    * repeated gate/bench/determinism runs otherwise accumulate disk
    * under java.io.tmpdir). The report is pinned to the block manager
    * first, so the returned frame never re-reads the store. */
  private def reportThenDrop(store: String)(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = true)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(store))
    graft.sinks.AnnStore.dropTables(out.sparkSession, store)
    out
  }

  /** #35p the continuous vector-index loop as a two-tick batch REPLAY
    * (the st09 rule): tick 0 lands corpus A (vec_id % 10 ≠ 9) and
    * builds the graph on it; tick 1 lands the held-out B slice and
    * absorbs it by search-connect-repair — landing ONLY the changed
    * adjacency lists. The report is [[annIndexReport]]'s
    * latest-landing-per-src merged view, which the delta-landing law
    * makes bit-identical to the one-shot insert — so the oracle is
    * LITERALLY s26's CTE tree (the incremental-maintenance law as the
    * parity check: stream-through-the-delta-store == one-shot insert
    * == the oracle's replay of both). Round15bSpec pins stream ==
    * one-shot bit-identity via live MemoryStream and tick replay
    * idempotency. */
  private val st16: Q = (s, dir) => {
    val all = Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), F.asDouble(col("embedding")).as("v"))
    val store = java.nio.file.Files.createTempDirectory("graft_stream_ann_").toString
    annIndexTick(s, store, all.filter(pmod(col("vec_id"), lit(10)) =!= 9),
      "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 0L)
    annIndexTick(s, store, all.filter(pmod(col("vec_id"), lit(10)) === 9),
      "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 1L)
    reportThenDrop(store)(annIndexReport(s, store)
      .select(col("src"), col("dst"), F.r6(col("cos")).as("cos_sim"))
      .orderBy("src", "dst"))
  }

  private val st16Sql: String = graft.ops.SimOps.oracle("s26_ann_insert")

  /** #35q the FULL index lifecycle in one continuous loop — tick 1
    * interleaves DELETES (takedowns/TTL — s27's motivation) with an
    * insert batch, FreshDiskANN consolidation order (delete first,
    * insert on the survivors): tick 0 builds on vec_id % 10 ≠ 8;
    * tick 1 deletes the % 10 = 9 slice and inserts the held-out
    * % 10 = 8 slice. The report is the merged index view, bit-equal by
    * the two delta-landing laws to the one-shot composition
    * `graphInsertOf(survivors, B, graphDeleteOf(A, D, edges))` — and
    * the oracle replays build, delete, search and insert as ONE CTE
    * tree. Round16Spec pins composition bit-equality, delete-tick
    * replay idempotency, and delete→re-insert resurrection. */
  private val st17: Q = (s, dir) => {
    val all = Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), F.asDouble(col("embedding")).as("v"))
    val store = java.nio.file.Files.createTempDirectory("graft_stream_annd_").toString
    annIndexTick(s, store, all.filter(pmod(col("vec_id"), lit(10)) =!= 8),
      "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 0L)
    annIndexTick(s, store, all.filter(pmod(col("vec_id"), lit(10)) === 8),
      "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 1L,
      deletes = all.filter(pmod(col("vec_id"), lit(10)) === 9))
    reportThenDrop(store)(annIndexReport(s, store)
      .select(col("src"), col("dst"), F.r6(col("cos")).as("cos_sim"))
      .orderBy("src", "dst"))
  }

  private val st17Sql: String = graft.ops.SimOps.st17ComposedSql

  /** #35r the maintenance loop WITH MID-STREAM COMPACTION — the store
    * lifecycle a long-running index actually ages through: tick 0
    * builds on vec_id % 10 ∉ {7, 8}; tick 1 deletes the % 10 = 9 slice
    * and inserts the % 10 = 8 slice (st17's composed tick); then
    * [[annIndexCompact]] rewrites the store as one baseline landing
    * (tombstones gone, history dropped); tick 2 inserts the held-out
    * % 10 = 7 slice ON THE COMPACTED STORE. The report is the merged
    * index view — bit-equal, by the delta-landing laws PLUS the
    * compaction bit-stability law, to the uncompacted three-tick run,
    * so the oracle replays build → delete → insert → insert as ONE CTE
    * tree with no compaction step: a compaction that leaked into the
    * index (dropped a live list, resurrected a tombstone, moved an
    * assignment) hash-fails the gate. Completes the store lifecycle:
    * grow st16 / delete st17 / COMPACT st18. */
  private val st18: Q = (s, dir) => {
    val all = Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), F.asDouble(col("embedding")).as("v"))
    val m10 = pmod(col("vec_id"), lit(10))
    val store = java.nio.file.Files.createTempDirectory("graft_stream_annc_").toString
    annIndexTick(s, store, all.filter(m10 =!= 7 && m10 =!= 8),
      "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 0L)
    annIndexTick(s, store, all.filter(m10 === 8),
      "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 1L,
      deletes = all.filter(m10 === 9))
    annIndexCompact(s, store, upTo = 2L)
    annIndexTick(s, store, all.filter(m10 === 7),
      "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 2L)
    reportThenDrop(store)(annIndexReport(s, store)
      .select(col("src"), col("dst"), F.r6(col("cos")).as("cos_sim"))
      .orderBy("src", "dst"))
  }

  private val st18Sql: String = graft.ops.SimOps.st18ComposedSql

  /** The a04 CMS frequency sketch run CONTINUOUSLY: every micro-batch
    * lands its own counter state; the merged store answers frequency
    * probes over EVERYTHING ever landed at state-sized cost
    * (≤ rows·width counters, independent of raw history) — the
    * frequency sibling of [[streamingSketchProfile]]. */
  def streamingTermSketch(spark: SparkSession, docs: DataFrame,
                          storePath: String, checkpointDir: String,
                          textCol: String = "text", rows: Int = 4,
                          width: Int = 1024):
      org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          termSketchTick(spark, storePath, batch, textCol, rows, width, batchId)
          ()
        }
      }
      .start()

  /** #35l the term-frequency sketch monitor as a two-tick batch REPLAY
    * (the st09/st10 rule): tick 1 lands the even-doc_id half's CMS
    * state, tick 2 the odd half's, and the report derives from MERGED
    * state only — by cell-wise-add linearity it must hash-equal the
    * whole-corpus a04 sketch the oracle computes directly (the merge
    * law AS the parity check). Watchlist = the corpus' exact top-20
    * terms, so the estimates land on the rows a04 audits. */
  private val st12: Q = (s, dir) => {
    val docs = Tables.t(s, dir, "documents")
    val store = java.nio.file.Files.createTempDirectory("graft_stream_cms_").toString
    (0 until 2).foreach { tk =>
      termSketchTick(s, s"$store/cms",
        docs.filter(pmod(col("doc_id"), lit(2L)) === tk), "text", 4, 1024, tk.toLong)
    }
    val watch = docs.select(explode(F.words(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n_exact"))
      .orderBy(col("n_exact").desc, col("term")).limit(20)
    termSketchReport(s, s"$store/cms", watch, 4, 1024)
      .orderBy(col("n_exact").desc, col("term"))
  }

  private val st12Sql =
    """WITH toks AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
      |counts AS (SELECT term, count(*) AS n_exact FROM toks GROUP BY term),
      |expand AS (
      |  SELECT term, n_exact, r.r AS r,
      |    CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || term), 1, 15)) AS BIGINT) % 1024 AS b
      |  FROM counts, range(0, 4) r(r)),
      |sketch AS (SELECT r, b, sum(n_exact) AS cnt FROM expand GROUP BY r, b),
      |cells AS (SELECT count(*) AS cells_used FROM sketch),
      |topk AS (SELECT term, n_exact FROM counts ORDER BY n_exact DESC, term LIMIT 20),
      |est AS (
      |  SELECT t.term, t.n_exact, min(coalesce(s.cnt, 0)) AS n_est
      |  FROM topk t JOIN expand e USING (term)
      |  LEFT JOIN sketch s ON e.r = s.r AND e.b = s.b
      |  GROUP BY t.term, t.n_exact)
      |SELECT term, n_exact, CAST(n_est AS BIGINT) AS n_est,
      |  CAST(n_est - n_exact AS BIGINT) AS overest,
      |  CAST(cells.cells_used AS BIGINT) AS cells_used
      |FROM est, cells
      |ORDER BY n_exact DESC, term""".stripMargin

  private val st10Sql = {
    val m = 4096L
    val alphaM2 = 0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
    s"""WITH h AS (SELECT event_type,
       |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM events),
       |regs AS (SELECT event_type, h % $m AS reg,
       |    max(CASE WHEN h // $m > 0 THEN 49 - length(bin(h // $m)) ELSE 49 END) AS rho
       |  FROM h GROUP BY 1, 2),
       |rh AS (SELECT event_type, rho, count(*) AS c FROM regs GROUP BY 1, 2),
       |fold AS (SELECT event_type,
       |    sum(CAST(c AS DOUBLE) * pow(2.0, -CAST(rho AS DOUBLE))) OVER o AS s,
       |    sum(c) OVER (PARTITION BY event_type) AS present,
       |    lead(rho, 1) OVER po IS NULL AS is_last
       |  FROM rh
       |  WINDOW po AS (PARTITION BY event_type ORDER BY rho),
       |    o AS (PARTITION BY event_type ORDER BY rho
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |est AS (SELECT event_type,
       |    CASE WHEN $alphaM2 / (CAST($m - present AS DOUBLE) + s) <= ${2.5 * 4096} AND present < $m
       |      THEN 4096.0 * ln(4096.0 / CAST($m - present AS DOUBLE))
       |      ELSE $alphaM2 / (CAST($m - present AS DOUBLE) + s) END AS est
       |  FROM fold WHERE is_last),
       |vb AS (SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bucket FROM events),
       |vh AS (SELECT event_type, bucket, count(*) AS cnt FROM vb GROUP BY 1, 2),
       |vf AS (SELECT event_type, bucket,
       |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(cnt) OVER (PARTITION BY event_type) AS n
       |  FROM vh),
       |qs AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       |    (CAST(min(CASE WHEN CAST(cum AS DOUBLE) >= 0.5 * CAST(n AS DOUBLE) THEN bucket END) AS DOUBLE) + 0.5) * 10.0 AS p50,
       |    (CAST(min(CASE WHEN CAST(cum AS DOUBLE) >= 0.95 * CAST(n AS DOUBLE) THEN bucket END) AS DOUBLE) + 0.5) * 10.0 AS p95
       |  FROM vf GROUP BY event_type)
       |SELECT est.event_type, qs.n, round(est.est, 4) AS est_users,
       |  round(qs.p50, 4) AS p50_est, round(qs.p95, 4) AS p95_est
       |FROM est JOIN qs ON est.event_type = qs.event_type
       |ORDER BY est.event_type""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "st13_stream_bloom" -> st13,
    "st14_stream_ohlc" -> st14,
    "st15_stream_sample" -> st15,
    "st16_stream_ann" -> st16,
    "st17_stream_ann_delete" -> st17,
    "st18_stream_ann_compact" -> st18,
    "st10_stream_profile" -> st10,
    "st12_stream_topfreq" -> st12,
    "st08_stream_psi" -> st08,
    "st06_stream_adf" -> st06,
    "st11_stream_cusum" -> st11,
    "st07_stream_sessions" -> st07,
    "st05_stream_quality" -> st05,
    "st01_window_agg" -> st01,
    "st02_stream_dedup" -> st02,
    "st03_interval_join" -> st03,
    "st04_stream_topk" -> st04)

  val oracle: Map[String, String] = Map(
    "st13_stream_bloom" -> st13Sql,
    "st14_stream_ohlc" -> st14Sql,
    "st15_stream_sample" -> st15Sql,
    "st16_stream_ann" -> st16Sql,
    "st17_stream_ann_delete" -> st17Sql,
    "st18_stream_ann_compact" -> st18Sql,
    "st10_stream_profile" -> st10Sql,
    "st12_stream_topfreq" -> st12Sql,
    "st08_stream_psi" -> st08Sql,
    "st06_stream_adf" -> st06Sql,
    "st11_stream_cusum" -> st11Sql,
    "st07_stream_sessions" -> st07Sql,
    "st05_stream_quality" -> st05Sql,
    "st01_window_agg" -> st01Sql,
    "st02_stream_dedup" -> st02Sql,
    "st03_interval_join" -> st03Sql,
    "st04_stream_topk" -> st04Sql)

  /** The reference's ENTIRE ingest loop as one continuous pipeline:
    * landed JSON kline pages (one row per fetched page — files here; a
    * Kafka topic in production) → [[graft.sources.KlineJson.parse]]
    * typed normalization → per-batch keep-last by page order (the
    * reference's page-overlap heal) → upsert into the partitioned store
    * via [[graft.sinks.MergeWriter]], where the newest batch's rows
    * override the store — so a re-fetch that fixes up an earlier bar
    * wins both within a batch (higher page_seq) and across batches
    * (merge priority). Replaces the reference's scheduler-driven
    * poll/update_table cycle (crypto_data_pipeline_duckdb.py:1612-1680)
    * with exactly-once incremental processing: the checkpoint tracks
    * consumed pages and each merge rewrites only the partitions the
    * batch touches.
    *
    * @return the started query; callers own its lifecycle. */
  def streamingKlineIngest(spark: SparkSession, landingDir: String, storePath: String,
                           marketType: String, interval: String,
                           checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = landedPages(spark, landingDir)
    val parsed = graft.sources.KlineJson
      .parse(raw, "payload", "symbol", marketType, interval, passthrough = Seq("page_seq"))
    ingestSink(spark, parsed, storePath, checkpointDir,
      graft.sources.KlineJson.dedupKeepLast(_, col("page_seq")),
      mergeKeys = Seq("symbol", "timestamp"))
  }

  /** The options-market twin of [[streamingKlineIngest]]: same landing
    * contract, store layout and heal/merge cycle, but pages carry the
    * options API's OBJECT-shaped klines, parsed by
    * [[graft.sources.OptionJson.parseOptionKlines]] into the exact
    * same typed schema — one ingest pipeline family across all three
    * markets. */
  def streamingOptionKlineIngest(spark: SparkSession, landingDir: String, storePath: String,
                                 checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = landedPages(spark, landingDir)
    val parsed = graft.sources.OptionJson
      .parseOptionKlines(raw, "payload", "symbol", passthrough = Seq("page_seq"))
    // interval rides the options payload (not a pipeline constant like
    // spot/futures), so the PK — dedup AND merge — must include it, or
    // a landing dir carrying mixed intervals collapses the 1h bar into
    // the 1m bar sharing its openTime
    ingestSink(spark, parsed, storePath, checkpointDir,
      graft.sources.OptionJson.dedupKlinesKeepLast(_, col("page_seq")),
      mergeKeys = Seq("symbol", "interval", "timestamp"))
  }

  /** The rate-history twins of [[streamingKlineIngest]] — funding rates
    * (crypto_data_pipline_clickhouse.py:717-940) and margin interest
    * rates (:461-716) as the same continuous landing → parse → heal →
    * merge cycle, completing the ingest family: every table-producing
    * fetch surface in the reference (spot/futures/options klines,
    * option exercises, funding, margin) now has both a batch parse
    * layer and a checkpointed streaming pipeline. The landing page's
    * `symbol` column is the fetch symbol/asset that produced the page
    * (metadata only — rows carry their own keys). */
  def streamingFundingIngest(spark: SparkSession, landingDir: String, storePath: String,
                             checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = landedPages(spark, landingDir)
    val parsed = graft.sources.RatesJson.parseFunding(raw, "payload", passthrough = Seq("page_seq"))
    ingestSink(spark, parsed, storePath, checkpointDir,
      graft.sources.RatesJson.dedupFundingKeepLast(_, col("page_seq")),
      mergeKeys = Seq("symbol", "fundingTime"))
  }

  /** See [[streamingFundingIngest]]; keyed (asset, timestamp) and
    * partitioned by asset — the margin store's natural prune column. */
  def streamingMarginIngest(spark: SparkSession, landingDir: String, storePath: String,
                            checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = landedPages(spark, landingDir)
    val parsed = graft.sources.RatesJson.parseMargin(raw, "payload", passthrough = Seq("page_seq"))
    ingestSink(spark, parsed, storePath, checkpointDir,
      graft.sources.RatesJson.dedupMarginKeepLast(_, col("page_seq")),
      mergeKeys = Seq("asset", "timestamp"), partitionCol = "asset")
  }

  /** `maxFilesPerTrigger` 0 = unlimited; 1 makes each landed page its
    * own micro-batch (the daily-tick replay shape p05 exercises). */
  private def landedPages(spark: SparkSession, landingDir: String,
                          maxFilesPerTrigger: Int = 0): DataFrame = {
    val r = spark.readStream
      .schema("symbol STRING, page_seq LONG, payload STRING")
    (if (maxFilesPerTrigger > 0)
       r.option("maxFilesPerTrigger", maxFilesPerTrigger)
     else r).json(landingDir)
  }

  private def ingestSink(spark: SparkSession, parsed: DataFrame, storePath: String,
                         checkpointDir: String, dedup: DataFrame => DataFrame,
                         mergeKeys: Seq[String],
                         partitionCol: String = "symbol"): org.apache.spark.sql.streaming.StreamingQuery =
    parsed.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(spark, batch, storePath, dedup, mergeKeys, partitionCol)
      }
      .start()

  /** One [[ingestSink]] micro-batch: heal the landed rows, upsert them
    * into the store, compact the partitions they touched. Each step
    * runs once, so a batch merged into an existing store is six Spark
    * jobs: the healed delta's checkpoint (shuffle + materialize),
    * merge's impacted-partition collect, merge's checkpoint (shuffle +
    * materialize) and its write; compaction only lists unless a
    * partition is fragmented. Needs no store or emptiness probe: a
    * batch that parses to no rows impacts no partitions and writes
    * nothing, and a missing store — or a root holding only a failed
    * first write's `_temporary` — merges against an empty base, so a
    * retried first batch heals itself. */
  private[graft] def ingestBatch(spark: SparkSession, batch: DataFrame, storePath: String,
                                 dedup: DataFrame => DataFrame, mergeKeys: Seq[String],
                                 partitionCol: String): Unit = {
    val delta = dedup(batch).localCheckpoint(eager = true)
    try {
      val impacted = graft.sinks.MergeWriter.merge(spark, storePath, delta, mergeKeys, partitionCol)
      // small-file maintenance, bounded by the delta's partitions
      // (the marketTick rule)
      graft.sinks.MergeWriter.compact(spark, storePath, partitionCol,
        onlyValues = Some(impacted))
    } finally graft.Checkpoints.free(delta)
  }

  /** The d13 incremental-dedup daily loop as a CONTINUOUS pipeline —
    * the curation twin of [[streamingKlineIngest]]'s store loop: each
    * micro-batch of arriving docs is deduped against the history store
    * with the exact [[graft.ops.DedupOps.incrementalDedupOf]] semantics
    * (exact md5 > minhash-band near ≥ τ > new), its verdicts land at
    * `verdictPath` with batch provenance, and the batch is then folded
    * INTO the history store — so every later micro-batch dedups
    * against everything seen before. foreachBatch is the sanctioned
    * shape for a stream-static join whose static side must advance
    * per batch. Batch-equivalent replay gate: st09_stream_inc_dedup.
    *
    * The store holds SIGNATURES, not text ([[graft.ops.DedupOps
    * .sigsOf]]: doc_id, __m, sig, partitioned by batch_id): each
    * document is normalized and minhashed ONCE, ever — ticks probe
    * stored evidence via [[graft.ops.DedupOps.incrementalDedupProbeOf]]
    * instead of re-hashing the accumulated corpus, so per-tick cost
    * scales with the batch (plus the md5/band joins), not the corpus.
    *
    * Replay idempotency (the t22 gram-store rule): both sinks are
    * batch_id partitions written with DYNAMIC overwrite, and the
    * history read prunes batch_id < current — a replayed batch
    * overwrites its own partitions and cannot see its own earlier
    * partial write. A legacy store (raw-doc rows, no batch_id) is
    * migrated in place: signatures are computed from its text ONCE
    * into a batch_id=-1 partition. A legacy VERDICT sink (flat
    * appended files with batch_id as a data column, the
    * pre-idempotent layout) is likewise rewritten once into batch_id
    * partitions — flat files and partition directories cannot coexist
    * under one reader. Proven in Round9Spec: a doc seen
    * in micro-batch 1 flags its copy in micro-batch 2 as exact, a
    * near-copy as near.
    *
    * @return the started query; callers own its lifecycle. */
  def streamingIncrementalDedup(spark: SparkSession, docs: DataFrame,
                                historyPath: String, verdictPath: String,
                                checkpointDir: String,
                                idCol: String = "doc_id", textCol: String = "text",
                                shingleN: Int = 3, k: Int = 8, bands: Int = 4,
                                threshold: Double = 0.5): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val bs = graft.ops.DedupOps
            .sigsOf(batch, idCol, textCol, shingleN, k)
            .localCheckpoint(eager = true)
          try {
            val histSchema =
              try Some(spark.read.parquet(historyPath).schema)
              catch { case _: org.apache.spark.sql.AnalysisException => None }
            if (histSchema.exists(sc => !sc.fieldNames.contains("batch_id"))) {
              // legacy raw-doc store: sign it once into batch_id=-1
              // (strictly before any replayable batch)
              val legacy = graft.ops.DedupOps
                .sigsOf(spark.read.parquet(historyPath), idCol, textCol, shingleN, k)
                .withColumn("batch_id", lit(-1L))
                .localCheckpoint(eager = true)
              try legacy.write.mode("overwrite")
                .partitionBy("batch_id").parquet(historyPath)
              finally graft.Checkpoints.free(legacy)
            }
            val hist =
              if (histSchema.isDefined)
                spark.read.parquet(historyPath)
                  .filter(col("batch_id") < lit(batchId))
                  .select(col("doc_id"), col("__m"), col("sig"))
              else bs.filter(lit(false))
            // legacy flat verdict sink (appended files, batch_id as a
            // data column): rewrite ONCE as batch_id partitions —
            // readers cannot mix the flat files with the partition
            // dirs this loop writes
            val vRoot = new org.apache.hadoop.fs.Path(verdictPath)
            val vfs = vRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
            if (vfs.exists(vRoot) && vfs.listStatus(vRoot)
                .exists(st => st.isFile && st.getPath.getName.endsWith(".parquet"))) {
              val flat = spark.read.parquet(verdictPath)
              val legacyV = (if (flat.columns.contains("batch_id")) flat
                             else flat.withColumn("batch_id", lit(-1L)))
                .localCheckpoint(eager = true)
              try legacyV.write.mode("overwrite")
                .partitionBy("batch_id").parquet(verdictPath)
              finally graft.Checkpoints.free(legacyV)
            }
            graft.ops.DedupOps
              .incrementalDedupProbeOf(hist, bs, k, bands, threshold)
              .withColumn("batch_id", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id").parquet(verdictPath)
            bs.withColumn("batch_id", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id").parquet(historyPath)
            // small-file maintenance: each batch partition lands with a
            // shuffle-task-count file-set (once, never appended again) —
            // collapse THIS batch's partitions now, so a long-running
            // stream's history scan sees O(batches) files, not
            // O(batches·tasks). Bounded to the current batch partition.
            graft.sinks.MergeWriter.compact(spark, verdictPath, "batch_id",
              onlyValues = Some(Seq(batchId)))
            graft.sinks.MergeWriter.compact(spark, historyPath, "batch_id",
              onlyValues = Some(Seq(batchId)))
            ()
          } finally graft.Checkpoints.free(bs)
        }
      }
      .start()

  /** The p02 DAILY MARKET LOOP as ONE CONTINUOUS pipeline (p05): the
    * reference's scheduler tick — fetch funding pages → page-heal →
    * store upsert → spot align → premium → WMA(12) → extreme report
    * (scheduler_clickhouse.py:26-147 sequencing) — re-expressed as a
    * checkpointed Structured Streaming query over the landed-page
    * contract of [[streamingFundingIngest]]. Per micro-batch:
    *
    *   1. watermarked exact-resend guard:
    *      `dropDuplicatesWithinWatermark(symbol, fundingTime,
    *      page_seq)` on ARRIVAL time (`current_timestamp` at parse) —
    *      a page re-landed verbatim inside the delay window is dropped
    *      before it can force a no-op merge; genuine REVISIONS (higher
    *      page_seq, same PK) pass. Arrival time, NOT event time, on
    *      purpose: a backfill page legitimately carries fundingTimes
    *      far older than live pages, and an event-time watermark would
    *      silently drop the historical re-fetch as "late" (caught by
    *      the Round11Spec reversed-arrival case). The `watermarkDelay`
    *      setting only bounds dedup STATE; the FINAL report is
    *      watermark-invariant (pinned at two settings) because
    *      correctness rides the store heal, not the guard.
    *   2. upsert tick: within-batch keep-last by page_seq
    *      ([[graft.sources.RatesJson.dedupFundingKeepLast]]), then a
    *      REVISION-PRECEDENCE merge into the partitioned store — an
    *      arriving row only overrides a stored PK when its page_seq is
    *      ≥ the stored one, so a LATE page 1 landing after page 2
    *      cannot roll back the revision ([[graft.sinks.MergeWriter]]
    *      alone is newest-batch-wins; the guard join reads only the
    *      delta's impacted symbol partitions).
    *   3. DELTA-BOUNDED report recompute: every stage of
    *      [[graft.ops.IngestOps.marketCandidatesOf]] (as-of align →
    *      WMA(12) → LAG(5) → debounce) partitions by `symbol`, so a
    *      micro-batch can only change the candidate rows of the
    *      symbols it touched. The tick recomputes candidates for ONLY
    *      those symbols — the store read is partition-pruned to the
    *      delta's symbol list (the same impacted-partition budget as
    *      the merge) — caps them at the newest 20 per symbol (any row
    *      of the global top-20 is by definition within its own
    *      symbol's newest 20, so the cap loses nothing), and
    *      dynamic-overwrites just those partitions of the candidate
    *      table at `candPath`; a touched symbol whose candidates all
    *      vanished (a revision un-extremed it) gets its stale
    *      partition deleted explicitly, because dynamic overwrite
    *      never touches a partition it has no rows for.
    *   4. global cut: [[graft.ops.IngestOps.reportFromCandidates]]
    *      over the candidate table — ≤ 20·|symbols| rows regardless of
    *      store size — overwritten at `reportPath` (the continuously
    *      maintained output, the reference's daily report). Per-tick
    *      cost therefore scales with the DELTA (stage 3) plus a
    *      store-size-independent constant (stage 4), not with the
    *      accumulated store — the batch gate's full
    *      [[graft.ops.IngestOps.marketReportOf]] recompute would grow
    *      with history and defeat the continuous form at 100 TB.
    *
    * Batch==stream is therefore structural: after the stream drains,
    * the store equals the batch heal of all pages, and the report is
    * the same function of it. Round11Spec pins row-for-row equality
    * with p02 under (a) both pages in one micro-batch, (b) one page
    * per micro-batch, (c) REVERSED arrival (page 2 first), at two
    * watermark settings.
    *
    * @return the started query; callers own its lifecycle. */
  def streamingMarketPipeline(spark: SparkSession, landingDir: String,
                              spot: DataFrame, storePath: String,
                              reportPath: String, checkpointDir: String,
                              watermarkDelay: String = "2 hours",
                              maxFilesPerTrigger: Int = 0,
                              candPath: String = ""):
      org.apache.spark.sql.streaming.StreamingQuery = {
    val cands = if (candPath.nonEmpty) candPath else reportPath + "_cands"
    val raw = landedPages(spark, landingDir, maxFilesPerTrigger)
    val parsed = graft.sources.RatesJson
      .parseFunding(raw, "payload", passthrough = Seq("page_seq"))
    val guarded = parsed
      .withColumn("__arrival", current_timestamp())
      .withWatermark("__arrival", watermarkDelay)
      .dropDuplicatesWithinWatermark("symbol", "fundingTime", "page_seq")
    guarded.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val healed = graft.sources.RatesJson
            .dedupFundingKeepLastSeq(batch, "page_seq")
            .localCheckpoint(eager = true)
          try marketTick(spark, storePath, cands, reportPath, spot, healed)
          finally graft.Checkpoints.free(healed)
        }
      }
      .start()
  }

  /** The report schema's column order — re-imposed after the candidate
    * table round-trips through a symbol-partitioned layout (parquet
    * reads put partition columns last). */
  private val reportCols: Seq[String] = Seq("symbol", "ts_ms", "ts_cn_ms",
    "fundingRate", "markPrice", "spot", "premium", "wma12", "value_change",
    "gap_ms")

  /** One [[streamingMarketPipeline]] tick over an already-guarded,
    * within-batch-healed delta. Exposed for the scan-metrics spec: the
    * ONLY reads of `storePath` are pruned to the delta's symbol
    * partitions (merge guard + candidate recompute), and the report
    * derives from the ≤ 20·|symbols|-row candidate table, never the
    * store. */
  private[graft] def marketTick(spark: SparkSession, storePath: String,
                                candPath: String, reportPath: String,
                                spot: DataFrame, healed: DataFrame): Unit = {
    // the delta's symbol list: a driver-side list bounded by the
    // batch's symbol count, exactly the MergeWriter impacted-partition
    // budget; every store read below filters `isin` on it, so the scans
    // are STATICALLY partition-pruned (a join against the delta's
    // symbols would leave pruning to runtime DPP — the round-14
    // scan-metrics spec caught the guard read scanning every partition
    // that way)
    val deltaSyms = graft.sinks.MergeWriter.partitionValues(healed, "symbol")
    // every store read below goes through MergeWriter.prunedRead —
    // explicit partition paths, so neither the LISTING nor the scan
    // ever touches an untouched symbol (a plain read + isin filter
    // prunes the scan but still file-indexes the whole store: O(store)
    // per tick, the p05tick probe's 3.7×-growth failure mode)
    def storeSlice(): Option[org.apache.spark.sql.DataFrame] =
      graft.sinks.MergeWriter.prunedRead(spark, storePath, "symbol", deltaSyms)
        .map(_.withColumn("symbol", col("symbol").cast("string")))
    // revision precedence: a delta row loses to a stored row with a
    // STRICTLY higher page_seq (late page 1 after page 2); the stored
    // side is pruned to the delta's symbol partitions. A missing store
    // (or a batch-0 retry over a failed write's `_temporary`) has no
    // impacted partitions: merge lands every row against an empty base
    val effective = storeSlice() match {
      case None => healed
      case Some(s) => healed
        .join(s.select(col("symbol"), col("fundingTime"), col("page_seq").as("__cur_seq")),
          Seq("symbol", "fundingTime"), "left")
        .filter(col("__cur_seq").isNull || col("page_seq") >= col("__cur_seq"))
        .drop("__cur_seq")
    }
    graft.sinks.MergeWriter.merge(spark, storePath, effective,
      keys = Seq("symbol", "fundingTime"), partitionCol = "symbol")
    // maintenance: every merge leaves a shuffle-task-count file-set in
    // each touched partition (a long-running stream rots into small-file
    // scans); compact the DELTA's partitions — listing and rewrite both
    // bounded by the delta, same budget as the merge itself
    graft.sinks.MergeWriter.compact(spark, storePath, "symbol",
      onlyValues = Some(deltaSyms))
    // ---- stage 3: candidate recompute for the DELTA symbols only ----
    val perpDelta = storeSlice()
      .getOrElse(healed) // unreachable post-merge; defensive
      .select(col("symbol"), col("fundingTime").as("ts"),
        col("fundingRate"), col("markPrice"))
    val wNewest = Window.partitionBy(col("symbol")).orderBy(col("ts_ms").desc)
    val deltaCands = graft.ops.IngestOps
      .marketCandidatesOf(perpDelta, spot.filter(col("symbol").isin(deltaSyms: _*)))
      // newest 20 per symbol: a global top-20 row is necessarily within
      // its own symbol's newest 20, so the candidate table stays
      // ≤ 20·|symbols| rows while losing no report row ((symbol, ts)
      // is the healed PK — ts_ms is unique within a symbol)
      .withColumn("__rn", row_number().over(wNewest))
      .filter(col("__rn") <= 20).drop("__rn")
      .localCheckpoint(eager = true)
    try {
      val present = graft.sinks.MergeWriter.partitionValues(deltaCands, "symbol").toSet
      if (present.nonEmpty)
        deltaCands.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("symbol").parquet(candPath)
      // a touched symbol with ZERO candidates left keeps its stale
      // partition under dynamic overwrite — drop it explicitly
      // (bounded by the delta's symbol count, like the merge)
      val stale = deltaSyms.filterNot(present).toSet
      if (stale.nonEmpty)
        graft.sinks.PartitionDirs.drop(spark, candPath, "symbol")(stale.contains)
      // ---- stage 4: global cut from the bounded candidate table ----
      val stored =
        try Some(spark.read.parquet(candPath)
          .withColumn("symbol", col("symbol").cast("string"))
          .select(reportCols.map(col): _*))
        catch { case _: org.apache.spark.sql.AnalysisException => None }
      val report = graft.ops.IngestOps
        .reportFromCandidates(stored.getOrElse(deltaCands.select(reportCols.map(col): _*)))
        .localCheckpoint(eager = true)
      try report.write.mode("overwrite").parquet(reportPath)
      finally graft.Checkpoints.free(report)
    } finally graft.Checkpoints.free(deltaCands)
  }

  /** t22's n-gram novelty as a CONTINUOUS pipeline — the curation twin
    * of [[streamingIncrementalDedup]]'s store loop: each micro-batch of
    * arriving docs scores its novelty against EVERYTHING SEEN BEFORE
    * (the gram-history store) plus in-batch first-ownership (min doc_id
    * within the batch, the batch-side tie rule), appends per-doc
    * (n_grams, n_novel, novelty, batch_id) to `noveltyPath`, and folds
    * its new distinct gram hashes INTO the store. When docs arrive in
    * doc-id order the stream reproduces the batch
    * [[graft.ops.TextStatsOps.ngramNoveltyOf]] exactly (ownership by
    * min doc_id == first arrival — Round11Spec pins it); out-of-order
    * arrival redefines "first" as first-ARRIVED, the semantics a live
    * feed actually wants. The store holds gram HASHES only
    * (vocabulary-sized, never text); the anti-join shuffles on the
    * hash key both sides.
    *
    * Replay-IDEMPOTENT delivery (unlike a blind two-append): both
    * sinks are partitioned by `batch_id` and written with DYNAMIC
    * partition overwrite, and the gram history read EXCLUDES rows
    * with batch_id >= the current batch. A driver crash between the
    * novelty write and the gram-store write (or after both, before
    * the checkpoint commit) replays the batch against exactly the
    * history it saw the first time and overwrites its own partitions
    * — no duplicate novelty rows, no self-contaminated history.
    *
    * Upgrading from the pre-idempotent (flat, batch_id-less) layout:
    * a legacy gram store is detected by schema and backfilled once
    * into a `batch_id=-1` partition before first use. A legacy
    * NOVELTY sink is never read by this pipeline, but its flat files
    * cannot coexist with the new partition directories for readers —
    * point `noveltyPath` at a fresh path (or migrate it the same way)
    * when upgrading.
    *
    * @return the started query; callers own its lifecycle. */
  def streamingNgramNovelty(spark: SparkSession, docs: DataFrame,
                            gramStorePath: String, noveltyPath: String,
                            checkpointDir: String,
                            idCol: String = "doc_id", textCol: String = "text",
                            n: Int = 8): org.apache.spark.sql.streaming.StreamingQuery = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val grams = batch
            .select(col(idCol).as("doc_id"), graft.F.words(col(textCol)).as("__ws"))
            .filter(size(col("__ws")) >= n)
            .select(col("doc_id"), explode(expr(
              s"transform(sequence(0, size(__ws)-$n), i -> array_join(slice(__ws, i+1, $n), ' '))")).as("__g"))
            .select(col("doc_id"), graft.F.hash60(col("__g")).as("__h"))
            .distinct()
            .localCheckpoint(eager = true)
          try {
            val histSchema =
              try Some(spark.read.parquet(gramStorePath).schema)
              catch { case _: org.apache.spark.sql.AnalysisException => None }
            // Legacy store migration: a gram store written by the
            // pre-replay-idempotent version is flat (no batch_id
            // partition column) and would both break the replay filter
            // and conflict with the new partition-directory layout.
            // Backfill it ONCE into a batch_id=-1 partition — every
            // legacy gram predates any replayable batch, so -1
            // preserves the "strictly before this batch" semantics.
            if (histSchema.exists(s => !s.fieldNames.contains("batch_id"))) {
              val legacy = spark.read.parquet(gramStorePath)
                .select(col("__h")).distinct()
                .withColumn("batch_id", lit(-1L))
                .localCheckpoint(eager = true)
              try legacy.write.mode("overwrite")
                .partitionBy("batch_id").parquet(gramStorePath)
              finally graft.Checkpoints.free(legacy)
            }
            val histExists = histSchema.isDefined
            val hist =
              if (histExists)
                // batch_id is the partition column: on replay this
                // prunes away the batch's OWN earlier append, so the
                // recomputed novelty can't see its own grams
                spark.read.parquet(gramStorePath)
                  .filter(col("batch_id") < lit(batchId))
                  .select(col("__h"))
              else grams.select(col("__h")).filter(lit(false))
            val owner = grams.groupBy(col("__h")).agg(min(col("doc_id")).as("__owner"))
            val verdict = grams
              .join(owner, "__h")
              .join(hist.withColumn("__seen", lit(true)).distinct(), Seq("__h"), "left")
              .groupBy(col("doc_id"))
              .agg(count(lit(1)).as("n_grams"),
                sum(when(col("__seen").isNull && col("doc_id") === col("__owner"), 1L)
                  .otherwise(0L)).as("n_novel"))
              .withColumn("novelty",
                col("n_novel").cast("double") / col("n_grams").cast("double"))
              .withColumn("batch_id", lit(batchId))
            verdict.write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id").parquet(noveltyPath)
            grams.select(col("__h")).distinct()
              .withColumn("batch_id", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch_id").parquet(gramStorePath)
            // small-file maintenance (the streamingIncrementalDedup
            // rule): collapse the current batch's partitions
            graft.sinks.MergeWriter.compact(spark, noveltyPath, "batch_id",
              onlyValues = Some(Seq(batchId)))
            graft.sinks.MergeWriter.compact(spark, gramStorePath, "batch_id",
              onlyValues = Some(Seq(batchId)))
            ()
          } finally graft.Checkpoints.free(grams)
        }
      }
      .start()
  }

  /** Streaming WMA(n) — the reference's scheduled premium analytic
    * (crypto_data_pipeline_duckdb.py:1221-1268) run continuously. Per
    * key, [[GroupState]] holds only the n−1 most recent values (O(n)
    * per key, independent of stream length); each arriving event emits
    * its linearly-weighted moving average, None until the window fills
    * — the exact null-till-full semantics of batch q11. Events are
    * ordered (ts, event_id) within a micro-batch; like the reference's
    * own incremental loop, cross-batch late data is handled upstream
    * (watermark + dedup), so arrival order = event order is the
    * contract, proven equivalent to the batch window plan in
    * StreamingSpec. */
  def streamingWma(events: Dataset[WmaEvent], n: Int): Dataset[WmaOut] = {
    import events.sparkSession.implicits._
    val denom = n * (n + 1) / 2.0
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[WmaState, WmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[WmaEvent], state: GroupState[WmaState]) =>
          var recent = state.getOption.map(_.recent).getOrElse(List.empty[Double])
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val win = (recent :+ e.value).takeRight(n)
            val wma =
              if (win.size == n)
                Some(win.iterator.zipWithIndex.map { case (v, i) => v * (i + 1) }.sum / denom)
              else None
            recent = (recent :+ e.value).takeRight(n - 1)
            WmaOut(key, e.event_id, e.ts.getTime, e.value, wma)
          }
          state.update(WmaState(recent))
          out.iterator
      }
  }

  /** Streaming Bollinger bands — batch q31's band detector run
    * continuously: per key, [[GroupState]] holds the n most recent
    * values (O(n) per key, independent of stream length); each
    * arriving event is banded against the n values STRICTLY BEFORE it
    * (the same look-ahead-free window as [[graft.Graft.bollinger]]),
    * emitting mid/upper/lower and the ±1 breakout flag, None until n
    * predecessors exist. Same arrival-order contract as
    * [[streamingWma]]; spec-proven equal to the batch operator. */
  def streamingBollinger(events: Dataset[BollEvent], n: Int, width: Double): Dataset[BollOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[BollState, BollOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[BollEvent], state: GroupState[BollState]) =>
          var recent = state.getOption.map(_.recent).getOrElse(List.empty[Double])
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val banded =
              if (recent.size == n) {
                val mean = recent.sum / n
                val variance = recent.map(x => x * x).sum / n - mean * mean
                val sd = if (variance > 0) math.sqrt(variance) else 0.0
                val (up, lo) = (mean + width * sd, mean - width * sd)
                val flag = if (e.value > up) 1 else if (e.value < lo) -1 else 0
                BollOut(key, e.event_id, e.ts.getTime, e.value,
                  Some(mean), Some(up), Some(lo), Some(flag))
              } else
                BollOut(key, e.event_id, e.ts.getTime, e.value, None, None, None, None)
            recent = (recent :+ e.value).takeRight(n)
            banded
          }
          state.update(BollState(recent))
          out.iterator
      }
  }

  /** Batch q36's Cutler RSI run CONTINUOUSLY: per key, [[GroupState]]
    * holds the previous value plus the last n deltas (O(n) per key,
    * independent of stream length); each arrival computes its delta,
    * slides the window, and emits RSI over the n most recent deltas —
    * 100·Σgains/(Σgains+Σlosses), 50 on a flat window, None until n
    * deltas exist. Same arrival-order contract as [[streamingWma]]
    * (event-time order; late data handled upstream by watermark +
    * dedup); spec-proven equal to the batch operator. */
  def streamingRsi(events: Dataset[BollEvent], n: Int): Dataset[RsiOut] = {
    require(n >= 1, s"n must be >= 1, got $n") // match batch Graft.rsi
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[RsiState, RsiOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[BollEvent], state: GroupState[RsiState]) =>
          var st = state.getOption.getOrElse(RsiState(None, Nil))
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val deltas = st.prev match {
              case Some(p) => (st.deltas :+ (e.value - p)).takeRight(n)
              case None    => st.deltas
            }
            st = RsiState(Some(e.value), deltas)
            val rsi =
              if (deltas.size == n) {
                val g = deltas.filter(_ > 0).sum
                val l = -deltas.filter(_ < 0).sum
                Some(if (g + l == 0) 50.0 else 100.0 * g / (g + l))
              } else None
            RsiOut(key, e.event_id, e.ts.getTime, e.value, rsi)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch q39's EXACT infinite-history EWMA
    * ([[graft.ops.ScanOps.ewmaExactOf]], pandas `ewm(alpha,
    * adjust=False)`) run CONTINUOUSLY — the streaming twin of the
    * segmented scan: the [[GroupState]] accumulator IS the scan's O(1)
    * carried state, and each arrival performs the identical op
    * (acc·(1−α) + α·x), so streaming and batch agree BIT-FOR-BIT, not
    * within tolerance (the spec asserts exact equality). Same
    * arrival-order contract as [[streamingWma]]; unlike the windowed
    * operators there is no warmup — the first event emits itself. */
  def streamingEwma(events: Dataset[BollEvent], alpha: Double): Dataset[EwmaOut] = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    import events.sparkSession.implicits._
    val beta = 1.0 - alpha
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[BollEvent], state: GroupState[EwmaState]) =>
          var acc = state.getOption.flatMap(_.acc)
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val v = acc match {
              case None    => e.value
              case Some(a) => a * beta + alpha * e.value
            }
            acc = Some(v)
            EwmaOut(key, e.event_id, e.ts.getTime, e.value, v)
          }
          state.update(EwmaState(acc))
          out.iterator
      }
  }

  /** Batch [[graft.Graft.kalman]] ([[graft.ops.ScanOps.kalmanOf]])
    * run CONTINUOUSLY: [[GroupState]] carries exactly the scan's
    * (level, P) pair and each arrival performs the identical
    * predict/update ops — streaming == batch BIT-FOR-BIT (spec, no
    * tolerance). O(1) state per key. */
  def streamingKalman(events: Dataset[BollEvent], procVar: Double,
                      obsVar: Double): Dataset[KalmanOut] = {
    require(procVar > 0, s"procVar must be > 0, got $procVar")
    require(obsVar > 0, s"obsVar must be > 0, got $obsVar")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[KalmanState, KalmanOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[BollEvent], state: GroupState[KalmanState]) =>
          var st = state.getOption.getOrElse(KalmanState(None, 0.0))
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            st = st.level match {
              case None => KalmanState(Some(e.value), obsVar)
              case Some(xh) =>
                val pp = st.p + procVar
                val g = pp / (pp + obsVar)
                KalmanState(Some(xh + g * (e.value - xh)), (1.0 - g) * pp)
            }
            KalmanOut(key, e.event_id, e.ts.getTime, e.value, st.level.get, st.p)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch [[graft.Graft.garch]] ([[graft.ops.ScanOps.garchOf]]) run
    * CONTINUOUSLY over an innovation stream: [[GroupState]] carries
    * exactly the scan's (σ², r²_prev) pair and each arrival performs
    * the identical recurrence op — streaming == batch BIT-FOR-BIT
    * (spec, no tolerance). O(1) state per key. */
  def streamingGarch(innovations: Dataset[BollEvent], omega: Double,
                     alpha: Double, beta: Double): Dataset[GarchOut] = {
    require(omega > 0, s"omega must be > 0, got $omega")
    require(alpha >= 0 && beta >= 0 && alpha + beta < 1,
      s"need alpha, beta >= 0 and alpha + beta < 1, got $alpha, $beta")
    import innovations.sparkSession.implicits._
    innovations
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[GarchState, GarchOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[BollEvent], state: GroupState[GarchState]) =>
          var st = state.getOption.getOrElse(GarchState(None, 0.0))
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val s2 = st.s2 match {
              case None    => e.value * e.value
              case Some(p) => omega + alpha * st.prevR2 + beta * p
            }
            st = GarchState(Some(s2), e.value * e.value)
            GarchOut(key, e.event_id, e.ts.getTime, e.value, s2, math.sqrt(s2))
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch [[graft.Graft.supertrend]] run CONTINUOUSLY: the exact
    * five-state recurrence (RMA ATR, band ratchet, trend flip) carried
    * in [[GroupState]] — O(1) per key, bit-equal to the batch
    * segmented scan (Round9Spec). Arrival order = bar order is the
    * contract, as with every recurrence twin here. */
  def streamingSupertrend(bars: Dataset[BarEvent], n: Int,
                          mult: Double): Dataset[StOut] = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(mult > 0, s"mult must be > 0, got $mult")
    val alpha = 1.0 / n
    val beta = 1.0 - alpha
    import bars.sparkSession.implicits._
    bars
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[StState, StOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[BarEvent], state: GroupState[StState]) =>
          var st = state.getOption.getOrElse(StState(0.0, 0.0, 0.0, 1, 0.0, started = false))
          val out = it.toSeq.sortBy(_.ts.getTime).map { e =>
            val hl2 = (e.high + e.low) / 2.0
            if (!st.started) {
              val tr = e.high - e.low
              st = StState(tr, hl2 + mult * tr, hl2 - mult * tr, 1, e.close, started = true)
            } else {
              val tr = math.max(e.high - e.low,
                math.max(math.abs(e.high - st.pc), math.abs(e.low - st.pc)))
              val atr = st.atr * beta + alpha * tr
              val bu = hl2 + mult * atr
              val bl = hl2 - mult * atr
              val nfu = if (bu < st.fu || st.pc > st.fu) bu else st.fu
              val nfl = if (bl > st.fl || st.pc < st.fl) bl else st.fl
              val nt = if (st.trend == 1) { if (e.close < nfl) -1 else 1 }
                       else { if (e.close > nfu) 1 else -1 }
              st = StState(atr, nfu, nfl, nt, e.close, started = true)
            }
            StOut(key, e.ts.getTime, e.close, st.atr,
              if (st.trend == 1) st.fl else st.fu, st.trend)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch [[graft.Graft.adx]] run CONTINUOUSLY: the same four RMA
    * recurrences (+DM/−DM/TR smoothing, DX, ADX) carried as O(1)
    * state per series — streaming output is bit-equal to the batch
    * scan on the same bars (spec-pinned). Warmup gates (n deltas for
    * DI/DX, 2n−1 for ADX) emit None exactly as batch emits null. */
  def streamingAdx(bars: Dataset[BarEvent], n: Int): Dataset[AdxOut] = {
    require(n >= 1, s"n must be >= 1, got $n")
    val alpha = 1.0 / n
    val beta = 1.0 - alpha
    import bars.sparkSession.implicits._
    bars
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AdxState, AdxOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[BarEvent], state: GroupState[AdxState]) =>
          var st = state.getOption.getOrElse(
            AdxState(0L, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, started = false))
          val out = it.toSeq.sortBy(_.ts.getTime).flatMap { e =>
            val res =
              if (!st.started) { st = st.copy(started = true); None }
              else {
                val up = e.high - st.ph
                val dn = st.pl - e.low
                val pdm = if (up > dn && up > 0) up else 0.0
                val ndm = if (dn > up && dn > 0) dn else 0.0
                val tr = math.max(e.high - e.low,
                  math.max(math.abs(e.high - st.pc), math.abs(e.low - st.pc)))
                val j = st.j + 1
                val (atr, ps, ns) =
                  if (j == 1L) (tr, pdm, ndm)
                  else (st.atr * beta + alpha * tr, st.ps * beta + alpha * pdm,
                    st.ns * beta + alpha * ndm)
                val dip = if (atr > 0) 100.0 * ps / atr else 0.0
                val din = if (atr > 0) 100.0 * ns / atr else 0.0
                val dx = if (dip + din == 0) 0.0 else 100.0 * math.abs(dip - din) / (dip + din)
                val adx = if (j == 1L) dx else st.adx * beta + alpha * dx
                st = st.copy(j = j, atr = atr, ps = ps, ns = ns, adx = adx)
                Some(AdxOut(key, e.ts.getTime,
                  if (j >= n) Some(dip) else None,
                  if (j >= n) Some(din) else None,
                  if (j >= n) Some(dx) else None,
                  if (j >= 2L * n - 1) Some(adx) else None))
              }
            st = st.copy(ph = e.high, pl = e.low, pc = e.close)
            res
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch [[graft.Graft.heikinAshi]] run CONTINUOUSLY: the HA open
    * chain as two carried doubles per series; bit-equal to batch. */
  def streamingHeikinAshi(bars: Dataset[OhlcEvent]): Dataset[HaOut] = {
    import bars.sparkSession.implicits._
    bars
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HaState, HaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[OhlcEvent], state: GroupState[HaState]) =>
          var st = state.getOption.getOrElse(HaState(0.0, 0.0, started = false))
          val out = it.toSeq.sortBy(_.ts.getTime).map { e =>
            val newHac = (e.open + e.high + e.low + e.close) / 4.0
            val hao = if (!st.started) (e.open + e.close) / 2.0
                      else (st.hao + st.hac) / 2.0
            st = HaState(hao, newHac, started = true)
            HaOut(key, e.ts.getTime, hao,
              math.max(e.high, math.max(hao, newHac)),
              math.min(e.low, math.min(hao, newHac)), newHac)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch [[graft.Graft.trix]] run CONTINUOUSLY: the three EWMA
    * stages as carried state per series; bit-equal to batch. */
  def streamingTrix(events: Dataset[BollEvent], n: Int): Dataset[TrixOut] = {
    require(n >= 1, s"n must be >= 1, got $n")
    val alpha = 2.0 / (n + 1)
    val beta = 1.0 - alpha
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[TrixState, TrixOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[BollEvent], state: GroupState[TrixState]) =>
          var st = state.getOption.getOrElse(TrixState(0.0, 0.0, 0.0, started = false))
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            if (!st.started) {
              st = TrixState(e.value, e.value, e.value, started = true)
              TrixOut(key, e.event_id, e.ts.getTime, e.value, None)
            } else {
              val pe3 = st.e3
              val e1 = st.e1 * beta + alpha * e.value
              val e2 = st.e2 * beta + alpha * e1
              val e3 = st.e3 * beta + alpha * e2
              st = TrixState(e1, e2, e3, started = true)
              TrixOut(key, e.event_id, e.ts.getTime, e3,
                if (pe3 != 0.0) Some(100.0 * (e3 / pe3 - 1.0)) else None)
            }
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch [[graft.ops.ScanOps.holtOf]] run CONTINUOUSLY: Holt's
    * linear-trend double exponential smoothing with the batch scan's
    * exact O(1) carried state (bars seen, prev value, level, trend) and
    * the identical IEEE op sequence per arrival — streaming == batch
    * BIT-FOR-BIT across micro-batches (spec, no tolerance). Completes
    * the invariant that every batch scan-family recurrence has a
    * continuous twin. */
  def streamingHolt(events: Dataset[BollEvent], alpha: Double = 0.3,
                    betaT: Double = 0.1): Dataset[HoltOut] = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(betaT > 0 && betaT < 1, s"beta must be in (0,1), got $betaT")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[HoltState, HoltOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[BollEvent], state: GroupState[HoltState]) =>
          var st = state.getOption.getOrElse(HoltState(0L, 0.0, 0.0, 0.0))
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val n = st.n + 1
            val r =
              if (n == 1L) {
                st = HoltState(n, e.value, st.l, st.b)
                HoltOut(key, e.event_id, e.ts.getTime, e.value, None, None, None)
              } else if (n == 2L) {
                val l = e.value
                val b = e.value - st.px
                st = HoltState(n, e.value, l, b)
                HoltOut(key, e.event_id, e.ts.getTime, l, Some(b), None, None)
              } else {
                val f = st.l + st.b
                val nl = alpha * e.value + (1.0 - alpha) * f
                val nb = betaT * (nl - st.l) + (1.0 - betaT) * st.b
                st = HoltState(n, e.value, nl, nb)
                HoltOut(key, e.event_id, e.ts.getTime, nl, Some(nb), Some(f), Some(e.value - f))
              }
            r
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch [[graft.Graft.volumeBars]] run CONTINUOUSLY: per series the
    * state is the OPEN bar's accumulators plus the running volume
    * clock — O(1) per key. A fill that lands past the open bar's
    * budget EMITS the completed bar (append mode: each bar exactly
    * once, when its successor opens) and opens the next; the
    * in-progress bar is never emitted, so streaming output ==
    * batch completed bars (spec: equality on every bar the batch
    * operator would also have closed). */
  def streamingVolumeBars(fills: Dataset[FillEvent], budget: Double): Dataset[VbarOut] = {
    require(budget > 0, s"budget must be > 0, got $budget")
    import fills.sparkSession.implicits._
    fills
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[VbarState, VbarOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[FillEvent], state: GroupState[VbarState]) =>
          var st = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer.empty[VbarOut]
          it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            .filter(_.volume > 0).foreach { e =>
              // bar of this fill under the EXCLUSIVE-prefix rule — computed
              // as (inclusive cumsum − v), the batch operator's exact IEEE
              // sequence, so a boundary can never flip between twins
              val cumBefore = if (st == null) 0.0 else st.cumVol
              val cv = cumBefore + e.volume
              val bar = math.floor((cv - e.volume) / budget).toLong
              if (st != null && bar != st.bar) {
                out += VbarOut(key, st.bar, st.startMs, st.endMs, st.n, st.open,
                  st.high, st.low, st.close, st.vol, st.notional / st.vol)
                st = null
              }
              val ms = e.ts.getTime
              st =
                if (st == null)
                  VbarState(bar, ms, ms, 1, e.price, e.price, e.price, e.price,
                    e.volume, e.price * e.volume, cv)
                else
                  VbarState(st.bar, st.startMs, ms, st.n + 1, st.open,
                    math.max(st.high, e.price), math.min(st.low, e.price), e.price,
                    st.vol + e.volume, st.notional + e.price * e.volume, cv)
            }
          if (st != null) state.update(st)
          out.iterator
      }
  }

  /** Batch [[graft.Graft.macd]] ([[graft.ops.ScanOps.macdOf]]) run
    * CONTINUOUSLY: the state is the three EWMA accumulators — O(1)
    * per key — and each arrival performs the identical op sequence
    * (fast/slow updates, then the signal update on their difference),
    * so streaming == batch BIT-FOR-BIT (the spec asserts exact
    * equality). Same arrival-order contract as [[streamingWma]]; no
    * warmup — the first event emits macd = signal = 0. */
  def streamingMacd(events: Dataset[BollEvent], fast: Int = 12, slow: Int = 26,
                    signal: Int = 9): Dataset[MacdOut] = {
    require(fast >= 1 && slow > fast && signal >= 1,
      s"need 1 <= fast < slow and signal >= 1, got fast=$fast slow=$slow signal=$signal")
    import events.sparkSession.implicits._
    val aF = 2.0 / (fast + 1); val bF = 1.0 - aF
    val aS = 2.0 / (slow + 1); val bS = 1.0 - aS
    val aG = 2.0 / (signal + 1); val bG = 1.0 - aG
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[MacdState, MacdOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[BollEvent], state: GroupState[MacdState]) =>
          var st = state.getOption
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val next = st match {
              case None => MacdState(e.value, e.value, 0.0)
              case Some(MacdState(eF, eS, g)) =>
                val nF = eF * bF + aF * e.value
                val nS = eS * bS + aS * e.value
                MacdState(nF, nS, g * bG + aG * (nF - nS))
            }
            st = Some(next)
            val m = next.eFast - next.eSlow
            MacdOut(key, e.event_id, e.ts.getTime, e.value, m, next.sig, m - next.sig)
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** Batch [[graft.Graft.obv]] run CONTINUOUSLY: per key the state is
    * the previous close and the running on-balance volume — O(1),
    * independent of stream length — and each arrival adds
    * sign(close move)·volume exactly like the batch cumulative
    * window's running frame, so streaming == batch bit-for-bit (the
    * spec asserts exact equality). Same arrival-order contract as
    * [[streamingWma]]. */
  def streamingObv(bars: Dataset[ObvEvent]): Dataset[ObvOut] = {
    import bars.sparkSession.implicits._
    bars
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[ObvState, ObvOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[ObvEvent], state: GroupState[ObvState]) =>
          var st = state.getOption.getOrElse(ObvState(None, 0.0))
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val sv = st.prevClose match {
              case Some(p) if e.close > p => e.volume
              case Some(p) if e.close < p => -e.volume
              case _                      => 0.0
            }
            st = ObvState(Some(e.close), st.obv + sv)
            ObvOut(key, e.event_id, e.ts.getTime, e.close, st.obv)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch [[graft.Graft.atr]] run CONTINUOUSLY. The batch plan is a
    * prefix-sum difference — atr = (cum(tr) − cum(tr) n rows back)/n —
    * so the state carries the SAME running cumulative sum plus the cum
    * values of the last n rows, and every arrival performs the
    * identical op sequence: streaming == batch BIT-FOR-BIT (the spec
    * asserts exact equality, no tolerance). First bar's true range is
    * high−low; gaps use |high/low − prevClose|; None until n bars. */
  def streamingAtr(bars: Dataset[AtrEvent], n: Int): Dataset[AtrOut] = {
    require(n >= 1, s"n must be >= 1, got $n")
    import bars.sparkSession.implicits._
    bars
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AtrState, AtrOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[AtrEvent], state: GroupState[AtrState]) =>
          var st = state.getOption.getOrElse(AtrState(None, 0.0, 0L, Nil))
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val tr = st.prevClose match {
              case None => e.high - e.low
              case Some(pc) =>
                math.max(e.high - e.low, math.max(math.abs(e.high - pc), math.abs(e.low - pc)))
            }
            val cum = st.cum + tr
            val rn = st.rn + 1
            // cum exactly n rows back: 0.0 at rn == n (batch's coalesce)
            val atr =
              if (rn >= n) Some((cum - (if (rn == n) 0.0 else st.cums.head)) / n)
              else None
            // keep the cums of the last n rows, oldest first
            val kept = (st.cums :+ cum).takeRight(n)
            st = AtrState(Some(e.close), cum, rn, kept)
            AtrOut(key, e.event_id, e.ts.getTime, e.close, tr, atr)
          }
          state.update(st)
          out.iterator
      }
  }

  /** ONLINE CUSUM drift detector (Page's test) — the continuous
    * counterpart of batch [[graft.Graft.cusum]]: where the offline
    * statistic centers on the series' own global mean (unknowable
    * mid-stream), the online form tracks drift against a KNOWN
    * reference level: per arrival
    *   s⁺ = max(0, s⁺ + (x − target − slack)),
    *   s⁻ = max(0, s⁻ + (target − x − slack)),
    * alarm when either exceeds `h`, then both reset to 0 (restart
    * detection — each alarm opens a fresh decision interval). O(1)
    * state per key; same arrival-order contract as [[streamingWma]].
    * The spec asserts bit-exact equality against a first-principles
    * driver-side fold and pins the alarm row on a hand-built drift. */
  /** Batch [[graft.ops.EconOps.adfTrajectoryOf]] run CONTINUOUSLY —
    * the st06 streaming econometric monitor: per key the state is the
    * previous close plus the five running OLS sums (O(1), independent
    * of stream length — Δxₜ = α + β·xₜ₋₁ needs only associative
    * prefix sums), and each arriving bar emits the DF(0) t-stat,
    * stationarity verdict, and OU mean-reversion half-life over
    * everything seen so far. The per-row arithmetic is the identical
    * IEEE op sequence as the batch cumulative-window chain, so
    * streaming == batch BIT-FOR-BIT (StreamTwin9Spec). First bar per
    * key emits nothing (no lag pair). Same arrival-order contract as
    * [[streamingWma]]. */
  def streamingAdfMonitor(bars: Dataset[BollEvent],
                          crit: Double = -2.86): Dataset[AdfMonOut] = {
    import bars.sparkSession.implicits._
    bars
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[AdfMonState, AdfMonOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[BollEvent], state: GroupState[AdfMonState]) =>
          var st = state.getOption.getOrElse(AdfMonState(None, 0L, 0.0, 0.0, 0.0, 0.0, 0.0))
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).flatMap { e =>
            st.prevClose match {
              case None =>
                st = st.copy(prevClose = Some(e.value)); None
              case Some(xl) =>
                val dy = e.value - xl
                st = AdfMonState(Some(e.value), st.n + 1, st.sx + xl, st.sy + dy,
                  st.sxy + xl * dy, st.sx2 + xl * xl, st.sy2 + dy * dy)
                val nD = st.n.toDouble
                val cxx = st.sx2 - st.sx * st.sx / nD
                val cxy = st.sxy - st.sx * st.sy / nD
                val cyy = st.sy2 - st.sy * st.sy / nD
                val beta = if (st.n > 2 && cxx > 0.0) Some(cxy / cxx) else None
                val se = beta.map { b =>
                  val sse = math.max(cyy - b * cxy, 0.0)
                  math.sqrt((sse / (nD - 2.0)) / cxx)
                }
                val df = se.collect { case s if s > 0.0 => beta.get / s }
                val stat = df.map(_ < crit)
                val mr = beta.map(b => b < 0.0 && b > -1.0)
                // StrictMath: Catalyst's Log expression evaluates via
                // StrictMath.log — Math.log may differ by 1 ulp on some
                // JVMs, and the twin contract is BIT equality
                val kappa = mr.collect { case true => -StrictMath.log(1.0 + beta.get) }
                val hl = kappa.collect { case k if k > 0.0 => StrictMath.log(2.0) / k }
                Some(AdfMonOut(key, e.event_id, e.ts.getTime, st.n,
                  beta, df, stat, mr, kappa, hl))
            }
          }
          state.update(st)
          out.iterator
      }
  }

  def streamingCusum(events: Dataset[BollEvent], target: Double,
                     slack: Double, h: Double): Dataset[CusumOut] = {
    require(slack >= 0, s"slack must be >= 0, got $slack")
    require(h > 0, s"h must be > 0, got $h")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[BollEvent], state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(0.0, 0.0))
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val p = math.max(0.0, st.sPos + (e.value - target - slack))
            val n = math.max(0.0, st.sNeg + (target - e.value - slack))
            val alarm = p > h || n > h
            st = if (alarm) CusumState(0.0, 0.0) else CusumState(p, n)
            CusumOut(key, e.event_id, e.ts.getTime, e.value, p, n, alarm)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Batch [[graft.Graft.rollingExtrema]] run CONTINUOUSLY: per key
    * the state is the last n values — O(n), independent of stream
    * length — and each arrival emits the window's exact min/max picks
    * (null until n values), so streaming == batch BIT-FOR-BIT (the
    * spec asserts exact equality; extrema are order-independent exact
    * picks). Same arrival-order contract as [[streamingWma]]. */
  def streamingExtrema(events: Dataset[BollEvent], n: Int): Dataset[ExtremaOut] = {
    require(n >= 1, s"n must be >= 1, got $n")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[ExtremaState, ExtremaOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[BollEvent], state: GroupState[ExtremaState]) =>
          var vals = state.getOption.map(_.vals).getOrElse(Nil)
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            vals = (vals :+ e.value).takeRight(n)
            val (mn, mx) =
              if (vals.size == n) (Some(vals.min), Some(vals.max)) else (None, None)
            ExtremaOut(key, e.event_id, e.ts.getTime, e.value, mn, mx)
          }
          state.update(ExtremaState(vals))
          out.iterator
      }
  }

  /** Batch [[graft.Graft.stochastic]] run CONTINUOUSLY: per key the
    * state is the last n (high, low) pairs plus the last dPeriod−1 %K
    * values — O(n), independent of stream length — and each arrival
    * computes the identical exact-pick extrema and the identical
    * oldest-first %D fold, so streaming == batch BIT-FOR-BIT (the
    * spec asserts exact equality over resampled bars). Same
    * arrival-order contract as [[streamingWma]]. */
  def streamingStochastic(bars: Dataset[AtrEvent], n: Int,
                          dPeriod: Int = 3): Dataset[StochOut] = {
    require(n >= 1 && dPeriod >= 1, s"n >= 1 and dPeriod >= 1 required, got n=$n d=$dPeriod")
    import bars.sparkSession.implicits._
    bars
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[StochState, StochOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[AtrEvent], state: GroupState[StochState]) =>
          var st = state.getOption.getOrElse(StochState(Nil, Nil))
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            val bars = (st.bars :+ ((e.high, e.low))).takeRight(n)
            val k =
              if (bars.size == n) {
                val hh = bars.iterator.map(_._1).max
                val ll = bars.iterator.map(_._2).min
                // same expression order as the batch plan: ratio first
                Some(if (hh == ll) 50.0 else (e.close - ll) / (hh - ll) * 100.0)
              } else None
            val window = st.pks :+ k // oldest first — the batch lag-chain order
            val d =
              if (window.size == dPeriod && window.forall(_.isDefined))
                Some(window.flatten.reduceLeft(_ + _) / dPeriod.toDouble)
              else None
            st = StochState(bars, window.takeRight(dPeriod - 1))
            StochOut(key, e.event_id, e.ts.getTime, e.close, k, d)
          }
          state.update(st)
          out.iterator
      }
  }

  /** Streaming as-of enrichment — the reference's premium join
    * (perp ⋈ latest spot at-or-before, crypto_data_pipeline_duckdb.py:
    * 1229-1243) run CONTINUOUSLY: per key, [[GroupState]] holds only
    * the latest right row ever seen (O(1) per key, independent of
    * stream length); each left event emits immediately, carrying that
    * row — `>=` as-of semantics via the (ts, side, id) sort, right
    * before left at equal timestamps, so results match batch
    * [[graft.Graft.asofJoin]] when arrival order is event-time order
    * (the same contract as [[streamingWma]]; late data is handled
    * upstream by watermark + dedup). Proven equivalent to the batch
    * operator in StreamingSpec. */
  def streamingAsof(events: Dataset[AsofEvent]): Dataset[AsofOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: Long, it: Iterator[AsofEvent], state: GroupState[AsofState]) =>
          var cur = state.getOption
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.side, e.id)).flatMap { e =>
            if (e.side == 0) {
              // right rows only ever advance the carried state
              if (cur.forall(s => e.ts.getTime > s.rTsMs ||
                  (e.ts.getTime == s.rTsMs && e.id >= s.rId)))
                cur = Some(AsofState(e.ts.getTime, e.id, e.value))
              None
            } else {
              Some(AsofOut(key, e.id, e.ts.getTime, e.value,
                cur.map(_.rTsMs), cur.map(_.rId), cur.map(_.rValue)))
            }
          }
          cur.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming sessionization with custom state — the stateful twin of
    * q14's batch plan. Per user, events within `gapMs` of the open
    * session extend it; a larger gap closes and emits it. The open
    * session is kept in [[GroupState]] with an event-time timeout at
    * (session end + gap): once the watermark passes that point no
    * earlier event can extend the session, so it closes exactly once.
    * State per key is O(1) — this is the
    * `flatMapGroupsWithState` shape the reference's scheduler-driven
    * analytics map onto in a true streaming deployment.
    */
  def streamingSessionize(events: Dataset[SessEvent], gapMs: Long): Dataset[Session] = {
    import events.sparkSession.implicits._
    def close(uid: Long, st: SessState) =
      Session(uid, st.startMs, st.endMs, st.n, st.total)

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SessEvent], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(close(uid, _)).toSeq
            state.remove()
            out.iterator
          } else {
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            it.toSeq.sortBy(e => (e.ts.getTime, e.value)).foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(st) if t - st.endMs <= gapMs =>
                  cur = Some(SessState(st.startMs, math.max(st.endMs, t), st.n + 1, st.total + e.value))
                case Some(st) =>
                  closed += close(uid, st)
                  cur = Some(SessState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessState(t, t, 1, e.value))
              }
            }
            cur.foreach { st =>
              state.update(st)
              // a late burst can leave end + gap at-or-below the current
              // watermark; Spark rejects such timeouts (the query would
              // fail), so clamp — the session then times out and closes
              // at the next trigger instead of killing the stream
              state.setTimeoutTimestamp(math.max(st.endMs + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      }
  }
}
