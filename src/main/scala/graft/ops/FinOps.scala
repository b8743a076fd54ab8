package graft.ops

import graft.{F, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Finance-analytics operators (SURVEY.md §2 q30-q35) — the natural
  * extensions of the reference's premium/WMA/extreme-move surface
  * (crypto_data_pipeline_duckdb.py:1221-1268, 1720-1764): execution
  * benchmarks (VWAP/TWAP), volatility bands, drawdown, cross-series
  * correlation, dimension history (SCD2), exponential smoothing.
  *
  * Scale stance: every windowed op is ONE shuffle on its series key with
  * window frames (bounded n-row sums, running folds and max, lag);
  * the pair-correlation reduces each series to its bucket grid FIRST, so
  * the pair join runs on bucket-grid-sized inputs, never raw ticks.
  */
object FinOps {
  type Q = (SparkSession, String) => DataFrame
  import Tables.t
  import F._

  /** #q30 VWAP vs TWAP per (brand, month) — the execution-quality
    * benchmark pair: volume-weighted mean unit price vs the unweighted
    * time-weighted mean. The dim join is broadcast; the sums run as
    * CUMULATIVE window folds over the (orderkey, linenumber) order
    * with the group's last row kept — the q33/t08 sequential-fold
    * pattern — so every double is the same defined-order fold in both
    * engines and the hash gate is immune to partition-order low-bit
    * noise. The oracle folds each group's ordered list with
    * `list_reduce`: DuckDB's windowed running SUM combines segment-tree
    * partials rather than folding row by row, which at sf0.1 moved a
    * vwap across its r4 rounding. (A plain hash-agg `groupBy.agg(sum…)` is the throughput
    * form when bit-reproducibility across runs isn't required: it keeps
    * map-side partial aggregation but folds in partition order.) */
  private val q30: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").filter(col("l_quantity") > 0)
    val p = t(s, dir, "part")
    val grp = Window.partitionBy(col("p_brand"), col("month"))
    val ord = grp.orderBy(col("l_orderkey"), col("l_linenumber"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("p_brand"), date_trunc("month", col("l_shipdate")).as("month"),
        col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"), col("l_quantity"))
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__cnot", sum(col("l_extendedprice")).over(cum))
      .withColumn("__cqty", sum(col("l_quantity")).over(cum))
      .withColumn("__cunit", sum(col("l_extendedprice") / col("l_quantity")).over(cum))
      // last row of the group = lead is null on the SAME running frame;
      // a count().over(group) would force a second, unbounded-frame
      // window pass just to find it (measured 2.3s → 1.8s cold / 1.1s
      // warm at sf0.1)
      .withColumn("__last", lead(col("l_orderkey"), 1).over(ord).isNull)
      .filter(col("__last"))
      .select(col("p_brand"), epochMs(col("month")).as("month_ms"),
        r4(col("__cnot") / col("__cqty")).as("vwap"),
        r4(col("__cunit") / col("__rn")).as("twap"),
        r4(col("__cnot")).as("notional"),
        col("__rn").cast("long").as("n_fills"))
      .orderBy("p_brand", "month_ms")
  }

  private val q30Sql =
    """WITH j AS (
      |  SELECT p_brand, date_trunc('month', l_shipdate) AS month,
      |    l_orderkey, l_linenumber, l_extendedprice, l_quantity
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_quantity > 0),
      |c AS (
      |  SELECT p_brand, month, count(*) AS n,
      |    list_reduce(list(l_extendedprice ORDER BY l_orderkey, l_linenumber),
      |      (a, b) -> a + b) AS cnot,
      |    list_reduce(list(l_quantity ORDER BY l_orderkey, l_linenumber),
      |      (a, b) -> a + b) AS cqty,
      |    list_reduce(list(l_extendedprice / l_quantity ORDER BY l_orderkey, l_linenumber),
      |      (a, b) -> a + b) AS cunit
      |  FROM j GROUP BY 1, 2)
      |SELECT p_brand, epoch_ms(month) AS month_ms,
      |  round(cnot / cqty, 4) AS vwap,
      |  round(cunit / n, 4) AS twap,
      |  round(cnot, 4) AS notional,
      |  n AS n_fills
      |FROM c
      |ORDER BY p_brand, month_ms""".stripMargin

  /** #q31 Bollinger bands: rolling mean ± 2σ over the 20 rows STRICTLY
    * BEFORE each row per series + breakout flags — the band form of the
    * reference's extreme-move detection, look-ahead-free (the current
    * row never contaminates its own band; see [[graft.Graft.bollinger]]).
    * Both sums run over the bounded frame of the 20 prior rows; the
    * oracle folds the same frame oldest-first (`list_reduce`), so the
    * doubles are bit-exact. Population σ; null until 20 prior rows
    * exist. */
  private val q31: Q = (s, dir) =>
    graft.Graft.bollinger(t(s, dir, "events"), "event_type", "ts", "event_id", "value",
        n = 20, width = 2.0)
      .select(col("event_type"), col("event_id"), epochMs(col("ts")).as("ts_ms"), col("value"),
        r6(col("mid")).as("mid"), r6(col("upper")).as("upper"), r6(col("lower")).as("lower"),
        col("breakout"))
      .orderBy("event_type", "ts_ms", "event_id")

  private val q31Sql =
    """WITH f AS (
      |  SELECT event_type, event_id, ts, value,
      |    row_number() OVER o AS rn,
      |    list_reduce(list(value) OVER w, (a, b) -> a + b) AS sx,
      |    list_reduce(list(value * value) OVER w, (a, b) -> a + b) AS sx2
      |  FROM events
      |  WINDOW o AS (PARTITION BY event_type ORDER BY ts, event_id),
      |    w AS (PARTITION BY event_type ORDER BY ts, event_id
      |      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
      |b AS (
      |  SELECT event_type, event_id, ts, value,
      |    CASE WHEN rn >= 21 THEN sx / 20.0 END AS mid,
      |    CASE WHEN rn >= 21 AND sx2 / 20.0 - (sx / 20.0) * (sx / 20.0) > 0
      |      THEN sqrt(sx2 / 20.0 - (sx / 20.0) * (sx / 20.0))
      |      WHEN rn >= 21 THEN 0.0 END AS sd
      |  FROM f)
      |SELECT event_type, event_id, epoch_ms(ts) AS ts_ms, value,
      |  round(mid, 6) AS mid,
      |  round(mid + 2.0 * sd, 6) AS upper,
      |  round(mid - 2.0 * sd, 6) AS lower,
      |  CASE WHEN mid IS NULL THEN NULL
      |    WHEN value > mid + 2.0 * sd THEN 1
      |    WHEN value < mid - 2.0 * sd THEN -1 ELSE 0 END AS breakout
      |FROM b
      |ORDER BY event_type, ts_ms, event_id""".stripMargin

  /** #q32 max drawdown per series: running peak (incremental unbounded-
    * preceding max, O(1)/row), per-row drawdown, then arg-min with a
    * total (dd, ts, id) tie-break so both engines pick the same trough. */
  private val q32: Q = (s, dir) =>
    graft.Graft.maxDrawdown(t(s, dir, "events"), "event_type", "ts", "event_id", "value")
      .select(col("event_type"), r6(col("max_dd")).as("max_dd"),
        epochMs(col("trough_ts")).as("trough_ms"), col("trough_id"),
        r4(col("peak")).as("peak"), r4(col("trough_value")).as("trough_value"),
        col("n_rows"))
      .orderBy("event_type")

  private val q32Sql =
    """WITH r AS (
      |  SELECT event_type, event_id, ts, value,
      |    max(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
      |  FROM events),
      |d AS (SELECT *, (value - peak) / peak AS dd FROM r)
      |SELECT event_type,
      |  round(min(dd), 6) AS max_dd,
      |  epoch_ms(first(ts ORDER BY dd, ts, event_id)) AS trough_ms,
      |  first(event_id ORDER BY dd, ts, event_id) AS trough_id,
      |  round(first(peak ORDER BY dd, ts, event_id), 4) AS peak,
      |  round(first(value ORDER BY dd, ts, event_id), 4) AS trough_value,
      |  count(*) AS n_rows
      |FROM d
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** #q33 cross-series correlation matrix: hourly close per series
    * (deterministic last-by-(ts,id), the q09 close), series pairs
    * aligned on the hour grid, Pearson corr per pair. The corr sums run
    * as CUMULATIVE window sums over the (pair, hour) order and the last
    * row is kept — a sequential fold both engines execute identically,
    * so the doubles are bit-exact (a hash-aggregate sum order would
    * not be). Pair join runs on the bucket grid (series × hours), never
    * raw ticks — at 100 TB the grid is the small derived table. */
  private val q33: Q = (s, dir) => {
    val bars = graft.Graft.resampleOhlc(t(s, dir, "events"),
        "event_type", "ts", "event_id", "value", "hour")
      .select(col("event_type"), col("bucket"), col("close"))
    graft.Graft.pairCorr(bars, "event_type", "bucket", "close")
      .select(col("type_a"), col("type_b"), col("n_buckets"), r6(col("corr")).as("corr"))
      .orderBy("type_a", "type_b")
  }

  private val q33Sql =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    last(value ORDER BY ts, event_id) AS close
      |  FROM events GROUP BY 1, 2),
      |j AS (
      |  SELECT a.event_type AS type_a, b2.event_type AS type_b, a.bucket,
      |    a.close AS x, b2.close AS y
      |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.event_type < b2.event_type),
      |c AS (
      |  SELECT type_a, type_b,
      |    row_number() OVER o AS rn,
      |    count(*) OVER (PARTITION BY type_a, type_b) AS n,
      |    sum(x) OVER w AS sx, sum(y) OVER w AS sy,
      |    sum(x * y) OVER w AS sxy,
      |    sum(x * x) OVER w AS sx2, sum(y * y) OVER w AS sy2
      |  FROM j
      |  WINDOW o AS (PARTITION BY type_a, type_b ORDER BY bucket),
      |    w AS (PARTITION BY type_a, type_b ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT type_a, type_b, n AS n_buckets,
      |  round(CASE WHEN n >= 2 AND n * sx2 - sx * sx > 0 AND n * sy2 - sy * sy > 0
      |    THEN (n * sxy - sx * sy) / (sqrt(n * sx2 - sx * sx) * sqrt(n * sy2 - sy * sy))
      |    END, 6) AS corr
      |FROM c
      |WHERE rn = n
      |ORDER BY type_a, type_b""".stripMargin

  /** #q34 SCD Type-2 history build: per user, the event_type stream
    * compresses into change intervals — consecutive repeats collapse,
    * each surviving row gets [effective_from, effective_to) from its
    * own ts and the NEXT change's ts (null = current) + a version
    * number. The standard warehouse dimension-history derivation, one
    * window shuffle on the entity key. */
  private val q34: Q = (s, dir) =>
    graft.Graft.scd2(t(s, dir, "events"), "user_id", "ts", "event_id", "event_type")
      .select(col("user_id"), col("version"), col("event_type").as("state"),
        epochMs(col("effective_from")).as("from_ms"),
        epochMs(col("effective_to")).as("to_ms"),
        col("is_current"))
      .orderBy("user_id", "version")

  private val q34Sql =
    """WITH o AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    lag(event_type) OVER w AS prev_state
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |chg AS (
      |  SELECT user_id, ts, event_id, event_type
      |  FROM o WHERE prev_state IS NULL OR event_type <> prev_state),
      |v AS (
      |  SELECT user_id, event_type, ts,
      |    row_number() OVER w AS version,
      |    lead(ts) OVER w AS next_ts
      |  FROM chg
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT user_id, CAST(version AS BIGINT) AS version, event_type AS state,
      |  epoch_ms(ts) AS from_ms, epoch_ms(next_ts) AS to_ms,
      |  next_ts IS NULL AS is_current
      |FROM v
      |ORDER BY user_id, version""".stripMargin

  /** #q35 truncated EWMA (pandas ewm(adjust=True) semantics over the
    * last `w` observations): ewma_t = Σ_j (1-α)^j·x_{t-j} / Σ_j (1-α)^j,
    * j < min(rn, w). With w = 24 and α = 0.25 the dropped tail weighs
    * (1-α)^24 ≈ 1e-3 of the head term. The weights are Scala doubles
    * emitted as literals into BOTH the Column tree and the oracle SQL
    * (shortest-repr round-trip ⇒ identical bits), and both sides sum
    * the identical balanced tree, so results are bit-exact. The full
    * (untruncated) EWMA is a linear recurrence — a segmented-scan at
    * scale, not a window frame; the truncated form is the
    * constant-cost window answer. */
  private val ewmaAlpha = 0.25
  private val ewmaW = 24

  private val q35: Q = (s, dir) =>
    graft.Graft.ewma(t(s, dir, "events"), "event_type", "ts", "event_id", "value",
        alpha = ewmaAlpha, w = ewmaW)
      .select(col("event_type"), col("event_id"), epochMs(col("ts")).as("ts_ms"),
        col("value"), r6(col("ewma")).as("ewma"))
      .orderBy("event_type", "ts_ms", "event_id")

  private val q35Sql = {
    val weights = (0 until ewmaW).map(j => math.pow(1.0 - ewmaAlpha, j))
    // identical balanced trees to Graft.ewma's Column build
    val num = graft.OracleSql.balSum(
      weights.zipWithIndex.map { case (wt, j) =>
        s"(coalesce(lag(value, $j) OVER o, CAST(0.0 AS DOUBLE)) * $wt)" })
    val den = graft.OracleSql.balSum(
      weights.zipWithIndex.map { case (wt, j) =>
        s"(CASE WHEN lag(value, $j) OVER o IS NOT NULL THEN $wt ELSE 0.0 END)" })
    s"""WITH e AS (
       |  SELECT event_type, event_id, ts, value,
       |    $num AS num,
       |    $den AS den
       |  FROM events
       |  WINDOW o AS (PARTITION BY event_type ORDER BY ts, event_id))
       |SELECT event_type, event_id, epoch_ms(ts) AS ts_ms, value,
       |  round(num / den, 6) AS ewma
       |FROM e
       |ORDER BY event_type, ts_ms, event_id""".stripMargin
  }

  /** #q36 RSI(14) per series — Cutler's form (see [[graft.Graft.rsi]]).
    * The oracle folds the same 14-row frames oldest-first over the same
    * (ts, id) order, so every double is a sequential fold in a defined
    * order: bit-exact across engines. */
  private val q36: Q = (s, dir) =>
    graft.Graft.rsi(t(s, dir, "events"), "event_type", "ts", "event_id", "value", n = 14)
      .select(col("event_type"), col("event_id"), epochMs(col("ts")).as("ts_ms"),
        col("value"), r6(col("rsi")).as("rsi"))
      .orderBy("event_type", "ts_ms", "event_id")

  private val q36Sql =
    """WITH d AS (
      |  SELECT event_type, event_id, ts, value,
      |    value - lag(value, 1) OVER o AS dd,
      |    row_number() OVER o AS rn
      |  FROM events
      |  WINDOW o AS (PARTITION BY event_type ORDER BY ts, event_id)),
      |g AS (
      |  SELECT *,
      |    CASE WHEN dd IS NULL THEN NULL WHEN dd > 0 THEN dd ELSE 0.0 END AS gn,
      |    CASE WHEN dd IS NULL THEN NULL WHEN dd < 0 THEN -dd ELSE 0.0 END AS ls
      |  FROM d),
      |f AS (
      |  SELECT event_type, event_id, ts, value, rn,
      |    list_reduce(list(gn) FILTER (WHERE gn IS NOT NULL) OVER w, (a, b) -> a + b) AS sg,
      |    list_reduce(list(ls) FILTER (WHERE ls IS NOT NULL) OVER w, (a, b) -> a + b) AS sl
      |  FROM g
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
      |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
      |SELECT event_type, event_id, epoch_ms(ts) AS ts_ms, value,
      |  round(CASE WHEN rn >= 15 THEN
      |    CASE WHEN sg + sl = 0 THEN 50.0 ELSE 100.0 * sg / (sg + sl) END
      |  END, 6) AS rsi
      |FROM f
      |ORDER BY event_type, ts_ms, event_id""".stripMargin

  /** The hourly bar table q37/q38 run over: OHLC from min_by/max_by /
    * min/max — every column an exact arg-pick or comparison, so the
    * downstream window folds are bit-exact across engines (the double
    * SUM volume column is deliberately NOT used; n_trades is the
    * deterministic volume proxy for the parity gate — [[graft.Graft.obv]]
    * is column-generic and takes the real volume in production). */
  private def hourBars(s: SparkSession, dir: String): DataFrame =
    graft.Graft.resampleOhlc(t(s, dir, "events"), "event_type", "ts", "event_id", "value", "hour")

  private val barsSqlCte =
    """b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    max(value) AS high, min(value) AS low,
      |    last(value ORDER BY ts, event_id) AS close,
      |    count(*) AS n_trades
      |  FROM events GROUP BY 1, 2)""".stripMargin

  /** #q37 ATR(14) over hourly bars (see [[graft.Graft.atr]]): true
    * range needs only high/low/prev-close — all exact aggregates — so
    * the rolling mean (the same oldest-first frame fold in both
    * engines) is bit-exact. */
  private val q37: Q = (s, dir) =>
    graft.Graft.atr(hourBars(s, dir), "event_type", "bucket", "high", "low", "close", n = 14)
      .select(col("event_type"), epochMs(col("bucket")).as("bucket_ms"),
        r6(col("tr")).as("tr"), r6(col("atr")).as("atr"))
      .orderBy("event_type", "bucket_ms")

  private val q37Sql =
    s"""WITH $barsSqlCte,
       |c AS (
       |  SELECT event_type, bucket, high, low,
       |    lag(close, 1) OVER o AS pc,
       |    row_number() OVER o AS rn
       |  FROM b
       |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket)),
       |r AS (
       |  SELECT event_type, bucket, rn,
       |    CASE WHEN pc IS NULL THEN high - low
       |      ELSE greatest(high - low, abs(high - pc), abs(low - pc)) END AS tr
       |  FROM c),
       |f AS (
       |  SELECT event_type, bucket, rn, tr,
       |    list_reduce(list(tr) OVER (PARTITION BY event_type ORDER BY bucket
       |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), (a, b) -> a + b) AS st
       |  FROM r)
       |SELECT event_type, epoch_ms(bucket) AS bucket_ms,
       |  round(tr, 6) AS tr,
       |  round(CASE WHEN rn >= 14 THEN st / 14 END, 6) AS atr
       |FROM f
       |ORDER BY event_type, bucket_ms""".stripMargin

  /** #q38 OBV over hourly bars (see [[graft.Graft.obv]]); n_trades as
    * the volume column keeps the cumulative fold bit-exact (see
    * [[hourBars]]). */
  private val q38: Q = (s, dir) =>
    graft.Graft.obv(hourBars(s, dir).withColumn("__vol", col("n_trades").cast("double")),
        "event_type", "bucket", "close", "__vol")
      .select(col("event_type"), epochMs(col("bucket")).as("bucket_ms"),
        col("close"), r4(col("obv")).as("obv"))
      .orderBy("event_type", "bucket_ms")

  private val q38Sql =
    s"""WITH $barsSqlCte,
       |c AS (
       |  SELECT event_type, bucket, close,
       |    close - lag(close, 1) OVER (PARTITION BY event_type ORDER BY bucket) AS dc,
       |    CAST(n_trades AS DOUBLE) AS vol
       |  FROM b)
       |SELECT event_type, epoch_ms(bucket) AS bucket_ms, close,
       |  round(sum(CASE WHEN dc > 0 THEN vol WHEN dc < 0 THEN -vol ELSE 0.0 END)
       |    OVER (PARTITION BY event_type ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS obv
       |FROM c
       |ORDER BY event_type, bucket_ms""".stripMargin

  /** #q45 stochastic oscillator %K(14)/%D(3) over hourly bars (see
    * [[graft.Graft.stochastic]]): rolling min/max are exact value
    * picks and %D is an explicit 3-lag chain, so every double is the
    * same defined-order fold in both engines. */
  private val q45: Q = (s, dir) =>
    graft.Graft.stochastic(hourBars(s, dir), "event_type", "bucket",
        "high", "low", "close", n = 14, dPeriod = 3)
      .select(col("event_type"), epochMs(col("bucket")).as("bucket_ms"),
        r6(col("pct_k")).as("pct_k"), r6(col("pct_d")).as("pct_d"))
      .orderBy("event_type", "bucket_ms")

  private val q45Sql =
    s"""WITH $barsSqlCte,
       |w AS (
       |  SELECT event_type, bucket, close,
       |    min(low) OVER f AS ll, max(high) OVER f AS hh,
       |    row_number() OVER o AS rn
       |  FROM b
       |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket),
       |    f AS (PARTITION BY event_type ORDER BY bucket
       |          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
       |k AS (
       |  SELECT event_type, bucket,
       |    CASE WHEN rn >= 14 THEN
       |      CASE WHEN hh = ll THEN 50.0
       |        ELSE (close - ll) / (hh - ll) * 100.0 END
       |    END AS pct_k
       |  FROM w)
       |SELECT event_type, epoch_ms(bucket) AS bucket_ms,
       |  round(pct_k, 6) AS pct_k,
       |  round((lag(pct_k, 2) OVER o + lag(pct_k, 1) OVER o + pct_k) / 3.0, 6) AS pct_d
       |FROM k
       |WINDOW o AS (PARTITION BY event_type ORDER BY bucket)
       |ORDER BY event_type, bucket_ms""".stripMargin

  /** #q46 Donchian channel (20) on hourly closes — the gate query for
    * the monotonic-deque rolling-extrema scan
    * ([[graft.ops.ScanOps.rollingExtremaOf]]): channel = [min, max] of
    * the trailing 20 closes, mid = their mean, breakout = ±1 when the
    * close IS the channel edge. The oracle computes the identical
    * extrema with frame min/max — exact value picks, so the scan's
    * deques must reproduce them bit-for-bit. */
  private val q46: Q = (s, dir) => {
    val bars = hourBars(s, dir).withColumn("__tie", epochMs(col("bucket")))
    val ext = ScanOps.rollingExtremaOf(bars, "event_type", "bucket", "__tie", "close", n = 20)
      .select(col("event_type"), col("ts_ms").as("bucket_ms"),
        col("roll_min"), col("roll_max"))
    bars.select(col("event_type"), epochMs(col("bucket")).as("bucket_ms"), col("close"))
      .join(ext, Seq("event_type", "bucket_ms"))
      .select(col("event_type"), col("bucket_ms"), col("close"),
        r6(col("roll_min")).as("ch_lo"), r6(col("roll_max")).as("ch_hi"),
        r6((col("roll_min") + col("roll_max")) / 2.0).as("ch_mid"),
        when(col("roll_max").isNull, lit(null).cast("int"))
          .when(col("close") === col("roll_max"), 1)
          .when(col("close") === col("roll_min"), -1)
          .otherwise(0).as("breakout"))
      .orderBy("event_type", "bucket_ms")
  }

  private val q46Sql =
    s"""WITH $barsSqlCte,
       |w AS (
       |  SELECT event_type, bucket, close,
       |    min(close) OVER f AS lo, max(close) OVER f AS hi,
       |    row_number() OVER o AS rn
       |  FROM b
       |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket),
       |    f AS (PARTITION BY event_type ORDER BY bucket
       |          ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
       |SELECT event_type, epoch_ms(bucket) AS bucket_ms, close,
       |  round(CASE WHEN rn >= 20 THEN lo END, 6) AS ch_lo,
       |  round(CASE WHEN rn >= 20 THEN hi END, 6) AS ch_hi,
       |  round(CASE WHEN rn >= 20 THEN (lo + hi) / 2.0 END, 6) AS ch_mid,
       |  CASE WHEN rn < 20 THEN NULL
       |    WHEN close = hi THEN 1
       |    WHEN close = lo THEN -1 ELSE 0 END AS breakout
       |FROM w
       |ORDER BY event_type, bucket_ms""".stripMargin

  /** #q41 market beta/alpha per series vs the 'click' benchmark on the
    * hourly close grid — the regression companion of q33: cov/var of
    * aligned simple returns as the same deterministic cumulative fold,
    * benchmark side grid-sized and broadcast. */
  private val q41: Q = (s, dir) => {
    val bars = graft.Graft.resampleOhlc(t(s, dir, "events"),
        "event_type", "ts", "event_id", "value", "hour")
      .select(col("event_type"), col("bucket"), col("close"))
    graft.Graft.betaVs(bars, "event_type", "bucket", "close", benchmark = "click")
      .select(col("series"), col("n_buckets"),
        r6(col("beta")).as("beta"), r6(col("alpha")).as("alpha"))
      .orderBy("series")
  }

  private val q41Sql =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    last(value ORDER BY ts, event_id) AS close
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, bucket,
      |    close / lag(close, 1) OVER (PARTITION BY event_type ORDER BY bucket) - 1 AS ret,
      |    lag(close, 1) OVER (PARTITION BY event_type ORDER BY bucket) AS prev
      |  FROM b),
      |rr AS (SELECT event_type, bucket, ret FROM r WHERE prev IS NOT NULL AND prev <> 0),
      |j AS (
      |  SELECT s.event_type AS series, s.bucket, s.ret AS rs, bm.ret AS rb
      |  FROM rr s JOIN rr bm ON s.bucket = bm.bucket
      |  WHERE bm.event_type = 'click' AND s.event_type <> 'click'),
      |c AS (
      |  SELECT series,
      |    row_number() OVER o AS rn,
      |    count(*) OVER (PARTITION BY series) AS n,
      |    sum(rs) OVER w AS ss, sum(rb) OVER w AS sb,
      |    sum(rs * rb) OVER w AS ssb, sum(rb * rb) OVER w AS sb2
      |  FROM j
      |  WINDOW o AS (PARTITION BY series ORDER BY bucket),
      |    w AS (PARTITION BY series ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f AS (
      |  SELECT series, n,
      |    CASE WHEN n >= 2 AND n * sb2 - sb * sb > 0
      |      THEN (n * ssb - ss * sb) / (n * sb2 - sb * sb) END AS beta,
      |    ss, sb
      |  FROM c WHERE rn = n)
      |SELECT series, n AS n_buckets, round(beta, 6) AS beta,
      |  round(ss / n - beta * (sb / n), 6) AS alpha
      |FROM f
      |ORDER BY series""".stripMargin

  /** Pairs-trading spread monitor over two aligned series (public
    * operator behind [[graft.Graft.pairsSpread]]) — the stat-arb
    * backbone: regress series A's close on series B's over the full
    * aligned grid (OLS hedge ratio β + intercept α, the [[betaOf]]
    * fold discipline — every sum a cumulative window fold taken at
    * the last row, broadcast back as ONE row), then
    * spread_t = a_t − (α + β·b_t) and its rolling n-bar z-score
    * (mean/σ as sums over the bounded n-bar frame; variance
    * clamped at 0 before sqrt — the q85 cancellation rule — and σ=0 ⇒
    * null z), with the classic ±2σ entry signal.
    *
    * Scale shape: the window chain runs on the PAIR GRID — bounded by
    * the time span (the q33 grid rule), never by tick volume, since
    * the resample collapses first; the OLS stats ride one 1-row
    * broadcast (documented BNLJ). For a book of many pairs, run the
    * same chain partitioned by a pair key — the fold discipline is
    * unchanged. */
  def pairsSpreadOf(bars: DataFrame, key: String, ts: String, close: String,
                    seriesA: String, seriesB: String, n: Int = 24): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    require(seriesA != seriesB, "seriesA and seriesB must differ")
    val a = bars.filter(col(key) === seriesA)
      .select(col(ts).as("bucket"), col(close).as("a_close"))
    val b = bars.filter(col(key) === seriesB)
      .select(col(ts).as("bucket"), col(close).as("b_close"))
    val j = a.join(b, "bucket")
    val ord = Window.orderBy(col("bucket"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = ord.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val nD = col("__n").cast("double")
    val st = j
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__n", count(lit(1)).over(all))
      .withColumn("__sa", sum(col("a_close")).over(cum))
      .withColumn("__sb", sum(col("b_close")).over(cum))
      .withColumn("__sab", sum(col("a_close") * col("b_close")).over(cum))
      .withColumn("__sb2", sum(col("b_close") * col("b_close")).over(cum))
      .filter(col("__rn") === col("__n"))
      .select(
        when(nD * col("__sb2") - col("__sb") * col("__sb") =!= 0.0,
          (nD * col("__sab") - col("__sa") * col("__sb")) /
            (nD * col("__sb2") - col("__sb") * col("__sb"))).as("beta"),
        (col("__sa") / nD).as("__ma"), (col("__sb") / nD).as("__mb"))
      .select(col("beta"), (col("__ma") - col("beta") * col("__mb")).as("alpha"))
    val frame = ord.rowsBetween(1 - n, Window.currentRow)
    j.crossJoin(broadcast(st)) // 1-row build side: documented BNLJ
      .withColumn("spread", col("a_close") - (col("alpha") + col("beta") * col("b_close")))
      .withColumn("__rn", row_number().over(ord))
      .withColumn("spread_mean", when(col("__rn") >= n, sum(col("spread")).over(frame) / n))
      .withColumn("spread_sd", when(col("__rn") >= n,
        sqrt(greatest(lit(0.0),
          sum(col("spread") * col("spread")).over(frame) / n -
            col("spread_mean") * col("spread_mean")))))
      .withColumn("z", when(col("spread_sd") > 0.0,
        (col("spread") - col("spread_mean")) / col("spread_sd")))
      .withColumn("signal", when(col("z").isNull, lit(null).cast("int"))
        .when(col("z") > 2.0, 1).when(col("z") < -2.0, -1).otherwise(0))
      .select(col("bucket"), col("a_close"), col("b_close"), col("beta"),
        col("alpha"), col("spread"), col("spread_mean"), col("spread_sd"),
        col("z"), col("signal"))
  }

  /** #q88 pairs spread: 'view' hedged against 'click' on the hourly
    * close grid, 24-bar z-score, ±2σ signals. */
  private val q88: Q = (s, dir) => {
    val bars = graft.Graft.resampleOhlc(t(s, dir, "events"),
        "event_type", "ts", "event_id", "value", "hour")
      .select(col("event_type"), col("bucket"), col("close"))
    pairsSpreadOf(bars, "event_type", "bucket", "close", "view", "click", n = 24)
      .select(epochMs(col("bucket")).as("bucket_ms"),
        col("a_close"), col("b_close"),
        r6(col("beta")).as("beta"), r6(col("alpha")).as("alpha"),
        r6(col("spread")).as("spread"), r6(col("spread_mean")).as("spread_mean"),
        r6(col("spread_sd")).as("spread_sd"), r6(col("z")).as("z"), col("signal"))
      .orderBy("bucket_ms")
  }

  private val q88Sql =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    last(value ORDER BY ts, event_id) AS close
      |  FROM events GROUP BY 1, 2),
      |j AS (
      |  SELECT a.bucket AS bucket, a.close AS a_close, c.close AS b_close
      |  FROM b a JOIN b c ON a.bucket = c.bucket
      |  WHERE a.event_type = 'view' AND c.event_type = 'click'),
      |s AS (
      |  SELECT bucket, a_close, b_close,
      |    row_number() OVER o AS rn, count(*) OVER () AS n,
      |    sum(a_close) OVER w AS sa, sum(b_close) OVER w AS sb,
      |    sum(a_close * b_close) OVER w AS sab,
      |    sum(b_close * b_close) OVER w AS sb2
      |  FROM j
      |  WINDOW o AS (ORDER BY bucket),
      |    w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |st0 AS (
      |  SELECT CASE WHEN CAST(n AS DOUBLE) * sb2 - sb * sb <> 0.0
      |      THEN (CAST(n AS DOUBLE) * sab - sa * sb)
      |           / (CAST(n AS DOUBLE) * sb2 - sb * sb) END AS beta,
      |    sa / CAST(n AS DOUBLE) AS ma, sb / CAST(n AS DOUBLE) AS mb
      |  FROM s WHERE rn = n),
      |st AS (SELECT beta, ma - beta * mb AS alpha FROM st0),
      |sp AS (
      |  SELECT j.bucket, j.a_close, j.b_close, st.beta, st.alpha,
      |    j.a_close - (st.alpha + st.beta * j.b_close) AS spread
      |  FROM j, st),
      |c AS (
      |  SELECT *, row_number() OVER o AS rn,
      |    list_reduce(list(spread) OVER w, (a, b) -> a + b) AS ss,
      |    list_reduce(list(spread * spread) OVER w, (a, b) -> a + b) AS ss2
      |  FROM sp
      |  WINDOW o AS (ORDER BY bucket),
      |    w AS (ORDER BY bucket ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
      |f AS (
      |  SELECT *, CASE WHEN rn >= 24 THEN ss / 24 END AS m
      |  FROM c),
      |g AS (
      |  SELECT *, CASE WHEN rn >= 24
      |    THEN sqrt(greatest(0.0, ss2 / 24 - m * m)) END AS sd
      |  FROM f),
      |h AS (
      |  SELECT *, CASE WHEN sd > 0.0 THEN (spread - m) / sd END AS z
      |  FROM g)
      |SELECT epoch_ms(bucket) AS bucket_ms, a_close, b_close,
      |  round(beta, 6) AS beta, round(alpha, 6) AS alpha,
      |  round(spread, 6) AS spread, round(m, 6) AS spread_mean,
      |  round(sd, 6) AS spread_sd, round(z, 6) AS z,
      |  CASE WHEN z IS NULL THEN NULL
      |    WHEN z > 2.0 THEN 1 WHEN z < -2.0 THEN -1 ELSE 0 END AS signal
      |FROM h
      |ORDER BY bucket_ms""".stripMargin

  /** Per-key OLS trend of a value series against its bar index (public
    * operator behind [[graft.Graft.linearTrend]]): slope/intercept/r²
    * of y over x = 0,1,2,… in time order — the trend-estimation
    * companion of [[betaVs]] (which regresses against a benchmark's
    * returns; this regresses against time itself).
    *
    * Exactness: x is the row index, so Σx and Σx² are CLOSED FORMS of
    * n (no float accumulation at all); the three y-moments (Σy, Σxy,
    * Σy²) run as cumulative window sums in time order — the q33 rule:
    * bit-reproducible at any parallelism, hash-exact vs the oracle.
    * One window shuffle on the key; every key's state is O(1).
    * Degenerate series (n < 2 or zero variance) yield null slope/r²
    * rather than ±Inf/NaN. */
  def trendOf(df: DataFrame, keyCol: String, tsCol: String, valueCol: String): DataFrame = {
    val wOrd = Window.partitionBy(col("__k")).orderBy(col("__t"))
    val cum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val e = df
      .select(col(keyCol).as("__k"), col(tsCol).as("__t"),
        col(valueCol).cast("double").as("__y"))
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("__k"))))
      .withColumn("x", (col("rn") - 1).cast("double"))
      .withColumn("sy", sum(col("__y")).over(cum))
      .withColumn("sxy", sum(col("x") * col("__y")).over(cum))
      .withColumn("syy", sum(col("__y") * col("__y")).over(cum))
      .filter(col("rn") === col("n"))
    val nD = col("n").cast("double")
    val sx = nD * (nD - lit(1.0)) / lit(2.0)
    val sxx = (nD - lit(1.0)) * nD * (lit(2.0) * nD - lit(1.0)) / lit(6.0)
    val dx = nD * sxx - sx * sx
    val dy = nD * col("syy") - col("sy") * col("sy")
    val cov = nD * col("sxy") - sx * col("sy")
    e.select(col("__k").as("series"), col("n").as("n_buckets"),
      when(col("n") >= 2 && dx > 0, cov / dx).as("slope"),
      when(col("n") >= 2 && dx > 0,
        (col("sy") - (cov / dx) * sx) / nD).as("intercept"),
      when(col("n") >= 2 && dx > 0 && dy > 0,
        (cov * cov) / (dx * dy)).as("r2"))
  }

  /** #q52 per-series OLS trend of the hourly close grid: is the series
    * drifting, how steeply, and how linear is the drift. */
  private val q52: Q = (s, dir) => {
    val bars = graft.Graft.resampleOhlc(t(s, dir, "events"),
        "event_type", "ts", "event_id", "value", "hour")
      .select(col("event_type"), col("bucket"), col("close"))
    trendOf(bars, "event_type", "bucket", "close")
      .select(col("series"), col("n_buckets"),
        r6(col("slope")).as("slope"), r6(col("intercept")).as("intercept"),
        r6(col("r2")).as("r2"))
      .orderBy("series")
  }

  private val q52Sql =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    last(value ORDER BY ts, event_id) AS close
      |  FROM events GROUP BY 1, 2),
      |b2 AS (
      |  SELECT event_type, bucket, close,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY bucket) - 1
      |      AS DOUBLE) AS x
      |  FROM b),
      |c AS (
      |  SELECT event_type AS series,
      |    row_number() OVER o AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n,
      |    sum(close) OVER w AS sy,
      |    sum(x * close) OVER w AS sxy,
      |    sum(close * close) OVER w AS syy
      |  FROM b2
      |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket),
      |    w AS (PARTITION BY event_type ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f AS (
      |  SELECT series, n, sy, sxy, syy,
      |    CAST(n AS DOUBLE) AS nd,
      |    CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0 AS sx,
      |    (CAST(n AS DOUBLE) - 1.0) * CAST(n AS DOUBLE) * (2.0 * CAST(n AS DOUBLE) - 1.0) / 6.0 AS sxx
      |  FROM c WHERE rn = n),
      |g AS (
      |  SELECT series, n, sy, nd, sx,
      |    nd * sxx - sx * sx AS dx,
      |    nd * syy - sy * sy AS dy,
      |    nd * sxy - sx * sy AS cov
      |  FROM f)
      |SELECT series, n AS n_buckets,
      |  round(CASE WHEN n >= 2 AND dx > 0 THEN cov / dx END, 6) AS slope,
      |  round(CASE WHEN n >= 2 AND dx > 0
      |    THEN (sy - (cov / dx) * sx) / nd END, 6) AS intercept,
      |  round(CASE WHEN n >= 2 AND dx > 0 AND dy > 0
      |    THEN (cov * cov) / (dx * dy) END, 6) AS r2
      |FROM g
      |ORDER BY series""".stripMargin

  /** Daily volatility estimators over an OHLC bar table (public
    * operator behind [[graft.Graft.volatility]]): per (series, day) —
    *   realized_var  Σ ln(c_t/c_{t−1})² over the day's bars (close-to-
    *                 close realized variance; 0 for a 1-bar day),
    *   parkinson     Σ ln(h/l)² / (4·ln2·n) — the range-based estimator
    *                 that sees intra-bar motion closes miss,
    *   gk            Garman–Klass: Σ(½·ln(h/l)² − (2ln2−1)·ln(c/o)²)/n.
    * The risk columns a data pipeline schedules daily next to q37's ATR.
    *
    * Exactness: bar OHLC are exact arg-picks ([[hourBars]]); each ln
    * term is a pure per-row function of them; the day sums are
    * cumulative folds in bar order taken at the day's last row (q33
    * rule — never hash-agg double sums). The two irrational constants
    * are Scala-computed literals interpolated into BOTH engines'
    * plans, so no libm divergence can flip a rounding boundary. One
    * (series, day) window shuffle; degenerate bars (h=l, 1-bar days)
    * produce exact zeros, not NaN. Bars with a non-positive price are
    * EXCLUDED before the fold (log estimators are undefined there —
    * the ×10 probe caught value=0 ticks throwing ANSI DIVIDE_BY_ZERO);
    * n_bars counts the surviving bars and a return spanning an excluded
    * bar bridges it. */
  def volatilityOf(bars: DataFrame, keyCol: String, tsCol: String,
                   openCol: String, highCol: String, lowCol: String,
                   closeCol: String): DataFrame = {
    val base = bars.select(col(keyCol).as("__k"), col(tsCol).as("__t"),
      col(openCol).cast("double").as("__o"), col(highCol).cast("double").as("__h"),
      col(lowCol).cast("double").as("__l"), col(closeCol).cast("double").as("__c"))
      .filter(col("__l") > 0 && col("__o") > 0 && col("__c") > 0)
      .withColumn("__d", date_trunc("day", col("__t")))
    val w = Window.partitionBy(col("__k"), col("__d")).orderBy(col("__t"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hl = log(col("__h") / col("__l"))
    val co = log(col("__c") / col("__o"))
    val r = log(col("__c") / lag(col("__c"), 1).over(w))
    base
      .withColumn("r2", r * r)
      .withColumn("pk", hl * hl)
      .withColumn("gk", hl * hl * lit(0.5) - lit(gkC) * (co * co))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("__k"), col("__d"))))
      .withColumn("crv", sum(col("r2")).over(cum))
      .withColumn("cpk", sum(col("pk")).over(cum))
      .withColumn("cgk", sum(col("gk")).over(cum))
      .filter(col("rn") === col("n"))
      .select(col("__k").as("series"), col("__d").as("day"),
        col("n").as("n_bars"),
        coalesce(col("crv"), lit(0.0)).as("realized_var"),
        (col("cpk") * lit(pkC) / col("n")).as("parkinson"),
        (col("cgk") / col("n")).as("gk"))
  }

  /** Scala-computed constants shared verbatim with the oracle SQL
    * (Double.toString round-trips, so both engines fold the identical
    * IEEE literal — the q35 shared-literal rule). */
  private val gkC = 2.0 * math.log(2.0) - 1.0
  private val pkC = 1.0 / (4.0 * math.log(2.0))

  /** #q56 daily volatility estimators over the hourly bars. */
  private val q56: Q = (s, dir) =>
    volatilityOf(
      graft.Graft.resampleOhlc(t(s, dir, "events"),
        "event_type", "ts", "event_id", "value", "hour"),
      "event_type", "bucket", "open", "high", "low", "close")
      .select(col("series"), epochMs(col("day")).as("day_ms"), col("n_bars"),
        r6(col("realized_var")).as("realized_var"),
        r6(col("parkinson")).as("parkinson"), r6(col("gk")).as("gk"))
      .orderBy("series", "day_ms")

  private val q56Sql =
    s"""WITH b AS (
       |  SELECT event_type, date_trunc('hour', ts) AS bucket,
       |    first(value ORDER BY ts, event_id) AS open,
       |    max(value) AS high, min(value) AS low,
       |    last(value ORDER BY ts, event_id) AS close
       |  FROM events GROUP BY 1, 2),
       |bp AS (SELECT * FROM b WHERE low > 0 AND open > 0 AND close > 0),
       |d AS (
       |  SELECT event_type, bucket, date_trunc('day', bucket) AS day,
       |    ln(high / low) AS hl, ln(close / open) AS co,
       |    ln(close / lag(close, 1) OVER (
       |      PARTITION BY event_type, date_trunc('day', bucket)
       |      ORDER BY bucket)) AS r
       |  FROM bp),
       |c AS (
       |  SELECT event_type, day,
       |    row_number() OVER o AS rn,
       |    count(*) OVER (PARTITION BY event_type, day) AS n,
       |    sum(r * r) OVER w AS crv,
       |    sum(hl * hl) OVER w AS cpk,
       |    sum(hl * hl * 0.5 - ($gkC) * (co * co)) OVER w AS cgk
       |  FROM d
       |  WINDOW o AS (PARTITION BY event_type, day ORDER BY bucket),
       |    w AS (PARTITION BY event_type, day ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT event_type AS series, epoch_ms(day) AS day_ms, n AS n_bars,
       |  round(coalesce(crv, CAST(0.0 AS DOUBLE)), 6) AS realized_var,
       |  round(cpk * ($pkC) / n, 6) AS parkinson,
       |  round(cgk / n, 6) AS gk
       |FROM c WHERE rn = n
       |ORDER BY series, day_ms""".stripMargin

  /** Volume-clock bars (public operator behind
    * [[graft.Graft.volumeBars]]): re-bucket a fill/tick stream by
    * TRADED VOLUME instead of wall-clock — bar b holds the fills whose
    * exclusive prefix volume lands in [b·budget, (b+1)·budget). The
    * "information-driven bars" of López de Prado's AFML ch. 2: volume
    * bars sample more finely when activity is high, so per-bar return
    * distributions are closer to IID than time bars — the sampling a
    * downstream model wants. Emits per (series, bar): start/end ts,
    * n_fills, open/high/low/close unit price, volume, notional, vwap.
    *
    * Exactness: the bar assignment is floor(exclusive-cumsum / budget)
    * where the cumsum is a CUMULATIVE window fold in (ts, tie…) order
    * (the ds03 first-fit packing rule on the q33 determinism rule), so
    * the boundary every engine computes is the same IEEE sequence;
    * per-bar sums are cumulative folds taken at the bar's last row,
    * open/high/low/close exact value picks. A fill larger than the
    * remaining bar capacity is NOT split (bars can overshoot budget —
    * the standard discrete rule; splitting would fabricate fills).
    *
    * Scale: one shuffle on the series key; the (series, bar) window
    * reuses that partitioning (`ClusteredDistribution` — hash(key)
    * co-locates every (key, bar)) and only adds an in-partition
    * re-sort, and `bar` is monotone in fill order so even that sort is
    * of pre-sorted runs. Zero-volume fills are excluded (they carry no
    * volume clock and an all-zero series would divide by zero). */
  def volumeBarsOf(df: DataFrame, keyCol: String, tsCol: String,
                   tieCols: Seq[String], priceCol: String, volCol: String,
                   budget: Double): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    val ties = tieCols.map(col)
    val wKey = Window.partitionBy(col("__k")).orderBy((col("__t") +: ties): _*)
    val cumKey = wKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = df
      .select((col(keyCol).as("__k") +: col(tsCol).as("__t") +:
        col(priceCol).cast("double").as("__p") +:
        col(volCol).cast("double").as("__v") +: ties): _*)
      .filter(col("__v") > 0)
      .withColumn("__cv", sum(col("__v")).over(cumKey))
      .withColumn("bar", floor((col("__cv") - col("__v")) / lit(budget)).cast("long"))
    val wBar = Window.partitionBy(col("__k"), col("bar"))
      .orderBy((col("__t") +: ties): _*)
    val cumBar = wBar.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("__rn", row_number().over(wBar))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__k"), col("bar"))))
      .withColumn("__open", first(col("__p")).over(cumBar))
      .withColumn("__hi", max(col("__p")).over(cumBar))
      .withColumn("__lo", min(col("__p")).over(cumBar))
      .withColumn("__start", first(col("__t")).over(cumBar))
      .withColumn("__vol", sum(col("__v")).over(cumBar))
      .withColumn("__not", sum(col("__p") * col("__v")).over(cumBar))
      .filter(col("__rn") === col("__n"))
      .select(col("__k").as("series"), col("bar"),
        col("__start").as("start_ts"), col("__t").as("end_ts"),
        col("__n").as("n_fills"),
        col("__open").as("open"), col("__hi").as("high"),
        col("__lo").as("low"), col("__p").as("close"),
        col("__vol").as("volume"), col("__not").as("notional"),
        (col("__not") / col("__vol")).as("vwap"))
  }

  /** #q59 volume-clock bars over the lineitem fill stream: series =
    * return flag, fill order = (shipdate, orderkey, linenumber), unit
    * price, quantity as the volume clock, 50k-unit bars. */
  private val q59: Q = (s, dir) =>
    volumeBarsOf(
      t(s, dir, "lineitem")
        .withColumn("unit_price", col("l_extendedprice") / col("l_quantity")),
      "l_returnflag", "l_shipdate",
      // (okey, ln) is NOT unique in the synthetic lineitem (11,785 dup
      // groups; 3 even tie on (rf, shipdate, okey, ln) with DIFFERENT
      // price/qty) — price+qty complete the total order, or the fold
      // sequence is partition-order-dependent in BOTH engines (caught
      // round 10: the q90 oracle flapped run-to-run on exactly this)
      Seq("l_orderkey", "l_linenumber", "unit_price", "l_quantity"),
      priceCol = "unit_price", volCol = "l_quantity", budget = 50000.0)
      .select(col("series"), col("bar"),
        epochMs(col("start_ts")).as("start_ms"), epochMs(col("end_ts")).as("end_ms"),
        col("n_fills"),
        r4(col("open")).as("open"), r4(col("high")).as("high"),
        r4(col("low")).as("low"), r4(col("close")).as("close"),
        r4(col("volume")).as("volume"), r4(col("vwap")).as("vwap"))
      .orderBy("series", "bar")

  private val q59Sql =
    """WITH f AS (
      |  SELECT l_returnflag AS series, l_shipdate AS ts,
      |    l_orderkey, l_linenumber,
      |    l_extendedprice / l_quantity AS p, l_quantity AS v
      |  FROM lineitem WHERE l_quantity > 0),
      |c AS (
      |  SELECT series, ts, l_orderkey, l_linenumber, p, v,
      |    CAST(floor((sum(v) OVER w - v) / 50000.0) AS BIGINT) AS bar
      |  FROM f
      |  WINDOW w AS (PARTITION BY series ORDER BY ts, l_orderkey, l_linenumber, p, v
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |b AS (
      |  SELECT series, bar, ts, p,
      |    row_number() OVER o AS rn,
      |    count(*) OVER (PARTITION BY series, bar) AS n,
      |    first(p) OVER w AS open, max(p) OVER w AS high,
      |    min(p) OVER w AS low, first(ts) OVER w AS start_ts,
      |    sum(v) OVER w AS vol, sum(p * v) OVER w AS ntl
      |  FROM c
      |  WINDOW o AS (PARTITION BY series, bar ORDER BY ts, l_orderkey, l_linenumber, p, v),
      |    w AS (PARTITION BY series, bar ORDER BY ts, l_orderkey, l_linenumber, p, v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT series, bar, epoch_ms(start_ts) AS start_ms, epoch_ms(ts) AS end_ms,
      |  n AS n_fills,
      |  round(open, 4) AS open, round(high, 4) AS high,
      |  round(low, 4) AS low, round(p, 4) AS close,
      |  round(vol, 4) AS volume, round(ntl / vol, 4) AS vwap
      |FROM b WHERE rn = n
      |ORDER BY series, bar""".stripMargin

  /** Historical Value-at-Risk + Expected Shortfall per series (public
    * operator behind [[graft.Graft.varEs]]): from a one-row-per-(key,
    * ts) close series, simple returns r = c/c₋₁ − 1, then
    *   var_a = the a-quantile of the return distribution (exact
    *           interpolated percentile — the q20 machinery), and
    *   es_a  = mean of the returns at or below var_a (the tail mean —
    *           what you lose on average WHEN the var threshold is
    *           breached; always ≤ var_a).
    * The standard daily risk pair next to q56's volatility estimators.
    *
    * Exactness: returns are per-row arithmetic on exact close picks;
    * the quantile is exact-interp (q20 parity); the tail mean runs as
    * a cumulative fold in (r, ts) total order taken at the tail's
    * last row (q33 rule) — never a hash-agg float sum. Non-positive
    * closes are excluded before the return (r undefined there — the
    * q56 ANSI rule); a return spanning an excluded bar bridges it.
    *
    * Scale: one window shuffle on the key for returns + one percentile
    * agg; the key-sized var table broadcasts back; the tail fold rides
    * the same key partitioning. `approx = true` IS the 100 TB quantile
    * swap (`approx_percentile`, mergeable sketch, rank error ≤
    * n/accuracy): the VaR cut moves by at most that many ranked
    * returns and the ES tail re-averages over the shifted membership —
    * a08_var_es_approx measures the realized divergence. */
  def varEsOf(bars: DataFrame, keyCol: String, tsCol: String,
              closeCol: String, alpha: Double = 0.05,
              approx: Boolean = false, accuracy: Int = 10000): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(accuracy >= 1, s"accuracy must be >= 1, got $accuracy")
    val wKey = Window.partitionBy(col("__k")).orderBy(col("__t"))
    val rets = bars
      .select(col(keyCol).as("__k"), col(tsCol).as("__t"),
        col(closeCol).cast("double").as("__c"))
      .filter(col("__c") > 0)
      .withColumn("r", col("__c") / lag(col("__c"), 1).over(wKey) - lit(1.0))
      .filter(col("r").isNotNull)
    val varExpr =
      if (approx) s"approx_percentile(r, ${alpha}D, $accuracy)"
      else s"percentile(r, ${alpha}D)"
    val v = rets.groupBy(col("__k"))
      .agg(expr(varExpr).as("var_a"),
        count(lit(1)).as("n_obs"))
    val wTail = Window.partitionBy(col("__k")).orderBy(col("r"), col("__t"))
    val cumTail = wTail.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rets.join(broadcast(v), Seq("__k"))
      .filter(col("r") <= col("var_a"))
      .withColumn("__rn", row_number().over(wTail))
      .withColumn("__nt", count(lit(1)).over(Window.partitionBy(col("__k"))))
      .withColumn("__sr", sum(col("r")).over(cumTail))
      .filter(col("__rn") === col("__nt"))
      .select(col("__k").as("series"), col("n_obs"),
        col("var_a"), (col("__sr") / col("__nt")).as("es_a"),
        col("__nt").as("n_tail"))
  }

  /** #q62 historical VaR(5%)/ES over the hourly close grid — the
    * tail-risk companion of q56's volatility row. */
  private val q62: Q = (s, dir) =>
    varEsOf(
      graft.Graft.resampleOhlc(t(s, dir, "events"),
        "event_type", "ts", "event_id", "value", "hour"),
      "event_type", "bucket", "close", alpha = 0.05)
      .select(col("series"), col("n_obs"), r6(col("var_a")).as("var_a"),
        r6(col("es_a")).as("es_a"), col("n_tail"))
      .orderBy("series")

  private val q62Sql =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    last(value ORDER BY ts, event_id) AS close
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, bucket,
      |    close / lag(close, 1) OVER (PARTITION BY event_type ORDER BY bucket) - 1.0 AS r
      |  FROM b WHERE close > 0),
      |rr AS (SELECT * FROM r WHERE r IS NOT NULL),
      |v AS (
      |  SELECT event_type, quantile_cont(r, 0.05) AS var_a,
      |    count(*) AS n_obs
      |  FROM rr GROUP BY event_type),
      |t AS (
      |  SELECT rr.event_type, rr.r, v.var_a, v.n_obs,
      |    row_number() OVER o AS rn,
      |    count(*) OVER (PARTITION BY rr.event_type) AS nt,
      |    sum(rr.r) OVER w AS sr
      |  FROM rr JOIN v USING (event_type)
      |  WHERE rr.r <= v.var_a
      |  WINDOW o AS (PARTITION BY rr.event_type ORDER BY rr.r, rr.bucket),
      |    w AS (PARTITION BY rr.event_type ORDER BY rr.r, rr.bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT event_type AS series, CAST(n_obs AS BIGINT) AS n_obs,
      |  round(var_a, 6) AS var_a, round(sr / nt, 6) AS es_a,
      |  CAST(nt AS BIGINT) AS n_tail
      |FROM t WHERE rn = nt
      |ORDER BY series""".stripMargin

  /** χ²(1) 95% critical value, a Scala literal shared verbatim with
    * the oracle SQL (q56 shared-literal rule). */
  private val chi2Crit1 = 3.841458820694124

  /** Kupiec (1995) proportion-of-failures VaR BACKTEST over ANY OHLC
    * bar table (public operator behind [[graft.Graft.varBacktest]]) —
    * the validation loop q62's number is worthless without: per
    * series, fit historical VaR(α) on the FIRST HALF of the return
    * history (by bar order — never a random split, the ds01 rule
    * applied in time), count exceedances r ≤ VaR in the SECOND half,
    * and test observed rate x/n against α with the POF likelihood
    * ratio  LR = 2·[(n−x)·ln((1−x/n)/(1−α)) + x·ln((x/n)/α)]
    * (degenerate x=0 / x=n terms are exact zeros by CASE, not 0·∞
    * NaNs), rejecting at the χ²(1) 95% critical value — `reject` on
    * the UNROUNDED statistic. Rejection means the VaR model misstates
    * tail risk in EITHER direction (too many or too few breaches).
    *
    * Exactness: the split is the integer comparison 2·rn ≤ n (no
    * float boundary); VaR is the exact interpolated percentile both
    * engines define identically; x and n are integers, so LR is a
    * fixed scalar expression of two ints and shared literals. One
    * series-key window shuffle + one k-row broadcast back. */
  def varBacktestOf(bars: DataFrame, keyCol: String, tsCol: String,
                    closeCol: String, alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val wKey = Window.partitionBy(col("__k")).orderBy(col("__t"))
    val rets = bars
      .select(col(keyCol).as("__k"), col(tsCol).as("__t"),
        col(closeCol).cast("double").as("__c"))
      .filter(col("__c") > 0)
      .withColumn("r", col("__c") / lag(col("__c"), 1).over(wKey) - lit(1.0))
      .filter(col("r").isNotNull)
      .withColumn("__rn", row_number().over(wKey))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__k"))))
    val v = rets.filter(col("__rn") * 2 <= col("__n"))
      .groupBy(col("__k"))
      .agg(expr(s"percentile(r, ${alpha}D)").as("var_a"),
        count(lit(1)).as("n_est"))
    val xd = col("n_exceed").cast("double")
    val nd = col("n_test").cast("double")
    val rate = xd / nd
    val t1 = when(col("n_exceed") < col("n_test"),
      (nd - xd) * log((lit(1.0) - rate) / lit(1.0 - alpha))).otherwise(lit(0.0))
    val t2 = when(col("n_exceed") > 0, xd * log(rate / lit(alpha))).otherwise(lit(0.0))
    rets.filter(col("__rn") * 2 > col("__n"))
      .join(broadcast(v), Seq("__k"))
      .groupBy(col("__k"), col("var_a"), col("n_est"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("r") <= col("var_a"), 1L).otherwise(0L)).as("n_exceed"))
      .withColumn("exceed_rate", rate)
      .withColumn("lr_pof", lit(2.0) * (t1 + t2))
      .select(col("__k").as("series"), col("n_est"), col("var_a"),
        col("n_test"), col("n_exceed"), col("exceed_rate"), col("lr_pof"),
        (col("lr_pof") > chi2Crit1).as("reject"))
  }

  /** #q97 the Kupiec POF backtest of q62's VaR(5%) on the hourly
    * close grid — estimation half vs live half. */
  private val q97: Q = (s, dir) =>
    varBacktestOf(
      graft.Graft.resampleOhlc(t(s, dir, "events"),
        "event_type", "ts", "event_id", "value", "hour"),
      "event_type", "bucket", "close", alpha = 0.05)
      .select(col("series"), col("n_est"), r6(col("var_a")).as("var_a"),
        col("n_test"), col("n_exceed"), r6(col("exceed_rate")).as("exceed_rate"),
        r6(col("lr_pof")).as("lr_pof"), col("reject"))
      .orderBy("series")

  private val q97Sql =
    s"""WITH b AS (
       |  SELECT event_type, date_trunc('hour', ts) AS bucket,
       |    last(value ORDER BY ts, event_id) AS close
       |  FROM events GROUP BY 1, 2),
       |r AS (
       |  SELECT event_type, bucket,
       |    close / lag(close, 1) OVER (PARTITION BY event_type ORDER BY bucket) - 1.0 AS r
       |  FROM b WHERE close > 0),
       |rr AS (
       |  SELECT event_type, r,
       |    row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM r WHERE r IS NOT NULL),
       |v AS (
       |  SELECT event_type, quantile_cont(r, 0.05) AS var_a, count(*) AS n_est
       |  FROM rr WHERE rn * 2 <= n GROUP BY event_type),
       |x AS (
       |  SELECT rr.event_type, v.var_a, v.n_est,
       |    count(*) AS n_test,
       |    CAST(sum(CASE WHEN rr.r <= v.var_a THEN 1 ELSE 0 END) AS BIGINT) AS n_exceed
       |  FROM rr JOIN v ON rr.event_type = v.event_type
       |  WHERE rn * 2 > n
       |  GROUP BY 1, 2, 3),
       |l AS (
       |  SELECT *,
       |    CAST(n_exceed AS DOUBLE) / CAST(n_test AS DOUBLE) AS rate,
       |    CASE WHEN n_exceed < n_test
       |      THEN (CAST(n_test AS DOUBLE) - CAST(n_exceed AS DOUBLE))
       |        * ln((1.0 - CAST(n_exceed AS DOUBLE) / CAST(n_test AS DOUBLE)) / ${1.0 - 0.05})
       |      ELSE 0.0 END AS t1,
       |    CASE WHEN n_exceed > 0
       |      THEN CAST(n_exceed AS DOUBLE)
       |        * ln((CAST(n_exceed AS DOUBLE) / CAST(n_test AS DOUBLE)) / 0.05)
       |      ELSE 0.0 END AS t2
       |  FROM x)
       |SELECT event_type AS series, n_est, round(var_a, 6) AS var_a,
       |  n_test, n_exceed, round(rate, 6) AS exceed_rate,
       |  round(2.0 * (t1 + t2), 6) AS lr_pof,
       |  2.0 * (t1 + t2) > $chi2Crit1 AS reject
       |FROM l
       |ORDER BY series""".stripMargin

  /** Annualization literal shared with the oracle (q56 rule). */
  private val daysPerYear = 365.0

  /** Risk-adjusted performance ratios over ANY close series (public
    * operator behind [[graft.Graft.riskRatios]]) — the summary row a
    * strategy report ends with, per series over its daily returns:
    *   mean_r / std_r   daily mean and sample stdev,
    *   downside_dev     √(Σ min(r,0)² / n) — penalizes only losses,
    *   sharpe           mean/std · √365 (annualized),
    *   sortino          mean/downside · √365,
    *   max_dd           deepest peak-to-trough equity loss (the q32
    *                    drawdown on the compounded path, computed in
    *                    LOG space: running-max of cum Σln(1+r) —
    *                    monotone, so log-peak IS the peak),
    *   calmar           mean·365 / max_dd.
    * Every divide is CASE-guarded (n≥2, std>0, downside>0, dd>0 —
    * the ANSI zero-divide rule); all sums are cumulative folds in day
    * order taken at the series' last row (q33 rule); ln(1+r) is safe
    * by construction (both closes positive ⇒ 1+r = c/prev > 0); √365
    * and 365 are shared Scala literals. One series-key window
    * shuffle on the daily grid. */
  def riskRatiosOf(bars: DataFrame, keyCol: String, tsCol: String,
                   closeCol: String): DataFrame = {
    val wDay = Window.partitionBy(col("__k"), col("__d")).orderBy(col("__t"))
    val daily = bars
      .select(col(keyCol).as("__k"), col(tsCol).as("__t"),
        col(closeCol).cast("double").as("__c"))
      .filter(col("__c") > 0)
      .withColumn("__d", date_trunc("day", col("__t")))
      .withColumn("__rn", row_number().over(wDay))
      .withColumn("__nd", count(lit(1)).over(Window.partitionBy(col("__k"), col("__d"))))
      .filter(col("__rn") === col("__nd"))
      .select(col("__k"), col("__d"), col("__c"))
    val w = Window.partitionBy(col("__k")).orderBy(col("__d"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val rets = daily
      .withColumn("__r", col("__c") / lag(col("__c"), 1).over(w) - lit(1.0))
      .filter(col("__r").isNotNull)
    val dn = when(col("__r") < 0, col("__r") * col("__r")).otherwise(lit(0.0))
    val annR = sqrt(lit(daysPerYear))
    rets
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__k"))))
      .withColumn("__s", sum(col("__r")).over(cum))
      .withColumn("__s2", sum(col("__r") * col("__r")).over(cum))
      .withColumn("__sd2", sum(dn).over(cum))
      .withColumn("__clog", sum(log(lit(1.0) + col("__r"))).over(cum))
      // the STARTING equity (log 0) is a peak candidate — the
      // conventional drawdown baseline (and q32's first-close rule)
      .withColumn("__peak", greatest(max(col("__clog")).over(cum), lit(0.0)))
      .withColumn("__dd", lit(1.0) - exp(col("__clog") - col("__peak")))
      .withColumn("__maxdd", max(col("__dd")).over(cum))
      .filter(col("__rn") === col("__n"))
      .withColumn("nd", col("__n").cast("double"))
      .withColumn("mean_r", col("__s") / col("nd"))
      .withColumn("__var",
        when(col("__n") >= 2, (col("__s2") - col("__s") * col("__s") / col("nd")) / (col("nd") - 1.0)))
      .withColumn("std_r", when(col("__var") > 0, sqrt(col("__var"))))
      .withColumn("downside_dev",
        when(col("__sd2") > 0, sqrt(col("__sd2") / col("nd"))))
      .withColumn("sharpe",
        when(col("std_r").isNotNull, col("mean_r") / col("std_r") * annR))
      .withColumn("sortino",
        when(col("downside_dev").isNotNull, col("mean_r") / col("downside_dev") * annR))
      .withColumn("calmar",
        when(col("__maxdd") > 0, col("mean_r") * lit(daysPerYear) / col("__maxdd")))
      .select(col("__k").as("series"), col("__n").as("n_days"),
        col("mean_r"), col("std_r"), col("downside_dev"),
        col("sharpe"), col("sortino"), col("__maxdd").as("max_dd"), col("calmar"))
  }

  /** #q99 the performance-summary row per series: daily closes from
    * the hourly grid, ratios over the full history. */
  private val q99: Q = (s, dir) =>
    riskRatiosOf(
      graft.Graft.resampleOhlc(t(s, dir, "events"),
        "event_type", "ts", "event_id", "value", "hour"),
      "event_type", "bucket", "close")
      .select(col("series"), col("n_days"), r6(col("mean_r")).as("mean_r"),
        r6(col("std_r")).as("std_r"), r6(col("downside_dev")).as("downside_dev"),
        r6(col("sharpe")).as("sharpe"), r6(col("sortino")).as("sortino"),
        r6(col("max_dd")).as("max_dd"), r6(col("calmar")).as("calmar"))
      .orderBy("series")

  private val q99Sql =
    s"""WITH b AS (
       |  SELECT event_type, date_trunc('hour', ts) AS bucket,
       |    last(value ORDER BY ts, event_id) AS close
       |  FROM events GROUP BY 1, 2),
       |bp AS (SELECT * FROM b WHERE close > 0),
       |dly AS (
       |  SELECT event_type, date_trunc('day', bucket) AS day,
       |    last(close ORDER BY bucket) AS c
       |  FROM bp GROUP BY 1, 2),
       |r AS (
       |  SELECT event_type, day,
       |    c / lag(c, 1) OVER (PARTITION BY event_type ORDER BY day) - 1.0 AS r
       |  FROM dly),
       |rr AS (SELECT * FROM r WHERE r IS NOT NULL),
       |c AS (
       |  SELECT event_type,
       |    row_number() OVER o AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n,
       |    sum(r) OVER w AS s,
       |    sum(r * r) OVER w AS s2,
       |    sum(CASE WHEN r < 0 THEN r * r ELSE 0.0 END) OVER w AS sd2,
       |    sum(ln(1.0 + r)) OVER w AS clog
       |  FROM rr
       |  WINDOW o AS (PARTITION BY event_type ORDER BY day),
       |    w AS (PARTITION BY event_type ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |p AS (
       |  SELECT *, greatest(max(clog) OVER (PARTITION BY event_type ORDER BY rn
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0) AS peak
       |  FROM c),
       |d AS (
       |  SELECT event_type, rn, n, s, s2, sd2,
       |    max(1.0 - exp(clog - peak)) OVER (PARTITION BY event_type ORDER BY rn
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS maxdd
       |  FROM p),
       |f AS (
       |  SELECT event_type, n, s, s2, sd2, maxdd,
       |    CAST(n AS DOUBLE) AS nd,
       |    s / CAST(n AS DOUBLE) AS mean_r,
       |    CASE WHEN n >= 2 THEN (s2 - s * s / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) END AS v
       |  FROM d WHERE rn = n),
       |g AS (
       |  SELECT event_type, n, mean_r, maxdd, sd2, nd,
       |    CASE WHEN v > 0 THEN sqrt(v) END AS std_r,
       |    CASE WHEN sd2 > 0 THEN sqrt(sd2 / nd) END AS downside_dev
       |  FROM f)
       |SELECT event_type AS series, n AS n_days,
       |  round(mean_r, 6) AS mean_r, round(std_r, 6) AS std_r,
       |  round(downside_dev, 6) AS downside_dev,
       |  round(CASE WHEN std_r IS NOT NULL THEN mean_r / std_r * sqrt($daysPerYear) END, 6) AS sharpe,
       |  round(CASE WHEN downside_dev IS NOT NULL THEN mean_r / downside_dev * sqrt($daysPerYear) END, 6) AS sortino,
       |  round(maxdd, 6) AS max_dd,
       |  round(CASE WHEN maxdd > 0 THEN mean_r * $daysPerYear / maxdd END, 6) AS calmar
       |FROM g
       |ORDER BY series""".stripMargin

  /** #q62b the 100 TB VaR path AS A QUERY: [[varEsOf]] run in BOTH
    * modes — exact interpolated percentile vs the `approx = true`
    * sketch swap — joined per series with the realized divergence
    * (|Δvar|, |Δes|, tail-membership drift). rows-only check (the
    * sketch cut is not SQL-reproducible in DuckDB); Round11Spec bounds
    * the errors by the sketch's rank guarantee. This is the q47/q49/
    * q62 documented swap made an executable, measured code path. */
  private val a08: Q = (s, dir) => {
    val bars = graft.Graft.resampleOhlc(t(s, dir, "events"),
      "event_type", "ts", "event_id", "value", "hour")
    val ex = varEsOf(bars, "event_type", "bucket", "close", alpha = 0.05)
      .select(col("series"), col("n_obs"), col("var_a").as("var_exact"),
        col("es_a").as("es_exact"), col("n_tail").as("n_tail_exact"))
    val ap = varEsOf(bars, "event_type", "bucket", "close", alpha = 0.05,
        approx = true)
      .select(col("series"), col("var_a").as("var_approx"),
        col("es_a").as("es_approx"), col("n_tail").as("n_tail_approx"))
    ex.join(ap, Seq("series"))
      .select(col("series"), col("n_obs"),
        r6(col("var_exact")).as("var_exact"), r6(col("var_approx")).as("var_approx"),
        r6(col("es_exact")).as("es_exact"), r6(col("es_approx")).as("es_approx"),
        col("n_tail_exact"), col("n_tail_approx"),
        r6(abs(col("var_approx") - col("var_exact"))).as("abs_err_var"),
        r6(abs(col("es_approx") - col("es_exact"))).as("abs_err_es"))
      .orderBy("series")
  }

  /** Spearman rank correlation per group (public operator behind
    * [[graft.Graft.rankCorr]]) — the robust dependence measure quant
    * signal evaluation runs per period (the "rank IC"): monotone
    * association that outliers can't drag, where q33's Pearson is
    * pulled by every fat tail. Ranks are `row_number` over
    * (value, tie) — a TOTAL order, so "no ties" holds by construction
    * and the no-ties closed form applies:
    *   rho = 1 − 6·Σd² / (n·(n²−1)),  d = rank(x) − rank(y).
    * Σd² is an INTEGER sum in decimal(38,0) (bit-exact at any
    * parallelism and partition order — no float fold discipline
    * needed, and no Long cliff: a long Σd² overflows at ~3M rows per
    * group); the only float ops are the final scalar divisions. Rows
    * with a null x or y are excluded (nulls have no rank, and the two
    * engines order them differently). Groups with n < 2 yield null.
    * Two rank windows + one agg, all on the group key — one
    * shuffle. */
  def rankCorrOf(df: DataFrame, groupCol: String, xCol: String, yCol: String,
                 tieCol: String): DataFrame = {
    val rx = row_number().over(
      Window.partitionBy(col("__g")).orderBy(col("__x"), col("__tie")))
    val ry = row_number().over(
      Window.partitionBy(col("__g")).orderBy(col("__y"), col("__tie")))
    val nD = col("n").cast("double")
    df.select(col(groupCol).as("__g"), col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"), col(tieCol).as("__tie"))
      // rows with a null x or y are EXCLUDED (they have no rank; Spark
      // and DuckDB also order nulls differently, so ranking them would
      // silently diverge between engines)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .withColumn("__rx", rx.cast("long"))
      .withColumn("__ry", ry.cast("long"))
      // Σd² as DECIMAL: exact integer arithmetic (deterministic like a
      // long sum) without the Long cliff — a long Σd² overflows at
      // n ≈ 3M rows per group, exactly the scale the operator targets;
      // the denominator n(n²−1) is likewise computed in double (exact
      // up to 2^53, and the final rho is double precision anyway)
      .withColumn("__d2", ((col("__rx") - col("__ry")) *
        (col("__rx") - col("__ry"))).cast("decimal(38,0)"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("n"), sum(col("__d2")).as("__sd2"))
      .select(col("__g").as("grp"), col("n"),
        when(col("n") >= 2,
          lit(1.0) - lit(6.0) * col("__sd2").cast("double") /
            (nD * (nD * nD - lit(1.0))))
          .as("spearman"))
  }

  /** #q64 rank IC per series: Spearman between the hourly close and
    * the NEXT hour's return — does the level predict the next move
    * (mean reversion < 0 < momentum), measured in ranks so spikes
    * can't dominate. */
  private val q64: Q = (s, dir) => {
    val w = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
    val bars = graft.Graft.resampleOhlc(t(s, dir, "events"),
        "event_type", "ts", "event_id", "value", "hour")
      .select(col("event_type"), col("bucket"), col("close"))
      .filter(col("close") > 0)
      .withColumn("fwd_ret", lead(col("close"), 1).over(w) / col("close") - lit(1.0))
      .filter(col("fwd_ret").isNotNull)
    rankCorrOf(bars, "event_type", "close", "fwd_ret", "bucket")
      .select(col("grp").as("series"), col("n"),
        r6(col("spearman")).as("spearman"))
      .orderBy("series")
  }

  private val q64Sql =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    last(value ORDER BY ts, event_id) AS close
      |  FROM events GROUP BY 1, 2),
      |f AS (
      |  SELECT event_type, bucket, close,
      |    lead(close, 1) OVER (PARTITION BY event_type ORDER BY bucket) / close - 1.0 AS fwd_ret
      |  FROM b WHERE close > 0),
      |g AS (SELECT * FROM f WHERE fwd_ret IS NOT NULL),
      |r AS (
      |  SELECT event_type,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY close, bucket) AS BIGINT) AS rx,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY fwd_ret, bucket) AS BIGINT) AS ry
      |  FROM g),
      |a AS (
      |  SELECT event_type, count(*) AS n, sum((rx - ry) * (rx - ry)) AS sd2
      |  FROM r GROUP BY event_type)
      |SELECT event_type AS series, n,
      |  round(CASE WHEN n >= 2
      |    THEN 1.0 - 6.0 * CAST(sd2 AS DOUBLE) /
      |      (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - 1.0))
      |    END, 6) AS spearman
      |FROM a
      |ORDER BY series""".stripMargin

  /** Ichimoku Kinkō Hyō over ANY (key, ts, high, low, close) bar table
    * (public operator behind [[graft.Graft.ichimoku]]) — the five-line
    * window composite completing the indicator family next to the
    * recurrence forms (q67/q68):
    *   tenkan  = midpoint of the `pT`-bar high/low range (9)
    *   kijun   = midpoint of the `pK`-bar range (26)
    *   senkou_a = (tenkan+kijun)/2 computed `pK` bars AGO (the cloud
    *              edge plotted forward — as a column, a lag)
    *   senkou_b = `pB`-bar-range midpoint (52) computed `pK` bars ago
    *   chikou  = close `pK` bars AHEAD (the lagging span — a lead;
    *             null for the newest pK bars by construction)
    * Each line null until its window fills. Every ingredient is an
    * exact rolling max/min pick or a 2-term mean, so all five lines
    * are bit-exact; ONE window shuffle on the series key serves every
    * frame. */
  def ichimokuOf(bars: DataFrame, key: String, ts: String, high: String,
                 low: String, close: String, pT: Int = 9, pK: Int = 26,
                 pB: Int = 52): DataFrame = {
    require(pT >= 1 && pK >= pT && pB >= pK, s"need 1 <= pT <= pK <= pB, got $pT/$pK/$pB")
    val w = Window.partitionBy(col(key)).orderBy(col(ts))
    def mid(n: Int): Column = {
      val f = w.rowsBetween(-(n - 1), Window.currentRow)
      (max(col(high)).over(f) + min(col(low)).over(f)) / 2.0
    }
    val rn = row_number().over(w)
    bars
      .withColumn("__rn", rn)
      .withColumn("tenkan", when(col("__rn") >= pT, mid(pT)))
      .withColumn("kijun", when(col("__rn") >= pK, mid(pK)))
      .withColumn("senkou_a", lag((col("tenkan") + col("kijun")) / 2.0, pK).over(w))
      .withColumn("senkou_b", lag(when(col("__rn") >= pB, mid(pB)), pK).over(w))
      .withColumn("chikou", lead(col(close), pK).over(w))
      .select(col(key), col(ts), col(close), col("tenkan"), col("kijun"),
        col("senkou_a"), col("senkou_b"), col("chikou"))
  }

  /** #q69 Ichimoku(9, 26, 52) over the q37 hourly bars. */
  private val q69: Q = (s, dir) =>
    ichimokuOf(hourBars(s, dir), "event_type", "bucket", "high", "low", "close")
      .select(col("event_type"), epochMs(col("bucket")).as("bucket_ms"), col("close"),
        r6(col("tenkan")).as("tenkan"), r6(col("kijun")).as("kijun"),
        r6(col("senkou_a")).as("senkou_a"), r6(col("senkou_b")).as("senkou_b"),
        col("chikou"))
      .orderBy("event_type", "bucket_ms")

  private val q69Sql =
    s"""WITH $barsSqlCte,
       |c AS (
       |  SELECT event_type, bucket, close,
       |    row_number() OVER o AS rn,
       |    (max(high) OVER (o ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)
       |      + min(low) OVER (o ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)) / 2.0 AS m9,
       |    (max(high) OVER (o ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)
       |      + min(low) OVER (o ROWS BETWEEN 25 PRECEDING AND CURRENT ROW)) / 2.0 AS m26,
       |    (max(high) OVER (o ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
       |      + min(low) OVER (o ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)) / 2.0 AS m52
       |  FROM b
       |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket)),
       |t AS (
       |  SELECT event_type, bucket, close, rn,
       |    CASE WHEN rn >= 9 THEN m9 END AS tenkan,
       |    CASE WHEN rn >= 26 THEN m26 END AS kijun,
       |    CASE WHEN rn >= 52 THEN m52 END AS m52g
       |  FROM c)
       |SELECT event_type, epoch_ms(bucket) AS bucket_ms, close,
       |  round(tenkan, 6) AS tenkan,
       |  round(kijun, 6) AS kijun,
       |  round(lag((tenkan + kijun) / 2.0, 26) OVER o, 6) AS senkou_a,
       |  round(lag(m52g, 26) OVER o, 6) AS senkou_b,
       |  lead(close, 26) OVER o AS chikou
       |FROM t
       |WINDOW o AS (PARTITION BY event_type ORDER BY bucket)
       |ORDER BY event_type, bucket_ms""".stripMargin

  val queries: Map[String, Q] = Map(
    "q69_ichimoku" -> q69,
    "q64_rank_ic" -> q64,
    "q97_var_backtest" -> q97,
    "q99_risk_ratios" -> q99,
    "q62_var_es" -> q62,
    "q59_volume_bars" -> q59,
    "q56_volatility" -> q56,
    "q30_vwap" -> q30,
    "q31_bollinger" -> q31,
    "q32_drawdown" -> q32,
    "q33_pair_corr" -> q33,
    "q34_scd2" -> q34,
    "q35_ewma" -> q35,
    "q36_rsi" -> q36,
    "q37_atr" -> q37,
    "q38_obv" -> q38,
    "q41_beta" -> q41,
    "q88_pairs_spread" -> q88,
    "q45_stochastic" -> q45,
    "q46_donchian" -> q46,
    "q52_linregress" -> q52,
    "a08_var_es_approx" -> a08)

  val oracle: Map[String, String] = Map(
    "q69_ichimoku" -> q69Sql,
    "q64_rank_ic" -> q64Sql,
    "q97_var_backtest" -> q97Sql,
    "q99_risk_ratios" -> q99Sql,
    "q62_var_es" -> q62Sql,
    "q59_volume_bars" -> q59Sql,
    "q56_volatility" -> q56Sql,
    "q30_vwap" -> q30Sql,
    "q31_bollinger" -> q31Sql,
    "q32_drawdown" -> q32Sql,
    "q33_pair_corr" -> q33Sql,
    "q34_scd2" -> q34Sql,
    "q35_ewma" -> q35Sql,
    "q36_rsi" -> q36Sql,
    "q37_atr" -> q37Sql,
    "q38_obv" -> q38Sql,
    "q45_stochastic" -> q45Sql,
    "q46_donchian" -> q46Sql,
    "q52_linregress" -> q52Sql,
    "q41_beta" -> q41Sql,
    "q88_pairs_spread" -> q88Sql)
}
