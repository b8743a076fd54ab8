package graft.ops

import graft.{F, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Window-form technical indicators (SURVEY.md §2 q70–q76) — the
  * remaining classical bar-table indicators whose math is expressible
  * with O(1)-per-row window frames, completing the family around
  * q31/q36/q37/q45/q46 (bands, RSI, ATR, stochastic, Donchian) and the
  * recurrence forms in [[ScanOps]]. These are the indicators the
  * reference's premium/WMA analytics surface sits next to
  * (crypto_data_pipeline_duckdb.py:1221-1268): a user running a
  * pandas_ta-style indicator pass over kline bars gets each of them
  * here as one declarative plan.
  *
  * Scale stance (same contract as [[FinOps]]): every operator is ONE
  * shuffle on its series key; rolling sums run over bounded n-row
  * frames (O(n) per row, an error bounded by the window rather than
  * the history); rolling extrema are exact value picks; the two
  * list-window ops (CCI's mean absolute deviation, Aroon's argmax
  * position) carry a bounded n-element array per row — n is the
  * indicator period (20/25), so the per-row state is constant, not
  * data-sized.
  * Parity discipline (SURVEY §5): every double crossing the oracle
  * boundary is either an exact pick/comparison or the same
  * defined-order fold in both engines; outputs round via [[F.r6]].
  */
object IndicatorOps {
  type Q = (SparkSession, String) => DataFrame
  import Tables.t
  import F._

  /** The q37/q38 hourly bar table: exact-aggregate OHLC + n_trades as
    * the deterministic volume proxy (see [[FinOps]] — the double SUM
    * volume is deliberately not used by parity queries). */
  private def hourBars(s: SparkSession, dir: String): DataFrame =
    graft.Graft.resampleOhlc(t(s, dir, "events"), "event_type", "ts", "event_id", "value", "hour")

  private val barsSqlCte =
    """b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    max(value) AS high, min(value) AS low,
      |    last(value ORDER BY ts, event_id) AS close,
      |    count(*) AS n_trades
      |  FROM events GROUP BY 1, 2)""".stripMargin

  // ---------------------------------------------------------------- CCI

  /** Commodity Channel Index over ANY (key, ts, high, low, close) bar
    * table (public operator behind [[graft.Graft.cci]]):
    * cci = (tp − SMA_n(tp)) / (0.015 · MD_n), tp = (h+l+c)/3, where
    * MD_n is the mean absolute deviation of the window's tp values
    * about the window's OWN mean. MD is the one rolling statistic here
    * that no frame sum expresses (|tp_j − sma_i| couples every window
    * element to the current row's mean), so the window's n tp values
    * ride along as a bounded collect_list and MD folds them with
    * `aggregate` — same left fold, same order, in the DuckDB twin
    * (list_reduce over list_transform). Null until the
    * window fills; MD = 0 (flat window) → cci = 0. One window shuffle;
    * per-row state is the n-element array (n = 20 default), constant
    * at any corpus size. */
  def cciOf(bars: DataFrame, key: String, ts: String, high: String,
            low: String, close: String, n: Int = 20): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    val ord = Window.partitionBy(col(key)).orderBy(col(ts))
    val frame = ord.rowsBetween(1 - n, Window.currentRow)
    bars
      .withColumn("__tp", (col(high) + col(low) + col(close)) / 3.0)
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__sma", when(col("__rn") >= n, sum(col("__tp")).over(frame) / n))
      .withColumn("__l", collect_list(col("__tp")).over(frame))
      .withColumn("__md",
        when(col("__rn") >= n,
          aggregate(transform(col("__l"), x => abs(x - col("__sma"))),
            lit(0.0), (acc, x) => acc + x) / n))
      .withColumn("cci",
        when(col("__md") > 0, (col("__tp") - col("__sma")) / (lit(0.015) * col("__md")))
          .otherwise(when(col("__md") === 0.0, lit(0.0))))
      .select(col(key), col(ts), col(close), col("__tp").as("tp"),
        col("__sma").as("sma"), col("__md").as("mean_dev"), col("cci"))
  }

  /** #q70 CCI(20) over the q37 hourly bars. */
  private val q70: Q = (s, dir) =>
    cciOf(hourBars(s, dir), "event_type", "bucket", "high", "low", "close", n = 20)
      .select(col("event_type"), epochMs(col("bucket")).as("bucket_ms"),
        r6(col("tp")).as("tp"), r6(col("sma")).as("sma"),
        r6(col("mean_dev")).as("mean_dev"), r6(col("cci")).as("cci"))
      .orderBy("event_type", "bucket_ms")

  private val q70Sql =
    s"""WITH $barsSqlCte,
       |c AS (
       |  SELECT event_type, bucket, (high + low + close) / 3.0 AS tp,
       |    row_number() OVER o AS rn
       |  FROM b
       |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket)),
       |f AS (
       |  SELECT event_type, bucket, tp, rn,
       |    list(tp) OVER (PARTITION BY event_type ORDER BY bucket
       |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS l
       |  FROM c),
       |g AS (
       |  SELECT event_type, bucket, tp, rn, l,
       |    CASE WHEN rn >= 20 THEN list_reduce(l, (a, b) -> a + b) / 20 END AS sma
       |  FROM f),
       |h AS (
       |  SELECT event_type, bucket, tp, sma,
       |    CASE WHEN rn >= 20 THEN
       |      list_reduce(list_transform(l, x -> abs(x - sma)), (a, v) -> a + v) / 20
       |    END AS md
       |  FROM g)
       |SELECT event_type, epoch_ms(bucket) AS bucket_ms,
       |  round(tp, 6) AS tp, round(sma, 6) AS sma,
       |  round(md, 6) AS mean_dev,
       |  round(CASE WHEN md > 0 THEN (tp - sma) / (0.015 * md)
       |    WHEN md = 0.0 THEN 0.0 END, 6) AS cci
       |FROM h
       |ORDER BY event_type, bucket_ms""".stripMargin

  // ------------------------------------------------------- Williams %R

  /** Williams %R over ANY bar table (public operator behind
    * [[graft.Graft.williamsR]]): %R = −100·(HH_n − close)/(HH_n − LL_n),
    * the inverted stochastic — rolling extrema are exact value picks so
    * every output double is bit-exact. Flat window (HH = LL) → −50;
    * null until the window fills. One window shuffle. */
  def williamsROf(bars: DataFrame, key: String, ts: String, high: String,
                  low: String, close: String, n: Int = 14): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val ord = Window.partitionBy(col(key)).orderBy(col(ts))
    val frame = ord.rowsBetween(-(n - 1), Window.currentRow)
    bars
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__hh", max(col(high)).over(frame))
      .withColumn("__ll", min(col(low)).over(frame))
      .withColumn("williams_r",
        when(col("__rn") >= n,
          when(col("__hh") === col("__ll"), lit(-50.0))
            .otherwise(lit(-100.0) * (col("__hh") - col(close)) / (col("__hh") - col("__ll")))))
      .select(col(key), col(ts), col(close), col("__hh").as("hh"),
        col("__ll").as("ll"), col("williams_r"))
  }

  /** #q71 Williams %R(14) over the q37 hourly bars. */
  private val q71: Q = (s, dir) =>
    williamsROf(hourBars(s, dir), "event_type", "bucket", "high", "low", "close", n = 14)
      .select(col("event_type"), epochMs(col("bucket")).as("bucket_ms"), col("close"),
        r6(col("hh")).as("hh"), r6(col("ll")).as("ll"),
        r6(col("williams_r")).as("williams_r"))
      .orderBy("event_type", "bucket_ms")

  private val q71Sql =
    s"""WITH $barsSqlCte,
       |w AS (
       |  SELECT event_type, bucket, close,
       |    max(high) OVER f AS hh, min(low) OVER f AS ll,
       |    row_number() OVER o AS rn
       |  FROM b
       |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket),
       |    f AS (PARTITION BY event_type ORDER BY bucket
       |          ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
       |SELECT event_type, epoch_ms(bucket) AS bucket_ms, close,
       |  round(hh, 6) AS hh, round(ll, 6) AS ll,
       |  round(CASE WHEN rn >= 14 THEN
       |    CASE WHEN hh = ll THEN -50.0
       |      ELSE -100.0 * (hh - close) / (hh - ll) END
       |  END, 6) AS williams_r
       |FROM w
       |ORDER BY event_type, bucket_ms""".stripMargin

  // ---------------------------------------------------------- Keltner

  /** Keltner channel (Keltner's original 1960 form) over ANY bar table
    * (public operator behind [[graft.Graft.keltner]]): center =
    * SMA_n(tp), band = SMA_n(high − low), upper/lower = center ± band.
    * (The modern EMA±ATR variant is the composition of
    * [[ScanOps.ewmaExactOf]] with [[graft.Graft.atr]] — both exported;
    * the original form keeps the whole channel inside one window pass.)
    * Both rolling means sum the bounded n-row frame — the same
    * oldest-first fold in both engines. Null until the window fills.
    * One window shuffle. */
  def keltnerOf(bars: DataFrame, key: String, ts: String, high: String,
                low: String, close: String, n: Int = 10): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val ord = Window.partitionBy(col(key)).orderBy(col(ts))
    val frame = ord.rowsBetween(1 - n, Window.currentRow)
    bars
      .withColumn("__tp", (col(high) + col(low) + col(close)) / 3.0)
      .withColumn("__rg", col(high) - col(low))
      .withColumn("__rn", row_number().over(ord))
      .withColumn("center", when(col("__rn") >= n, sum(col("__tp")).over(frame) / n))
      .withColumn("band", when(col("__rn") >= n, sum(col("__rg")).over(frame) / n))
      .select(col(key), col(ts), col(close), col("center"),
        (col("center") + col("band")).as("upper"),
        (col("center") - col("band")).as("lower"))
  }

  /** #q72 Keltner(10) over the q37 hourly bars. */
  private val q72: Q = (s, dir) =>
    keltnerOf(hourBars(s, dir), "event_type", "bucket", "high", "low", "close", n = 10)
      .select(col("event_type"), epochMs(col("bucket")).as("bucket_ms"), col("close"),
        r6(col("center")).as("center"), r6(col("upper")).as("upper"),
        r6(col("lower")).as("lower"))
      .orderBy("event_type", "bucket_ms")

  private val q72Sql =
    s"""WITH $barsSqlCte,
       |c AS (
       |  SELECT event_type, bucket, close,
       |    (high + low + close) / 3.0 AS tp, high - low AS rg,
       |    row_number() OVER o AS rn
       |  FROM b
       |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket)),
       |f AS (
       |  SELECT event_type, bucket, close, rn,
       |    list_reduce(list(tp) OVER w, (a, b) -> a + b) AS stp,
       |    list_reduce(list(rg) OVER w, (a, b) -> a + b) AS srg
       |  FROM c
       |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
       |      ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)),
       |g AS (
       |  SELECT event_type, bucket, close,
       |    CASE WHEN rn >= 10 THEN stp / 10 END AS center,
       |    CASE WHEN rn >= 10 THEN srg / 10 END AS band
       |  FROM f)
       |SELECT event_type, epoch_ms(bucket) AS bucket_ms, close,
       |  round(center, 6) AS center,
       |  round(center + band, 6) AS upper,
       |  round(center - band, 6) AS lower
       |FROM g
       |ORDER BY event_type, bucket_ms""".stripMargin

  // -------------------------------------------------------------- MFI

  /** Money Flow Index over ANY bar table with a volume column (public
    * operator behind [[graft.Graft.mfi]]): tp = (h+l+c)/3, raw money
    * flow = tp·vol signed by the tp change; MFI = 100·pos/(pos+neg)
    * over the last n flows. Flow terms are explicit 0.0 (not null)
    * when undefined/flat so the frame fold is the identical op
    * sequence in both engines; rolling sums run over the bounded n-row
    * frame. Null until n flow terms exist (rn ≥ n+1); both-zero
    * window → 50. One window shuffle. */
  def mfiOf(bars: DataFrame, key: String, ts: String, high: String,
            low: String, close: String, vol: String, n: Int = 14): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val ord = Window.partitionBy(col(key)).orderBy(col(ts))
    val frame = ord.rowsBetween(1 - n, Window.currentRow)
    bars
      .withColumn("__tp", (col(high) + col(low) + col(close)) / 3.0)
      .withColumn("__mf", col("__tp") * col(vol).cast("double"))
      .withColumn("__ptp", lag(col("__tp"), 1).over(ord))
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__pos",
        when(col("__ptp").isNotNull && col("__tp") > col("__ptp"), col("__mf"))
          .otherwise(lit(0.0)))
      .withColumn("__neg",
        when(col("__ptp").isNotNull && col("__tp") < col("__ptp"), col("__mf"))
          .otherwise(lit(0.0)))
      .withColumn("__sp", sum(col("__pos")).over(frame))
      .withColumn("__sn", sum(col("__neg")).over(frame))
      .withColumn("mfi",
        when(col("__rn") >= n + 1,
          when(col("__sp") + col("__sn") === 0.0, lit(50.0))
            .otherwise(lit(100.0) * col("__sp") / (col("__sp") + col("__sn")))))
      .select(col(key), col(ts), col(close), col("__tp").as("tp"), col("mfi"))
  }

  /** #q73 MFI(14) over the q37 hourly bars (n_trades volume proxy —
    * see [[hourBars]]). */
  private val q73: Q = (s, dir) =>
    mfiOf(hourBars(s, dir), "event_type", "bucket", "high", "low", "close",
        "n_trades", n = 14)
      .select(col("event_type"), epochMs(col("bucket")).as("bucket_ms"), col("close"),
        r6(col("tp")).as("tp"), r6(col("mfi")).as("mfi"))
      .orderBy("event_type", "bucket_ms")

  private val q73Sql =
    s"""WITH $barsSqlCte,
       |c AS (
       |  SELECT event_type, bucket, close,
       |    (high + low + close) / 3.0 AS tp,
       |    (high + low + close) / 3.0 * CAST(n_trades AS DOUBLE) AS mf,
       |    lag((high + low + close) / 3.0, 1) OVER o AS ptp,
       |    row_number() OVER o AS rn
       |  FROM b
       |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket)),
       |g AS (
       |  SELECT event_type, bucket, close, tp, rn,
       |    list_reduce(list(CASE WHEN ptp IS NOT NULL AND tp > ptp THEN mf ELSE 0.0 END)
       |      OVER w, (a, b) -> a + b) AS sp,
       |    list_reduce(list(CASE WHEN ptp IS NOT NULL AND tp < ptp THEN mf ELSE 0.0 END)
       |      OVER w, (a, b) -> a + b) AS sn
       |  FROM c
       |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
       |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
       |SELECT event_type, epoch_ms(bucket) AS bucket_ms, close,
       |  round(tp, 6) AS tp,
       |  round(CASE WHEN rn >= 15 THEN
       |    CASE WHEN sp + sn = 0.0 THEN 50.0
       |      ELSE 100.0 * sp / (sp + sn) END
       |  END, 6) AS mfi
       |FROM g
       |ORDER BY event_type, bucket_ms""".stripMargin

  // ----------------------------------------------------------- Vortex

  /** Vortex indicator over ANY bar table (public operator behind
    * [[graft.Graft.vortex]]): VM+ = |high − prev_low|, VM− =
    * |low − prev_high|, each summed over the last n bars and divided
    * by the n-bar true-range sum. First bar (no prev) contributes an
    * explicit 0.0 so both engines fold the same sequence; null until
    * n complete pairs exist (rn ≥ n+1); TR sum = 0 → null. One window
    * shuffle, rolling sums over the bounded n-row frame. */
  def vortexOf(bars: DataFrame, key: String, ts: String, high: String,
               low: String, close: String, n: Int = 14): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val ord = Window.partitionBy(col(key)).orderBy(col(ts))
    val frame = ord.rowsBetween(1 - n, Window.currentRow)
    val ph = lag(col(high), 1).over(ord)
    val pl = lag(col(low), 1).over(ord)
    val pc = lag(col(close), 1).over(ord)
    bars
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__vp", when(pl.isNull, lit(0.0)).otherwise(abs(col(high) - pl)))
      .withColumn("__vm", when(ph.isNull, lit(0.0)).otherwise(abs(col(low) - ph)))
      .withColumn("__tr",
        when(pc.isNull, lit(0.0))
          .otherwise(greatest(col(high) - col(low), abs(col(high) - pc), abs(col(low) - pc))))
      .withColumn("__svp", sum(col("__vp")).over(frame))
      .withColumn("__svm", sum(col("__vm")).over(frame))
      .withColumn("__str", sum(col("__tr")).over(frame))
      .withColumn("vi_plus",
        when(col("__rn") >= n + 1 && col("__str") > 0, col("__svp") / col("__str")))
      .withColumn("vi_minus",
        when(col("__rn") >= n + 1 && col("__str") > 0, col("__svm") / col("__str")))
      .select(col(key), col(ts), col(close), col("vi_plus"), col("vi_minus"))
  }

  /** #q74 Vortex(14) over the q37 hourly bars. */
  private val q74: Q = (s, dir) =>
    vortexOf(hourBars(s, dir), "event_type", "bucket", "high", "low", "close", n = 14)
      .select(col("event_type"), epochMs(col("bucket")).as("bucket_ms"), col("close"),
        r6(col("vi_plus")).as("vi_plus"), r6(col("vi_minus")).as("vi_minus"))
      .orderBy("event_type", "bucket_ms")

  private val q74Sql =
    s"""WITH $barsSqlCte,
       |c AS (
       |  SELECT event_type, bucket, close, high, low,
       |    lag(high, 1) OVER o AS ph, lag(low, 1) OVER o AS pl,
       |    lag(close, 1) OVER o AS pc,
       |    row_number() OVER o AS rn
       |  FROM b
       |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket)),
       |d AS (
       |  SELECT event_type, bucket, close, rn,
       |    CASE WHEN pl IS NULL THEN 0.0 ELSE abs(high - pl) END AS vp,
       |    CASE WHEN ph IS NULL THEN 0.0 ELSE abs(low - ph) END AS vm,
       |    CASE WHEN pc IS NULL THEN 0.0
       |      ELSE greatest(high - low, abs(high - pc), abs(low - pc)) END AS tr
       |  FROM c),
       |g AS (
       |  SELECT event_type, bucket, close, rn,
       |    list_reduce(list(vp) OVER w, (a, b) -> a + b) AS svp,
       |    list_reduce(list(vm) OVER w, (a, b) -> a + b) AS svm,
       |    list_reduce(list(tr) OVER w, (a, b) -> a + b) AS str
       |  FROM d
       |  WINDOW w AS (PARTITION BY event_type ORDER BY bucket
       |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
       |SELECT event_type, epoch_ms(bucket) AS bucket_ms, close,
       |  round(CASE WHEN rn >= 15 AND str > 0 THEN svp / str END, 6) AS vi_plus,
       |  round(CASE WHEN rn >= 15 AND str > 0 THEN svm / str END, 6) AS vi_minus
       |FROM g
       |ORDER BY event_type, bucket_ms""".stripMargin

  // ------------------------------------------------------ Chaikin A/D

  /** Chaikin Accumulation/Distribution line over ANY bar table with a
    * volume column (public operator behind [[graft.Graft.chaikinAd]]):
    * money-flow multiplier mfm = ((c−l) − (h−c))/(h−l) (0 on a flat
    * bar), money-flow volume mfv = mfm·vol, A/D = running Σ mfv — the
    * close-location-weighted sibling of q38's OBV. The cumulative sum
    * is the defined-order fold both engines share. One window
    * shuffle, O(1) per row. */
  def chaikinAdOf(bars: DataFrame, key: String, ts: String, high: String,
                  low: String, close: String, vol: String): DataFrame = {
    val ord = Window.partitionBy(col(key)).orderBy(col(ts))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bars
      .withColumn("__mfm",
        when(col(high) === col(low), lit(0.0))
          .otherwise(((col(close) - col(low)) - (col(high) - col(close))) /
            (col(high) - col(low))))
      .withColumn("__mfv", col("__mfm") * col(vol).cast("double"))
      .withColumn("ad", sum(col("__mfv")).over(cum))
      .select(col(key), col(ts), col(close), col("__mfm").as("mfm"), col("ad"))
  }

  /** #q75 Chaikin A/D over the q37 hourly bars (n_trades volume). */
  private val q75: Q = (s, dir) =>
    chaikinAdOf(hourBars(s, dir), "event_type", "bucket", "high", "low", "close",
        "n_trades")
      .select(col("event_type"), epochMs(col("bucket")).as("bucket_ms"), col("close"),
        r6(col("mfm")).as("mfm"), r6(col("ad")).as("ad"))
      .orderBy("event_type", "bucket_ms")

  private val q75Sql =
    s"""WITH $barsSqlCte,
       |c AS (
       |  SELECT event_type, bucket, close,
       |    CASE WHEN high = low THEN 0.0
       |      ELSE ((close - low) - (high - close)) / (high - low) END AS mfm,
       |    CASE WHEN high = low THEN 0.0
       |      ELSE ((close - low) - (high - close)) / (high - low) END
       |      * CAST(n_trades AS DOUBLE) AS mfv
       |  FROM b)
       |SELECT event_type, epoch_ms(bucket) AS bucket_ms, close,
       |  round(mfm, 6) AS mfm,
       |  round(sum(mfv) OVER (PARTITION BY event_type ORDER BY bucket
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS ad
       |FROM c
       |ORDER BY event_type, bucket_ms""".stripMargin

  // ------------------------------------------------------------ Aroon

  /** Aroon up/down over ANY bar table (public operator behind
    * [[graft.Graft.aroon]]): bars since the most recent n-bar
    * high/low (ties → latest occurrence), scaled to
    * 100·(n − bars_since)/n ∈ [100/n, 100]. The window's n extrema
    * candidates ride as a bounded collect_list; the argmax position is
    * array_position over the reversed list (first hit in the reversed
    * list = latest in the window) — the identical list op in the
    * DuckDB twin, no float arithmetic at all until the final scale.
    * Null until the window fills. One window shuffle; per-row state is
    * the n-element array (n = 25 default). */
  def aroonOf(bars: DataFrame, key: String, ts: String, high: String,
              low: String, n: Int = 25): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val ord = Window.partitionBy(col(key)).orderBy(col(ts))
    val frame = ord.rowsBetween(-(n - 1), Window.currentRow)
    bars
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__lh", collect_list(col(high)).over(frame))
      .withColumn("__ll", collect_list(col(low)).over(frame))
      .withColumn("__ph",
        when(col("__rn") >= n,
          array_position(reverse(col("__lh")), array_max(col("__lh")))))
      .withColumn("__pl",
        when(col("__rn") >= n,
          array_position(reverse(col("__ll")), array_min(col("__ll")))))
      .withColumn("bars_since_high", (col("__ph") - 1).cast("long"))
      .withColumn("bars_since_low", (col("__pl") - 1).cast("long"))
      .withColumn("aroon_up",
        (lit(100.0) * (lit(n) - col("bars_since_high"))) / n)
      .withColumn("aroon_down",
        (lit(100.0) * (lit(n) - col("bars_since_low"))) / n)
      .select(col(key), col(ts), col("bars_since_high"), col("bars_since_low"),
        col("aroon_up"), col("aroon_down"))
  }

  /** #q76 Aroon(25) over the q37 hourly bars. */
  private val q76: Q = (s, dir) =>
    aroonOf(hourBars(s, dir), "event_type", "bucket", "high", "low", n = 25)
      .select(col("event_type"), epochMs(col("bucket")).as("bucket_ms"),
        col("bars_since_high"), col("bars_since_low"),
        r6(col("aroon_up")).as("aroon_up"), r6(col("aroon_down")).as("aroon_down"))
      .orderBy("event_type", "bucket_ms")

  private val q76Sql =
    s"""WITH $barsSqlCte,
       |c AS (
       |  SELECT event_type, bucket,
       |    row_number() OVER o AS rn,
       |    list(high) OVER f AS lh, list(low) OVER f AS ll
       |  FROM b
       |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket),
       |    f AS (PARTITION BY event_type ORDER BY bucket
       |          ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)),
       |p AS (
       |  SELECT event_type, bucket,
       |    CASE WHEN rn >= 25 THEN
       |      CAST(list_position(list_reverse(lh), list_max(lh)) - 1 AS BIGINT)
       |    END AS bars_since_high,
       |    CASE WHEN rn >= 25 THEN
       |      CAST(list_position(list_reverse(ll), list_min(ll)) - 1 AS BIGINT)
       |    END AS bars_since_low
       |  FROM c)
       |SELECT event_type, epoch_ms(bucket) AS bucket_ms,
       |  bars_since_high, bars_since_low,
       |  round((100.0 * (25 - bars_since_high)) / 25, 6) AS aroon_up,
       |  round((100.0 * (25 - bars_since_low)) / 25, 6) AS aroon_down
       |FROM p
       |ORDER BY event_type, bucket_ms""".stripMargin

  val queries: Map[String, Q] = Map(
    "q70_cci" -> q70,
    "q71_williams_r" -> q71,
    "q72_keltner" -> q72,
    "q73_mfi" -> q73,
    "q74_vortex" -> q74,
    "q75_chaikin_ad" -> q75,
    "q76_aroon" -> q76)

  val oracle: Map[String, String] = Map(
    "q70_cci" -> q70Sql,
    "q71_williams_r" -> q71Sql,
    "q72_keltner" -> q72Sql,
    "q73_mfi" -> q73Sql,
    "q74_vortex" -> q74Sql,
    "q75_chaikin_ad" -> q75Sql,
    "q76_aroon" -> q76Sql)
}
