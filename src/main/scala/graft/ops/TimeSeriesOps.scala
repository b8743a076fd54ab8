package graft.ops

import graft.{F, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators (SURVEY.md §2 #6-14) — the reference's actual
  * analytics surface re-expressed as single-shuffle window chains.
  *
  * Design stance for 100 TB: every windowed op below shuffles once on its
  * series key (symbol analog), sorts once, and computes O(1)-state frames
  * (rolling sums, lag, last_value). No per-row array materialization, no
  * driver-side loops.
  */
object TimeSeriesOps {
  type Q = (SparkSession, String) => DataFrame
  import Tables.t
  import F._

  /** #6 dedup keep-last by PK — the reference's
    * drop_duplicates(subset=PK, keep='last') after paginated fetch
    * (crypto_data_pipeline_duckdb.py:940-949). */
  private val q06: Q = (s, dir) =>
    graft.Graft.dedupKeepLast(t(s, dir, "events"),
        keys = Seq("user_id", "event_type"), priority = Seq(col("ts"), col("event_id")))
      .select(col("user_id"), col("event_type"), col("event_id"),
        epochMs(col("ts")).as("ts_ms"), col("value"))
      .orderBy("user_id", "event_type")

  private val q06Sql =
    """SELECT user_id, event_type, event_id, epoch_ms(ts) AS ts_ms, value
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, event_type
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** #7 PK upsert: delta batch overrides base — the reference's
    * update_table UPDATE-matched + INSERT-new merge
    * (crypto_data_pipeline_duckdb.py:1546-1594), expressed as a
    * union + keep-highest-priority, one shuffle on the PK. */
  private val q07: Q = (s, dir) => {
    val e = t(s, dir, "events")
    val base = e.filter(pmod(col("event_id"), lit(10L)) < 8)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        col("value"), lit(0).as("batch"))
    val delta = e.filter(pmod(col("event_id"), lit(10L)) >= 5)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"),
        (col("value") + lit(1.0)).as("value"), lit(1).as("batch"))
    val w = Window.partitionBy(col("event_id")).orderBy(col("batch").desc)
    base.unionAll(delta)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("event_id"), col("user_id"), col("event_type"),
        epochMs(col("ts")).as("ts_ms"), col("value"))
      .orderBy("event_id")
  }

  private val q07Sql =
    """WITH base AS (
      |  SELECT event_id, user_id, event_type, ts, value, 0 AS batch
      |  FROM events WHERE event_id % 10 < 8),
      |delta AS (
      |  SELECT event_id, user_id, event_type, ts, value + 1.0 AS value, 1 AS batch
      |  FROM events WHERE event_id % 10 >= 5),
      |u AS (SELECT * FROM base UNION ALL SELECT * FROM delta),
      |r AS (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY batch DESC) AS rn FROM u)
      |SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, value
      |FROM r WHERE rn = 1
      |ORDER BY event_id""".stripMargin

  /** #8 incremental high-watermark: MAX(ts) per series drives the next
    * fetch window (reference get_latest_update,
    * crypto_data_pipeline_duckdb.py:1523-1544). */
  private val q08: Q = (s, dir) =>
    graft.Graft.watermarks(t(s, dir, "events"), "event_type", "ts")
      .select(col("event_type"), epochMs(col("watermark")).as("max_ts_ms"), col("n"))
      .orderBy("event_type")

  private val q08Sql =
    """SELECT event_type, epoch_ms(max(ts)) AS max_ts_ms, count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** #9 time-bucket resample to 1h OHLCV — klines are the reference's core
    * data shape; this rebuilds coarser bars from fine ones. first/last by
    * (ts, event_id) via min_by/max_by (arg_min/arg_max in DuckDB). */
  private val q09: Q = (s, dir) =>
    graft.Graft.resampleOhlc(t(s, dir, "events"), "event_type", "ts", "event_id", "value", "hour")
      .select(col("event_type"), epochMs(col("bucket")).as("bucket_ms"),
        col("open"), col("high"), col("low"), col("close"),
        r4(col("volume")).as("volume"), col("n_trades"))
      .orderBy("event_type", "bucket_ms")

  private val q09Sql =
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

  /** #10 two-table align + ratio — the perp/spot premium
    * (crypto_data_pipeline_duckdb.py:1229-1243): price vs list price. */
  private val q10: Q = (s, dir) => {
    val li = t(s, dir, "lineitem").filter(col("l_quantity") > 0)
    val p = t(s, dir, "part")
    li.join(p, col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_linenumber"), col("p_partkey"),
        r6(col("l_extendedprice") / (col("l_quantity") * col("p_retailprice")) - lit(1.0)).as("premium"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  private val q10Sql =
    """SELECT l_orderkey, l_linenumber, p_partkey,
      |  round(l_extendedprice / (l_quantity * p_retailprice) - 1.0, 6) AS premium
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_quantity > 0
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** #11 WMA(n) — pandas_ta-style linearly-weighted moving average
    * (crypto_data_pipeline_duckdb.py:1246-1263), null until the window is
    * full. [[graft.Graft.wma]] sums over the bounded 12-row frame with
    * frame-relative weights: on one key of 10^6 random-walk rows near 50
    * it stays within 1.9e-15 relative of a direct convolution, where a
    * running-sum difference (cum − lag(cum, 12)) drifts to 2.4e-5 and
    * misses this oracle at sf0.1; the window step costs 1.6–2.9 s
    * against the difference's 1.0–1.4 s at local[4]. The oracle is the direct definition — a left fold of
    * x·i, i = 1..12, over each row's frame list — so it shares nothing
    * with graft's algebra; the two agree to ~1e-15 relative, far inside
    * the r6 rounding. */
  private val q11: Q = (s, dir) =>
    graft.Graft.wma(t(s, dir, "events"), "event_type", "ts", "event_id", "value", n = 12)
      .select(col("event_type"), col("event_id"), epochMs(col("ts")).as("ts_ms"), col("value"),
        r6(col("wma")).as("wma12"))
      .orderBy("event_type", "ts_ms", "event_id")

  private val q11Sql =
    """WITH f AS (
      |  SELECT event_type, event_id, ts, value,
      |    row_number() OVER o AS rn,
      |    list(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
      |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS l
      |  FROM events
      |  WINDOW o AS (PARTITION BY event_type ORDER BY ts, event_id))
      |SELECT event_type, event_id, epoch_ms(ts) AS ts_ms, value,
      |  round(CASE WHEN rn >= 12 THEN
      |    list_reduce(list_transform(l, (x, i) -> x * CAST(i AS DOUBLE)), (a, b) -> a + b) / 78.0
      |  END, 6) AS wma12
      |FROM f
      |ORDER BY event_type, ts_ms, event_id""".stripMargin

  /** #12 extreme-move detection — port of the reference's
    * get_extreme_cases (crypto_data_pipeline_duckdb.py:1720-1764):
    * LAG(x, k) change threshold, then a debounce on the gap between
    * consecutive candidates, newest first, head(10). */
  private val q12: Q = (s, dir) => {
    val k = 5
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val cand = t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), k).over(w))
      .withColumn("prev_value", lag(col("value"), k).over(w))
      .withColumn("value_change", col("value") - col("prev_value"))
      .filter(col("value_change") < lit(-400.0))
    val wd = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    cand
      .withColumn("gap_ms", epochMs(col("ts")) - epochMs(lag(col("ts"), 1).over(wd)))
      .filter(col("gap_ms").isNull || col("gap_ms") > lit(3600000L))
      .select(col("event_type"), col("event_id"), epochMs(col("ts")).as("ts_ms"),
        // the reference localizes the event time to Asia/Shanghai for its
        // report (fundingTime_cn, crypto_data_pipeline_duckdb.py:1762) —
        // same instant re-expressed as the CST wall clock, epoch-ms per §5
        epochMs(from_utc_timestamp(col("ts"), "Asia/Shanghai")).as("ts_cn_ms"),
        epochMs(col("prev_ts")).as("prev_ts_ms"), col("value"), col("prev_value"),
        r6(col("value_change")).as("value_change"), col("gap_ms"))
      .orderBy(col("ts_ms").desc, col("event_id"))
      .limit(10)
  }

  private val q12Sql =
    """WITH prep AS (
      |  SELECT event_type, event_id, ts, value,
      |    lag(ts, 5) OVER w AS prev_ts,
      |    lag(value, 5) OVER w AS prev_value
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)),
      |cand AS (
      |  SELECT *, value - prev_value AS value_change
      |  FROM prep WHERE value - prev_value < -400.0),
      |deb AS (
      |  SELECT *,
      |    epoch_ms(ts) - epoch_ms(lag(ts, 1) OVER (PARTITION BY event_type
      |      ORDER BY ts, event_id)) AS gap_ms
      |  FROM cand)
      |SELECT event_type, event_id, epoch_ms(ts) AS ts_ms,
      |  epoch_ms(timezone('Asia/Shanghai', timezone('UTC', ts))) AS ts_cn_ms,
      |  epoch_ms(prev_ts) AS prev_ts_ms,
      |  value, prev_value, round(value_change, 6) AS value_change, gap_ms
      |FROM deb
      |WHERE gap_ms IS NULL OR gap_ms > 3600000
      |ORDER BY ts_ms DESC, event_id
      |LIMIT 10""".stripMargin

  /** #13 as-of join: for each purchase, the latest view by the same user
    * at or before the purchase time. Spark lacks ASOF JOIN; this is the
    * union + carry-last-non-null plan — ONE shuffle on the series key,
    * one sort, no range explosion (the scalable as-of pattern).
    * Oracle uses DuckDB's native ASOF LEFT JOIN. */
  /** Shared as-of core: every purchase row annotated with the latest
    * view at-or-before it, via the generic [[graft.Graft.asofJoin]]
    * (right side made unique per (user_id, ts) first). */
  private def asofMatched(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events")
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("v_event_id"), max_by(col("value"), col("event_id")).as("v_value"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("p_event_id"), col("value").as("p_value"))
    graft.Graft.asofJoin(purchases, views, "user_id", "ts", Seq("v_event_id", "v_value"))
  }

  private val q13: Q = (s, dir) =>
    asofMatched(s, dir)
      .select(col("p_event_id"), col("user_id"), epochMs(col("ts")).as("p_ts_ms"),
        col("v_event_id"), epochMs(col("asof_ts")).as("v_ts_ms"), col("v_value"))
      .orderBy("p_event_id")

  /** #q65 FORWARD as-of: each purchase joined to the EARLIEST view
    * at-or-after it — the label-join direction (next observation
    * after an event; pandas merge_asof direction='forward'); same
    * union+carry single-shuffle plan as q13 with the frame
    * reversed. */
  private val q65: Q = (s, dir) => {
    val e = t(s, dir, "events")
    val views = e.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("v_event_id"),
        max_by(col("value"), col("event_id")).as("v_value"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("p_event_id"))
    graft.Graft.asofJoin(purchases, views, "user_id", "ts",
        Seq("v_event_id", "v_value"), direction = "forward")
      .select(col("p_event_id"), col("user_id"), epochMs(col("ts")).as("p_ts_ms"),
        col("v_event_id"), epochMs(col("asof_ts")).as("v_ts_ms"), col("v_value"))
      .orderBy("p_event_id")
  }

  private val q65Sql =
    """WITH v AS (
      |  SELECT user_id, ts, max(event_id) AS v_event_id,
      |    arg_max(value, event_id) AS v_value
      |  FROM events WHERE event_type = 'view'
      |  GROUP BY user_id, ts),
      |p AS (
      |  SELECT user_id, ts, event_id
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id AS p_event_id, p.user_id AS user_id, epoch_ms(p.ts) AS p_ts_ms,
      |  v.v_event_id AS v_event_id, epoch_ms(v.ts) AS v_ts_ms, v.v_value AS v_value
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts <= v.ts
      |ORDER BY p_event_id""".stripMargin

  private val q13Sql =
    """WITH v AS (
      |  SELECT user_id, ts, max(event_id) AS v_event_id,
      |    arg_max(value, event_id) AS v_value
      |  FROM events WHERE event_type = 'view'
      |  GROUP BY user_id, ts),
      |p AS (
      |  SELECT user_id, ts, event_id, value
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.event_id AS p_event_id, p.user_id AS user_id, epoch_ms(p.ts) AS p_ts_ms,
      |  v.v_event_id AS v_event_id, epoch_ms(v.ts) AS v_ts_ms, v.v_value AS v_value
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p_event_id""".stripMargin

  /** #14 gap sessionization (30 min): running sum over new-session flags —
    * generalizes the reference's gap debounce into session windows. */
  private val q14: Q = (s, dir) => {
    graft.Graft.sessionize(t(s, dir, "events"), "user_id", "ts", "event_id", "value",
        gapMs = 1800000L)
      .select(col("user_id"), col("session_id"),
        epochMs(col("start_ts")).as("start_ms"), epochMs(col("end_ts")).as("end_ms"),
        col("n_events"), r4(col("total_value")).as("total_value"))
      .orderBy("user_id", "session_id")
  }

  private val q14Sql =
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
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM f)
      |SELECT user_id, session_id, epoch_ms(min(ts)) AS start_ms, epoch_ms(max(ts)) AS end_ms,
      |  count(*) AS n_events, round(sum(value), 4) AS total_value
      |FROM s
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** #12b rolling correlation: Pearson corr between a series and its
    * 1-step lag over a 20-row window per key — the premium analytics'
    * natural next step (autocorrelation of the signal the reference
    * computes WMAs over). Formulated as five sums over the bounded
    * 20-row frame on one PARTITION BY key ORDER BY ts window chain —
    * one shuffle, the sort reused by the lag and every frame; corr
    * assembled from the sums in closed form
    * (n·Σxy − ΣxΣy)/(√(n·Σx²−(Σx)²)·√(n·Σy²−(Σy)²)), the same
    * arithmetic the oracle runs over the same oldest-first frame folds
    * (`list_reduce`), so no covariance-algorithm divergence. Every input row appears in the output; corr is null
    * until the window is full (including the first row per key, which
    * has no lag pair) and on degenerate zero variance, guarded
    * identically on both sides. */
  private val q21: Q = (s, dir) =>
    graft.Graft.rollingAutoCorr(t(s, dir, "events"), "event_type", "ts", "event_id", "value", n = 20)
      .select(col("event_type"), col("event_id"), epochMs(col("ts")).as("ts_ms"),
        r6(col("corr")).as("corr20"))
      .orderBy("event_type", "ts_ms", "event_id")

  private val q21Sql =
    """WITH l AS (
      |  SELECT event_type, event_id, ts, value,
      |    lag(value) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS y
      |  FROM events),
      |p AS (
      |  SELECT *, CASE WHEN y IS NOT NULL THEN value END AS x FROM l),
      |w AS (
      |  SELECT event_type, event_id, ts,
      |    count(y) OVER c AS rn,
      |    list_reduce(list(x) FILTER (WHERE x IS NOT NULL) OVER f, (a, b) -> a + b) AS sx,
      |    list_reduce(list(y) FILTER (WHERE y IS NOT NULL) OVER f, (a, b) -> a + b) AS sy,
      |    list_reduce(list(x * y) FILTER (WHERE x IS NOT NULL) OVER f, (a, b) -> a + b) AS sxy,
      |    list_reduce(list(x * x) FILTER (WHERE x IS NOT NULL) OVER f, (a, b) -> a + b) AS sx2,
      |    list_reduce(list(y * y) FILTER (WHERE y IS NOT NULL) OVER f, (a, b) -> a + b) AS sy2
      |  FROM p
      |  WINDOW c AS (PARTITION BY event_type ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    f AS (PARTITION BY event_type ORDER BY ts, event_id
      |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
      |SELECT event_type, event_id, epoch_ms(ts) AS ts_ms,
      |  round(CASE WHEN rn >= 20 AND 20 * sx2 - sx * sx > 0 AND 20 * sy2 - sy * sy > 0
      |    THEN (20 * sxy - sx * sy) / (sqrt(20 * sx2 - sx * sx) * sqrt(20 * sy2 - sy * sy)) END, 6) AS corr20
      |FROM w
      |ORDER BY event_type, ts_ms, event_id""".stripMargin

  /** #12c time-gap detection — port of the reference's `validate_data`
    * completeness check (crypto_data_pipline_clickhouse.py:1920-1953):
    * per series, lead(ts) finds each bar's successor; gaps larger than
    * the expected interval are reported largest-first. One window
    * shuffle on the series key; the filter drops the dense majority
    * before anything else materializes, so at 100 TB the report stays
    * tiny regardless of input size. */
  private val q22: Q = (s, dir) =>
    // expected cadence ~minutes; report > 2h holes
    graft.Graft.gaps(t(s, dir, "events"), "event_type", "ts", "event_id", minGapMs = 7200000L)
      .orderBy(col("gap_ms").desc, col("event_type"), col("gap_start_ms"))

  private val q22Sql =
    """WITH d AS (
      |  SELECT event_type, epoch_ms(ts) AS ms,
      |    lead(epoch_ms(ts)) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS next_ms
      |  FROM events)
      |SELECT event_type, ms AS gap_start_ms, next_ms AS gap_end_ms, next_ms - ms AS gap_ms
      |FROM d
      |WHERE next_ms IS NOT NULL AND next_ms - ms > 7200000
      |ORDER BY gap_ms DESC, event_type, gap_start_ms""".stripMargin

  /** #13b as-of join with a staleness TOLERANCE: a match older than 1h
    * counts as no match — the market-data form (a quote that old is not
    * a usable reference price). Same single-shuffle union+carry plan as
    * q13; the tolerance is a post-projection mask, not a range join, so
    * the scale shape is unchanged. DuckDB ASOF JOIN + the same CASE. */
  private val q23: Q = (s, dir) => {
    val tolMs = 3600000L
    asofMatched(s, dir)
      .withColumn("ok", col("v_event_id").isNotNull &&
        (epochMs(col("ts")) - epochMs(col("asof_ts"))) <= tolMs)
      .select(col("p_event_id"), col("user_id"), epochMs(col("ts")).as("p_ts_ms"),
        when(col("ok"), col("v_event_id")).as("v_event_id"),
        when(col("ok"), epochMs(col("asof_ts"))).as("v_ts_ms"),
        when(col("ok"), col("v_value")).as("v_value"),
        when(col("ok"), epochMs(col("ts")) - epochMs(col("asof_ts"))).as("stale_ms"))
      .orderBy("p_event_id")
  }

  private val q23Sql =
    """WITH v AS (
      |  SELECT user_id, ts, max(event_id) AS v_event_id,
      |    arg_max(value, event_id) AS v_value
      |  FROM events WHERE event_type = 'view'
      |  GROUP BY user_id, ts),
      |p AS (
      |  SELECT user_id, ts, event_id, value
      |  FROM events WHERE event_type = 'purchase'),
      |j AS (
      |  SELECT p.event_id AS p_event_id, p.user_id AS user_id, p.ts AS p_ts,
      |    v.v_event_id, v.ts AS v_ts, v.v_value,
      |    epoch_ms(p.ts) - epoch_ms(v.ts) <= 3600000 AS ok
      |  FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts)
      |SELECT p_event_id, user_id, epoch_ms(p_ts) AS p_ts_ms,
      |  CASE WHEN ok THEN v_event_id END AS v_event_id,
      |  CASE WHEN ok THEN epoch_ms(v_ts) END AS v_ts_ms,
      |  CASE WHEN ok THEN v_value END AS v_value,
      |  CASE WHEN ok THEN epoch_ms(p_ts) - epoch_ms(v_ts) END AS stale_ms
      |FROM j
      |ORDER BY p_event_id""".stripMargin

  /** #13c range (interval) join: views inside each purchase's 4-hour
    * follow-up window, aggregated per purchase — the market-data
    * "activity inside an event window" shape. Spark plans a raw
    * inequality join as a BroadcastNestedLoopJoin (cross product at
    * scale); [[graft.Graft.rangeJoin]] turns it into a bin equi-join:
    * intervals explode into the 1-hour buckets they cover (≤ 5 here),
    * each view lands in exactly one bucket, and the join shuffles on
    * (user, bucket) like any equi-join — co-partitioned, AQE-skew-
    * splittable, no pair dedup needed. DuckDB's optimizer does the
    * equivalent with its native IEJoin, so the oracle is the plain
    * inequality form. */
  private val q26: Q = (s, dir) => {
    val e = t(s, dir, "events")
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("v_event_id"),
        col("value").as("v_value"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_event_id"),
        col("ts").as("p_start"),
        (col("ts") + expr("INTERVAL 4 HOURS")).as("p_end"))
    graft.Graft.rangeJoin(views, purchases, "user_id", "ts", "p_start", "p_end",
        bucketMs = 3600000L)
      .groupBy(col("p_event_id"), col("user_id"), col("p_start"))
      .agg(count(lit(1)).as("n_views"), sum(col("v_value")).as("view_value"))
      .select(col("p_event_id"), col("user_id"), epochMs(col("p_start")).as("p_ts_ms"),
        col("n_views"), r4(col("view_value")).as("view_value"))
      .orderBy("p_event_id")
  }

  private val q26Sql =
    """WITH p AS (
      |  SELECT event_id AS p_event_id, user_id, ts AS p_ts
      |  FROM events WHERE event_type = 'purchase'),
      |v AS (
      |  SELECT event_id, user_id, ts, value
      |  FROM events WHERE event_type = 'view')
      |SELECT p.p_event_id AS p_event_id, p.user_id AS user_id, epoch_ms(p.p_ts) AS p_ts_ms,
      |  count(*) AS n_views, round(sum(v.value), 4) AS view_value
      |FROM p JOIN v
      |  ON p.user_id = v.user_id AND v.ts >= p.p_ts AND v.ts < p.p_ts + INTERVAL 4 HOUR
      |GROUP BY 1, 2, 3
      |ORDER BY p_event_id""".stripMargin

  /** #12d gap FILL — the heal step after q22's gap DETECTION (the
    * reference's validate/repair cycle): densify each series onto its
    * hourly grid and forward-fill the close into missing bars,
    * flagging synthesized rows. DuckDB mirrors with generate_series +
    * last_value IGNORE NULLS over the same frame. */
  private val q27: Q = (s, dir) => {
    val bars = graft.Graft.resampleOhlc(t(s, dir, "events"),
        "event_type", "ts", "event_id", "value", "hour")
      .select(col("event_type"), col("bucket"), col("close"))
    graft.Graft.fillGaps(bars, "event_type", "bucket", "close")
      .select(col("event_type"), epochMs(col("bucket")).as("bucket_ms"),
        r4(col("close")).as("close"), col("is_filled"))
      .orderBy("event_type", "bucket_ms")
  }

  private val q27Sql =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    last(value ORDER BY ts, event_id) AS close
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, min(bucket) AS mn, max(bucket) AS mx FROM b GROUP BY 1),
      |g AS (SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket FROM r),
      |j AS (SELECT g.event_type, g.bucket, b.close
      |  FROM g LEFT JOIN b ON g.event_type = b.event_type AND g.bucket = b.bucket)
      |SELECT event_type, epoch_ms(bucket) AS bucket_ms,
      |  round(last_value(close IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS close,
      |  close IS NULL AS is_filled
      |FROM j
      |ORDER BY event_type, bucket_ms""".stripMargin

  /** #12e linear-interpolation heal — q27's other fill mode: missing
    * bars take the time-weighted value between the surrounding
    * observations (forward fill past the last). Both fill windows
    * share ONE ascending partition sort (the look-ahead uses a
    * CURRENT ROW..UNBOUNDED FOLLOWING frame — no reverse sort). */
  private val q29: Q = (s, dir) => {
    val bars = graft.Graft.resampleOhlc(t(s, dir, "events"),
        "event_type", "ts", "event_id", "value", "hour")
      .select(col("event_type"), col("bucket"), col("close"))
    graft.Graft.fillGaps(bars, "event_type", "bucket", "close", mode = "linear")
      .select(col("event_type"), epochMs(col("bucket")).as("bucket_ms"),
        r4(col("close")).as("close"), col("is_filled"))
      .orderBy("event_type", "bucket_ms")
  }

  private val q29Sql =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    last(value ORDER BY ts, event_id) AS close
      |  FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, min(bucket) AS mn, max(bucket) AS mx FROM b GROUP BY 1),
      |g AS (SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS bucket FROM r),
      |j AS (SELECT g.event_type, g.bucket, b.close
      |  FROM g LEFT JOIN b ON g.event_type = b.event_type AND g.bucket = b.bucket),
      |f AS (
      |  SELECT event_type, bucket, close, close IS NULL AS is_filled,
      |    epoch_ms(bucket) AS ms,
      |    last_value(close IGNORE NULLS) OVER back AS pv,
      |    last_value(CASE WHEN close IS NOT NULL THEN epoch_ms(bucket) END IGNORE NULLS) OVER back AS pt,
      |    first_value(close IGNORE NULLS) OVER fwd AS nv,
      |    first_value(CASE WHEN close IS NOT NULL THEN epoch_ms(bucket) END IGNORE NULLS) OVER fwd AS nt
      |  FROM j
      |  WINDOW back AS (PARTITION BY event_type ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    fwd AS (PARTITION BY event_type ORDER BY bucket
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT event_type, epoch_ms(bucket) AS bucket_ms,
      |  round(CASE WHEN NOT is_filled THEN close
      |    WHEN nv IS NULL THEN pv
      |    ELSE pv + (nv - pv) * (ms - pt) / (nt - pt) END, 4) AS close,
      |  is_filled
      |FROM f
      |ORDER BY event_type, bucket_ms""".stripMargin

  /** CUSUM changepoint detection per series (public operator behind
    * [[graft.Graft.cusum]]): S_i = Σ_{j≤i} (y_j − μ) over time order —
    * the classic offline CUSUM statistic; the changepoint is the row
    * maximizing |S| (total (|S| desc, ts, id) tie-break, so both
    * engines pick the same row), `score` is |S| normalized by σ·√n
    * (Page's statistic shape) — comparable across series. The mean-drift
    * detector a data pipeline points at ingest volumes and quality
    * metrics, not just prices.
    *
    * Exactness: μ and σ derive from cumulative folds taken at the last
    * row (never unordered hash-agg sums of doubles — the q33 rule), S
    * is itself a cumulative fold of (y − μ). Two window passes over one
    * series-key shuffle + a series-sized stats join; O(1) state/row.
    * Degenerate series (σ = 0) yield null score. */
  def cusumOf(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
              valueCol: String): DataFrame = {
    val base = df.select(col(keyCol).as("__k"), col(tsCol).as("__t"),
      col(idCol).as("__id"), col(valueCol).cast("double").as("__y"))
    val wOrd = Window.partitionBy(col("__k")).orderBy(col("__t"), col("__id"))
    val cum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val stats = base
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("__k"))))
      .withColumn("cy", sum(col("__y")).over(cum))
      .withColumn("cyy", sum(col("__y") * col("__y")).over(cum))
      .filter(col("rn") === col("n"))
      .select(col("__k"), col("n"), col("cy").as("ty"), col("cyy").as("tyy"))
    val mu = col("ty") / col("n")
    val s = base.join(stats, "__k")
      .withColumn("s", sum(col("__y") - mu).over(cum))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("__k")).orderBy(abs(col("s")).desc, col("__t"), col("__id"))))
      .filter(col("rk") === 1)
    val variance = col("tyy") / col("n") - mu * mu
    s.select(col("__k").as("series"), col("n").as("n_rows"),
      col("__t").as("cp_ts"), col("__id").as("cp_id"), col("s").as("cusum"),
      when(variance > 0,
        abs(col("s")) / (sqrt(variance) * sqrt(col("n").cast("double")))).as("score"))
  }

  /** Hour-of-day seasonal profile per series (public operator behind
    * [[graft.Graft.seasonality]]): per (series, hour 0-23) the event
    * count, mean value, and the ratio of the hour's mean to the
    * series-wide mean — the diurnal-shape fingerprint that separates
    * "traffic doubles at 14:00" from noise, and the baseline a
    * streaming anomaly gate divides by.
    *
    * Exactness: hour sums are cumulative folds taken at each (series,
    * hour)'s last row; the series total is a second cumulative fold
    * over the ≤24 hour rows in hour order — every double the same
    * defined-order fold in both engines. Two window passes, the second
    * over ≤24 rows/series; one shuffle on (series, hour) + one on
    * series. */
  def seasonalityOf(df: DataFrame, keyCol: String, tsCol: String, idCol: String,
                    valueCol: String): DataFrame = {
    val base = df.select(col(keyCol).as("__k"), hour(col(tsCol)).as("hod"),
      col(tsCol).as("__t"), col(idCol).as("__id"), col(valueCol).cast("double").as("__y"))
    val wH = Window.partitionBy(col("__k"), col("hod")).orderBy(col("__t"), col("__id"))
    val cumH = wH.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hodRows = base
      .withColumn("rn", row_number().over(wH))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("__k"), col("hod"))))
      .withColumn("sy", sum(col("__y")).over(cumH))
      .filter(col("rn") === col("n"))
      .select(col("__k"), col("hod"), col("n"), col("sy"))
    val wK = Window.partitionBy(col("__k")).orderBy(col("hod"))
    val cumK = wK.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = hodRows
      .withColumn("hrn", row_number().over(wK))
      .withColumn("hn", count(lit(1)).over(Window.partitionBy(col("__k"))))
      .withColumn("tot", sum(col("sy")).over(cumK))
      .withColumn("ntot", sum(col("n")).over(cumK))
      .filter(col("hrn") === col("hn"))
      .select(col("__k"), col("tot"), col("ntot"))
    val mean = col("sy") / col("n")
    val gmean = col("tot") / col("ntot")
    hodRows.join(totals, "__k")
      .select(col("__k").as("series"), col("hod"), col("n").as("n_events"),
        mean.as("mean_value"),
        when(col("tot") =!= 0, mean / gmean).as("ratio"))
  }

  /** #q53 CUSUM changepoint per event series. */
  private val q53: Q = (s, dir) =>
    cusumOf(t(s, dir, "events"), "event_type", "ts", "event_id", "value")
      .select(col("series"), col("n_rows"), epochMs(col("cp_ts")).as("cp_ms"),
        col("cp_id"), r6(col("cusum")).as("cusum"), r6(col("score")).as("score"))
      .orderBy("series")

  private val q53Sql =
    """WITH c AS (
      |  SELECT event_type, event_id, ts, value,
      |    row_number() OVER o AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n,
      |    sum(value) OVER w AS cy,
      |    sum(value * value) OVER w AS cyy
      |  FROM events
      |  WINDOW o AS (PARTITION BY event_type ORDER BY ts, event_id),
      |    w AS (PARTITION BY event_type ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |st AS (SELECT event_type, n, cy AS ty, cyy AS tyy FROM c WHERE rn = n),
      |d AS (
      |  SELECT e.event_type, e.event_id, e.ts, st.n, st.ty, st.tyy,
      |    sum(e.value - st.ty / st.n) OVER (
      |      PARTITION BY e.event_type ORDER BY e.ts, e.event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      |  FROM events e JOIN st ON e.event_type = st.event_type),
      |r AS (SELECT *, row_number() OVER (
      |    PARTITION BY event_type ORDER BY abs(s) DESC, ts, event_id) AS rk
      |  FROM d)
      |SELECT event_type AS series, n AS n_rows, epoch_ms(ts) AS cp_ms,
      |  event_id AS cp_id, round(s, 6) AS cusum,
      |  round(CASE WHEN tyy / n - (ty / n) * (ty / n) > 0
      |    THEN abs(s) / (sqrt(tyy / n - (ty / n) * (ty / n)) * sqrt(CAST(n AS DOUBLE)))
      |    END, 6) AS score
      |FROM r WHERE rk = 1
      |ORDER BY series""".stripMargin

  /** #q54 hour-of-day seasonal profile per event series. */
  private val q54: Q = (s, dir) =>
    seasonalityOf(t(s, dir, "events"), "event_type", "ts", "event_id", "value")
      .select(col("series"), col("hod"), col("n_events"),
        r6(col("mean_value")).as("mean_value"), r6(col("ratio")).as("ratio"))
      .orderBy("series", "hod")

  private val q54Sql =
    """WITH h AS (
      |  SELECT event_type, hour(ts) AS hod, event_id, ts, value,
      |    row_number() OVER o AS rn,
      |    count(*) OVER (PARTITION BY event_type, hour(ts)) AS n,
      |    sum(value) OVER w AS sy
      |  FROM events
      |  WINDOW o AS (PARTITION BY event_type, hour(ts) ORDER BY ts, event_id),
      |    w AS (PARTITION BY event_type, hour(ts) ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |hr AS (SELECT event_type, hod, n, sy FROM h WHERE rn = n),
      |tk AS (
      |  SELECT event_type, hod, n, sy,
      |    row_number() OVER o2 AS hrn,
      |    count(*) OVER (PARTITION BY event_type) AS hn,
      |    sum(sy) OVER w2 AS tot,
      |    sum(n) OVER w2 AS ntot
      |  FROM hr
      |  WINDOW o2 AS (PARTITION BY event_type ORDER BY hod),
      |    w2 AS (PARTITION BY event_type ORDER BY hod
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |tt AS (SELECT event_type, tot, ntot FROM tk WHERE hrn = hn)
      |SELECT hr.event_type AS series, hr.hod, hr.n AS n_events,
      |  round(hr.sy / hr.n, 6) AS mean_value,
      |  round(CASE WHEN tt.tot <> 0
      |    THEN (hr.sy / hr.n) / (tt.tot / tt.ntot) END, 6) AS ratio
      |FROM hr JOIN tt ON hr.event_type = tt.event_type
      |ORDER BY series, hod""".stripMargin

  /** Seasonal-residual anomaly detection (public operator behind
    * [[graft.Graft.seasonalAnomalies]]) — what [[seasonalityOf]]'s
    * baseline exists FOR: a raw threshold on a diurnal metric fires
    * every peak hour, so first subtract the (series, hour-of-day)
    * expected value, then flag rows whose RESIDUAL is a robust
    * outlier within its series (the q48 med/MAD rule — thresholds the
    * anomalies themselves cannot drag). Emits only the flagged rows:
    * value, expected, residual, signed robust_z (direction: spike vs
    * drop; null when MAD = 0 — then any deviation from the median
    * residual flags).
    *
    * Exactness: the baseline mean is [[seasonalityOf]]'s cumulative
    * fold (bit-deterministic), residuals are per-row arithmetic on it,
    * med/MAD are exact interpolated percentiles (q20 parity) — so the
    * flag boundary is the identical IEEE comparison in both engines.
    *
    * Scale: the baseline (≤ 24·|series| rows) and the two percentile
    * tables (|series| rows) all broadcast; the fact side is never
    * shuffled on a non-key — one (series, hod) window pass + two
    * percentile aggs. The composition re-reads the fact scan per
    * stage (five scans total — scans are the cheap axis; the ×10
    * probe runs 4.2× wall at 10× volume): at 100 TB persist the
    * residual frame between the med/MAD passes if scan bandwidth is
    * the binding constraint, and swap `approx_percentile` for the
    * exact med/MAD (q20's documented trade). */
  def seasonalAnomaliesOf(df: DataFrame, keyCol: String, tsCol: String,
                          idCol: String, valueCol: String,
                          k: Double = 3.0): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val baseline = seasonalityOf(df, keyCol, tsCol, idCol, valueCol)
      .select(col("series").as("__k"), col("hod"),
        col("mean_value").as("expected"))
    val joined = df
      .select(col(keyCol).as("__k"), col(tsCol).as("__t"),
        col(idCol).as("__id"), col(valueCol).cast("double").as("__y"),
        hour(col(tsCol)).as("hod"))
      .join(broadcast(baseline), Seq("__k", "hod"))
      .withColumn("residual", col("__y") - col("expected"))
    val med = joined.groupBy(col("__k"))
      .agg(expr("percentile(residual, 0.5D)").as("__med"))
    val dev = joined.join(broadcast(med), Seq("__k"))
      .withColumn("__absdev", abs(col("residual") - col("__med")))
    val mad = dev.groupBy(col("__k"))
      .agg(expr("percentile(__absdev, 0.5D)").as("__mad"))
    dev.join(broadcast(mad), Seq("__k"))
      .withColumn("is_anomaly",
        when(col("__mad") > 0.0,
          col("__absdev") > (lit(k) * lit(1.4826)) * col("__mad"))
          .otherwise(col("residual") =!= col("__med")))
      .filter(col("is_anomaly"))
      .select(col("__k").as("series"), col("__t").as("ts"),
        col("__id").as("id"), col("__y").as("value"),
        col("expected"), col("residual"),
        when(col("__mad") > 0.0,
          (col("residual") - col("__med")) / (lit(1.4826) * col("__mad")))
          .as("robust_z"))
  }

  /** #q61 seasonal-residual anomalies over events.value at k = 3:
    * the continuous-metric alarm row q54's baseline and q48's robust
    * z exist to feed. */
  private val q61: Q = (s, dir) =>
    seasonalAnomaliesOf(t(s, dir, "events"), "event_type", "ts", "event_id",
        "value", k = 3.0)
      .select(col("series"), epochMs(col("ts")).as("ts_ms"), col("id"),
        col("value"), r6(col("expected")).as("expected"),
        r6(col("residual")).as("residual"), r6(col("robust_z")).as("robust_z"))
      .orderBy("series", "ts_ms", "id")

  private val q61Sql =
    """WITH h AS (
      |  SELECT event_type, hour(ts) AS hod,
      |    row_number() OVER o AS rn,
      |    count(*) OVER (PARTITION BY event_type, hour(ts)) AS n,
      |    sum(value) OVER w AS sy
      |  FROM events
      |  WINDOW o AS (PARTITION BY event_type, hour(ts) ORDER BY ts, event_id),
      |    w AS (PARTITION BY event_type, hour(ts) ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |b AS (SELECT event_type, hod, sy / n AS expected FROM h WHERE rn = n),
      |r AS (
      |  SELECT e.event_type, e.ts, e.event_id, e.value, b.expected,
      |    e.value - b.expected AS residual
      |  FROM events e JOIN b
      |    ON e.event_type = b.event_type AND hour(e.ts) = b.hod),
      |m AS (
      |  SELECT event_type, quantile_cont(residual, 0.5) AS med
      |  FROM r GROUP BY event_type),
      |d AS (
      |  SELECT r.*, m.med, abs(r.residual - m.med) AS absdev
      |  FROM r JOIN m USING (event_type)),
      |md AS (
      |  SELECT event_type, quantile_cont(absdev, 0.5) AS mad
      |  FROM d GROUP BY event_type)
      |SELECT d.event_type AS series, epoch_ms(d.ts) AS ts_ms,
      |  d.event_id AS id, d.value,
      |  round(d.expected, 6) AS expected, round(d.residual, 6) AS residual,
      |  round(CASE WHEN md.mad > 0.0
      |    THEN (d.residual - d.med) / (1.4826 * md.mad) END, 6) AS robust_z
      |FROM d JOIN md USING (event_type)
      |WHERE CASE WHEN md.mad > 0.0 THEN absdev > (3.0 * 1.4826) * md.mad
      |  ELSE d.residual <> d.med END
      |ORDER BY series, ts_ms, id""".stripMargin

  /** Classical additive seasonal decomposition (public operator behind
    * [[graft.Graft.decompose]]): per (series, bucket) —
    *   trend     centered moving average over `window` buckets (odd):
    *             a sum over the bounded frame [t−h, t+h], null within
    *             half a window of either edge;
    *   seasonal  the hour-of-day mean of the DETRENDED series (the
    *             q54 cumulative-fold-at-last-row rule — q61 subtracts
    *             raw hour means; detrending first is what separates a
    *             drifting level from its diurnal shape);
    *   residual  value − trend − seasonal — what's left for an
    *             anomaly rule once level and season are explained.
    * One shuffle on the series key: both window passes and the
    * (series, hod) cell fold reuse its partitioning
    * (ClusteredDistribution — hash(key) co-locates every cell). */
  def decomposeOf(df: DataFrame, keyCol: String, tsCol: String,
                  valueCol: String, window: Int): DataFrame = {
    require(window >= 3 && window % 2 == 1,
      s"window must be odd and >= 3, got $window")
    val h = window / 2
    val centred = Window.partitionBy(col("__k")).orderBy(col("__t")).rowsBetween(-h, h)
    val base = df.select(col(keyCol).as("__k"), col(tsCol).as("__t"),
        col(valueCol).cast("double").as("__y"))
      .withColumn("trend",
        when(count(lit(1)).over(centred) === window, sum(col("__y")).over(centred) / window))
      .withColumn("__det", col("__y") - col("trend"))
      .withColumn("hod", hour(col("__t")))
    val wCell = Window.partitionBy(col("__k"), col("hod")).orderBy(col("__t"))
    val cumCell = wCell.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cells = base.filter(col("__det").isNotNull)
      .withColumn("__rn", row_number().over(wCell))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__k"), col("hod"))))
      .withColumn("__sd", sum(col("__det")).over(cumCell))
      .filter(col("__rn") === col("__n"))
      .select(col("__k"), col("hod"), (col("__sd") / col("__n")).as("seasonal"))
    base.join(broadcast(cells), Seq("__k", "hod"), "left")
      .select(col("__k").as("series"), col("__t").as("bucket"),
        col("__y").as("value"), col("trend"), col("seasonal"),
        (col("__y") - col("trend") - col("seasonal")).as("residual"))
  }

  /** #q66 additive decomposition of the hourly close grid per series
    * (25-bucket centered trend ≈ one day of hourly bars). */
  private val q66: Q = (s, dir) =>
    decomposeOf(
      graft.Graft.resampleOhlc(t(s, dir, "events"),
          "event_type", "ts", "event_id", "value", "hour")
        .select(col("event_type"), col("bucket"), col("close")),
      "event_type", "bucket", "close", window = 25)
      .select(col("series"), epochMs(col("bucket")).as("bucket_ms"),
        r6(col("value")).as("value"), r6(col("trend")).as("trend"),
        r6(col("seasonal")).as("seasonal"), r6(col("residual")).as("residual"))
      .orderBy("series", "bucket_ms")

  private val q66Sql =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    last(value ORDER BY ts, event_id) AS close
      |  FROM events GROUP BY 1, 2),
      |tr AS (
      |  SELECT event_type, bucket, close,
      |    CASE WHEN count(*) OVER f = 25
      |      THEN list_reduce(list(close) OVER f, (a, b) -> a + b) / 25 END AS trend,
      |    hour(bucket) AS hod
      |  FROM b
      |  WINDOW f AS (PARTITION BY event_type ORDER BY bucket
      |      ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
      |dt AS (SELECT *, close - trend AS det FROM tr),
      |cell AS (
      |  SELECT event_type, hod, sd / n AS seasonal FROM (
      |    SELECT event_type, hod,
      |      row_number() OVER o2 AS rn2,
      |      count(*) OVER (PARTITION BY event_type, hod) AS n,
      |      sum(det) OVER w2 AS sd
      |    FROM dt WHERE det IS NOT NULL
      |    WINDOW o2 AS (PARTITION BY event_type, hod ORDER BY bucket),
      |      w2 AS (PARTITION BY event_type, hod ORDER BY bucket
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |  WHERE rn2 = n)
      |SELECT dt.event_type AS series, epoch_ms(dt.bucket) AS bucket_ms,
      |  round(dt.close, 6) AS value, round(dt.trend, 6) AS trend,
      |  round(cell.seasonal, 6) AS seasonal,
      |  round(dt.close - dt.trend - cell.seasonal, 6) AS residual
      |FROM dt LEFT JOIN cell
      |  ON dt.event_type = cell.event_type AND dt.hod = cell.hod
      |ORDER BY series, bucket_ms""".stripMargin

  val queries: Map[String, Q] = Map(
    "q66_decompose" -> q66,
    "q65_asof_forward" -> q65,
    "q61_anomaly" -> q61,
    "q53_cusum" -> q53,
    "q54_seasonality" -> q54,
    "q29_interpolate" -> q29,
    "q27_gap_fill" -> q27,
    "q26_range_join" -> q26,
    "q23_asof_tolerance" -> q23,
    "q22_gap_detect" -> q22,
    "q21_rolling_corr" -> q21,
    "q06_dedup_keep_last" -> q06,
    "q07_upsert_merge" -> q07,
    "q08_incremental_max" -> q08,
    "q09_resample_ohlc" -> q09,
    "q10_premium" -> q10,
    "q11_wma_premium" -> q11,
    "q12_extreme_moves" -> q12,
    "q13_asof_join" -> q13,
    "q14_sessionize" -> q14)

  val oracle: Map[String, String] = Map(
    "q66_decompose" -> q66Sql,
    "q65_asof_forward" -> q65Sql,
    "q61_anomaly" -> q61Sql,
    "q53_cusum" -> q53Sql,
    "q54_seasonality" -> q54Sql,
    "q29_interpolate" -> q29Sql,
    "q27_gap_fill" -> q27Sql,
    "q26_range_join" -> q26Sql,
    "q23_asof_tolerance" -> q23Sql,
    "q22_gap_detect" -> q22Sql,
    "q21_rolling_corr" -> q21Sql,
    "q06_dedup_keep_last" -> q06Sql,
    "q07_upsert_merge" -> q07Sql,
    "q08_incremental_max" -> q08Sql,
    "q09_resample_ohlc" -> q09Sql,
    "q10_premium" -> q10Sql,
    "q11_wma_premium" -> q11Sql,
    "q12_extreme_moves" -> q12Sql,
    "q13_asof_join" -> q13Sql,
    "q14_sessionize" -> q14Sql)
}
