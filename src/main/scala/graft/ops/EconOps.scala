package graft.ops

import graft.{F, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Market-microstructure and econometric estimators (SURVEY.md §2
  * q80–q83) — the measurement layer a quant research pipeline runs on
  * top of the bar tables the reference maintains: liquidity (Amihud),
  * effective spread (Roll), serial dependence (ACF), and long-memory
  * (Hurst R/S). These are corpus-statistics operators, not per-row
  * indicators: each reduces a series (or series×scale grid) to a
  * handful of rows.
  *
  * Scale stance: everything shuffles ONCE on its series (or
  * series×lag / series×block) key; every float reduction is the
  * q33/q30 defined-order cumulative fold with the group's last row
  * kept, so results are bit-identical to the DuckDB oracle at any
  * parallelism. The ACF lag explode (×maxLag) and Hurst scale explode
  * (×|scales|) multiply the BAR table, never raw ticks — at 100 TB the
  * bar grid is the small derived table (the q33 rule). */
object EconOps {
  type Q = (SparkSession, String) => DataFrame
  import Tables.t
  import F._

  private def hourBars(s: SparkSession, dir: String): DataFrame =
    graft.Graft.resampleOhlc(t(s, dir, "events"), "event_type", "ts", "event_id", "value", "hour")

  // ----------------------------------------------------------- Amihud

  /** Amihud (2002) illiquidity over ANY bar table with a volume
    * column (public operator behind [[graft.Graft.amihud]]):
    * illiq_t = |ret_t| / vol_t, rolling-mean'd over the last `n` bars
    * — the price-impact-per-unit-volume proxy. The first bar of each
    * series has no return and contributes an explicit 0.0; the rolling
    * mean sums the bounded frame of the last n BARS (the same
    * oldest-first fold in both engines), null until rn ≥ n+1 (the
    * first full window would hold that 0.0). An undefined mid-series
    * term (prev close 0/null) also contributes 0.0 while the divisor
    * stays n, so the output is
    * a mean over n bars with undefined terms counted as 0, not a mean
    * over defined terms only. Zero-volume bars are excluded by contract
    * (vol > 0 required — a bar exists because it traded). One window
    * shuffle. */
  def amihudOf(bars: DataFrame, key: String, ts: String, close: String,
               vol: String, n: Int = 20): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val ord = Window.partitionBy(col(key)).orderBy(col(ts))
    val frame = ord.rowsBetween(1 - n, Window.currentRow)
    bars
      .withColumn("__pc", lag(col(close), 1).over(ord))
      .withColumn("__rn", row_number().over(ord))
      .withColumn("ret",
        when(col("__pc").isNotNull && col("__pc") =!= 0.0, col(close) / col("__pc") - 1.0))
      .withColumn("illiq",
        when(col("ret").isNotNull, abs(col("ret")) / col(vol).cast("double")))
      .withColumn("amihud",
        when(col("__rn") >= n + 1,
          sum(coalesce(col("illiq"), lit(0.0))).over(frame) / n))
      .select(col(key), col(ts), col(close), col("ret"), col("illiq"), col("amihud"))
  }

  /** #q80 Amihud(20) over DAILY bars (n_trades volume proxy — the
    * deterministic column, see [[FinOps]]). */
  private val q80: Q = (s, dir) =>
    amihudOf(
      graft.Graft.resampleOhlc(t(s, dir, "events"), "event_type", "ts", "event_id", "value", "day"),
      "event_type", "bucket", "close", "n_trades", n = 20)
      .select(col("event_type"), epochMs(col("bucket")).as("bucket_ms"), col("close"),
        r6(col("ret")).as("ret"), r6(col("illiq")).as("illiq"),
        r6(col("amihud")).as("amihud"))
      .orderBy("event_type", "bucket_ms")

  private val q80Sql =
    """WITH b AS (
      |  SELECT event_type, date_trunc('day', ts) AS bucket,
      |    last(value ORDER BY ts, event_id) AS close,
      |    count(*) AS n_trades
      |  FROM events GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, bucket, close,
      |    lag(close, 1) OVER o AS pc,
      |    row_number() OVER o AS rn,
      |    CAST(n_trades AS DOUBLE) AS vol
      |  FROM b
      |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket)),
      |d AS (
      |  SELECT event_type, bucket, close, rn,
      |    CASE WHEN pc IS NOT NULL AND pc <> 0.0 THEN close / pc - 1.0 END AS ret,
      |    CASE WHEN pc IS NOT NULL AND pc <> 0.0 THEN abs(close / pc - 1.0) / vol END AS illiq
      |  FROM c),
      |f AS (
      |  SELECT event_type, bucket, close, rn, ret, illiq,
      |    list_reduce(list(coalesce(illiq, 0.0)) OVER (PARTITION BY event_type ORDER BY bucket
      |      ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), (a, b) -> a + b) AS si
      |  FROM d)
      |SELECT event_type, epoch_ms(bucket) AS bucket_ms, close,
      |  round(ret, 6) AS ret, round(illiq, 6) AS illiq,
      |  round(CASE WHEN rn >= 21 THEN si / 20 END, 6) AS amihud
      |FROM f
      |ORDER BY event_type, bucket_ms""".stripMargin

  /** Kyle (1985) price-impact lambda per series (public operator
    * behind [[graft.Graft.kyleLambda]]) — the regression companion of
    * [[amihudOf]]'s ratio: OLS of the bar price change on SIGNED
    * volume (sign of the change × volume, the order-flow proxy bar
    * data affords): Δp_t = μ + λ·q_t. λ is price impact per unit of
    * net flow — Kyle's depth measure, THE microstructure liquidity
    * estimate a ratio can't give because it controls for the
    * intercept and flow variance. First bars (no Δp) are excluded;
    * the sign is an explicit three-branch CASE (never an engine sign()
    * whose return type could differ); every sum is the q33 cumulative
    * fold taken at the series' last row; degenerate flow variance ⇒
    * null λ (the q41 guard). One window shuffle on the series key over
    * the BAR table. */
  def kyleLambdaOf(bars: DataFrame, key: String, ts: String, close: String,
                   vol: String): DataFrame = {
    val ord = Window.partitionBy(col(key)).orderBy(col(ts))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = bars
      .withColumn("__dp", col(close) - lag(col(close), 1).over(ord))
      .filter(col("__dp").isNotNull)
      .withColumn("__q",
        (when(col("__dp") > 0, 1.0).when(col("__dp") < 0, -1.0).otherwise(0.0)) *
          col(vol).cast("double"))
    val nD = col("__n").cast("double")
    d.withColumn("__rn", row_number().over(ord))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(key))))
      .withColumn("__sq", sum(col("__q")).over(cum))
      .withColumn("__sd", sum(col("__dp")).over(cum))
      .withColumn("__sqd", sum(col("__q") * col("__dp")).over(cum))
      .withColumn("__sq2", sum(col("__q") * col("__q")).over(cum))
      .filter(col("__rn") === col("__n"))
      .select(col(key).as("series"), col("__n").as("n_bars"),
        when(nD * col("__sq2") - col("__sq") * col("__sq") > 0.0,
          (nD * col("__sqd") - col("__sq") * col("__sd")) /
            (nD * col("__sq2") - col("__sq") * col("__sq"))).as("lambda"),
        col("__sq"), col("__sd"), nD.as("__nd"))
      .select(col("series"), col("n_bars"), col("lambda"),
        (col("__sd") / col("__nd") - col("lambda") * (col("__sq") / col("__nd")))
          .as("intercept"))
  }

  /** #q89 Kyle lambda over DAILY bars (n_trades volume proxy, the q80
    * rule). */
  private val q89: Q = (s, dir) =>
    kyleLambdaOf(
      graft.Graft.resampleOhlc(t(s, dir, "events"), "event_type", "ts", "event_id", "value", "day"),
      "event_type", "bucket", "close", "n_trades")
      .select(col("series"), col("n_bars"),
        r6(col("lambda")).as("lambda"), r6(col("intercept")).as("intercept"))
      .orderBy("series")

  private val q89Sql =
    """WITH b AS (
      |  SELECT event_type, date_trunc('day', ts) AS bucket,
      |    last(value ORDER BY ts, event_id) AS close,
      |    count(*) AS n_trades
      |  FROM events GROUP BY 1, 2),
      |c AS (
      |  SELECT event_type, bucket,
      |    close - lag(close, 1) OVER (PARTITION BY event_type ORDER BY bucket) AS dp,
      |    CAST(n_trades AS DOUBLE) AS vol
      |  FROM b),
      |d AS (
      |  SELECT event_type, bucket, dp,
      |    (CASE WHEN dp > 0 THEN 1.0 WHEN dp < 0 THEN -1.0 ELSE 0.0 END) * vol AS q
      |  FROM c WHERE dp IS NOT NULL),
      |e AS (
      |  SELECT event_type,
      |    row_number() OVER o AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n,
      |    sum(q) OVER w AS sq, sum(dp) OVER w AS sd,
      |    sum(q * dp) OVER w AS sqd, sum(q * q) OVER w AS sq2
      |  FROM d
      |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket),
      |    w AS (PARTITION BY event_type ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f AS (
      |  SELECT event_type, n,
      |    CASE WHEN CAST(n AS DOUBLE) * sq2 - sq * sq > 0.0
      |      THEN (CAST(n AS DOUBLE) * sqd - sq * sd)
      |           / (CAST(n AS DOUBLE) * sq2 - sq * sq) END AS lambda,
      |    sq, sd
      |  FROM e WHERE rn = n)
      |SELECT event_type AS series, CAST(n AS BIGINT) AS n_bars,
      |  round(lambda, 6) AS lambda,
      |  round(sd / CAST(n AS DOUBLE) - lambda * (sq / CAST(n AS DOUBLE)), 6) AS intercept
      |FROM f
      |ORDER BY series""".stripMargin

  /** VPIN — volume-synchronized probability of informed trading
    * (Easley, López de Prado, O'Hara 2012; public operator behind
    * [[graft.Graft.vpin]]): fills are tick-rule signed (+1 above the
    * previous fill's price, −1 below, 0 flat/first — the bar-data
    * classification), re-bucketed by the VOLUME CLOCK (the q59
    * exclusive-prefix-sum rule — buckets carry equal traded volume, so
    * toxicity is measured per unit of volume, not per wall-clock
    * tick), per bucket imbalance = |Σ signed vol| / Σ vol, and VPIN =
    * the rolling mean of the last `n` bucket imbalances (a bounded
    * n-bucket frame, null till n buckets) — the flow-toxicity alarm
    * that spikes before liquidity events. Every float reduction is a defined-order
    * cumulative fold taken at the bucket's last row (q33 rule); one
    * shuffle on the series key serves the sign lag, the volume clock,
    * the bucket folds AND the rolling mean (`ClusteredDistribution`:
    * hash(key) co-locates every bucket). The (ts ++ tie) ordering MUST
    * be a total order over the fills — a tie between rows with
    * different price/volume makes the sign sequence and the clock
    * partition-order-dependent (caller contract; include price/volume
    * in `tie` when the natural key is not unique). */
  def vpinOf(fills: DataFrame, key: String, ts: String, tie: Seq[String],
             price: String, vol: String, budget: Double, n: Int): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    require(n >= 1, s"n must be >= 1, got $n")
    val ordCols = col(ts) +: tie.map(col)
    val ord = Window.partitionBy(col(key)).orderBy(ordCols: _*)
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val signed = fills
      .withColumn("__pp", lag(col(price), 1).over(ord))
      .withColumn("__sgn", when(col(price) > col("__pp"), 1.0)
        .when(col(price) < col("__pp"), -1.0).otherwise(0.0))
      .withColumn("__cv", sum(col(vol)).over(cum))
      .withColumn("bar", floor((col("__cv") - col(vol)) / budget).cast("long"))
    val grp = Window.partitionBy(col(key), col("bar"))
    val bo = grp.orderBy(ordCols: _*)
    val bcum = bo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bars = signed
      .withColumn("__rn", row_number().over(bo))
      .withColumn("__cnt", count(lit(1)).over(grp))
      .withColumn("__sv", sum(col("__sgn") * col(vol)).over(bcum))
      .withColumn("__tv", sum(col(vol)).over(bcum))
      .filter(col("__rn") === col("__cnt"))
      .select(col(key), col("bar"), col("__cnt").cast("long").as("n_fills"),
        col("__tv").as("bucket_vol"),
        (abs(col("__sv")) / col("__tv")).as("imbalance"))
    val kOrd = Window.partitionBy(col(key)).orderBy(col("bar"))
    val kFrame = kOrd.rowsBetween(1 - n, Window.currentRow)
    bars
      .withColumn("__brn", row_number().over(kOrd))
      .withColumn("vpin", when(col("__brn") >= n, sum(col("imbalance")).over(kFrame) / n))
      .select(col(key), col("bar"), col("n_fills"), col("bucket_vol"),
        col("imbalance"), col("vpin"))
  }

  /** #q90 VPIN(5) over the q59 fill stream (lineitem as fills,
    * 50k-quantity volume buckets). */
  private val q90: Q = (s, dir) => {
    val fills = t(s, dir, "lineitem").filter(col("l_quantity") > 0)
      .select(col("l_returnflag").as("series"), col("l_shipdate").as("ts"),
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") / col("l_quantity")).as("p"),
        col("l_quantity").as("v"))
    // tie columns include price+qty: (okey, ln) is not unique in the
    // synthetic lineitem and 3 groups tie with DIFFERENT p/v — without
    // them the sign/clock folds are partition-order-dependent (the
    // DuckDB oracle measurably flapped run-to-run)
    vpinOf(fills, "series", "ts", Seq("l_orderkey", "l_linenumber", "p", "v"),
        "p", "v", budget = 50000.0, n = 5)
      .select(col("series"), col("bar"), col("n_fills"),
        r4(col("bucket_vol")).as("bucket_vol"),
        r6(col("imbalance")).as("imbalance"), r6(col("vpin")).as("vpin"))
      .orderBy("series", "bar")
  }

  private val q90Sql =
    """WITH f AS (
      |  SELECT l_returnflag AS series, l_shipdate AS ts,
      |    l_orderkey, l_linenumber,
      |    l_extendedprice / l_quantity AS p, l_quantity AS v
      |  FROM lineitem WHERE l_quantity > 0),
      |c AS (
      |  SELECT series, ts, l_orderkey, l_linenumber, p, v,
      |    lag(p, 1) OVER o AS pp,
      |    CAST(floor((sum(v) OVER w - v) / 50000.0) AS BIGINT) AS bar
      |  FROM f
      |  WINDOW o AS (PARTITION BY series ORDER BY ts, l_orderkey, l_linenumber, p, v),
      |    w AS (PARTITION BY series ORDER BY ts, l_orderkey, l_linenumber, p, v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |g AS (
      |  SELECT series, ts, l_orderkey, l_linenumber, p, v, bar,
      |    CASE WHEN p > pp THEN 1.0 WHEN p < pp THEN -1.0 ELSE 0.0 END AS sgn
      |  FROM c),
      |b AS (
      |  SELECT series, bar,
      |    row_number() OVER o AS rn,
      |    count(*) OVER (PARTITION BY series, bar) AS cnt,
      |    sum(sgn * v) OVER w AS sv, sum(v) OVER w AS tv
      |  FROM g
      |  WINDOW o AS (PARTITION BY series, bar ORDER BY ts, l_orderkey, l_linenumber, p, v),
      |    w AS (PARTITION BY series, bar ORDER BY ts, l_orderkey, l_linenumber, p, v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |k AS (
      |  SELECT series, bar, CAST(cnt AS BIGINT) AS n_fills, tv,
      |    abs(sv) / tv AS imbalance
      |  FROM b WHERE rn = cnt),
      |r AS (
      |  SELECT series, bar, n_fills, tv, imbalance,
      |    row_number() OVER o AS brn,
      |    list_reduce(list(imbalance) OVER (PARTITION BY series ORDER BY bar
      |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), (a, b) -> a + b) AS si
      |  FROM k
      |  WINDOW o AS (PARTITION BY series ORDER BY bar))
      |SELECT series, bar, n_fills, round(tv, 4) AS bucket_vol,
      |  round(imbalance, 6) AS imbalance,
      |  round(CASE WHEN brn >= 5 THEN si / 5 END, 6) AS vpin
      |FROM r
      |ORDER BY series, bar""".stripMargin

  // ------------------------------------------------------ Roll spread

  /** Roll (1984) implied effective spread over ANY (key, ts, price)
    * series (public operator behind [[graft.Graft.rollSpread]]):
    * spread = 2·√(−cov(Δp_t, Δp_{t−1})) — the bid-ask bounce makes
    * consecutive price changes negatively autocorrelated, and the
    * first-order autocovariance recovers the spread. One row per
    * series: n_pairs, the autocovariance, and the spread (null when
    * cov ≥ 0 — the estimator is undefined there, the standard
    * convention). Population covariance from cumulative folds kept at
    * the last pair row (q33 rule). One window shuffle. */
  def rollSpreadOf(df: DataFrame, key: String, ts: String, price: String): DataFrame = {
    val ord = Window.partitionBy(col(key)).orderBy(col(ts))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nD = col("__rn").cast("double")
    df
      .withColumn("__d", col(price) - lag(col(price), 1).over(ord))
      .withColumn("__e", lag(col("__d"), 1).over(ord))
      .filter(col("__d").isNotNull && col("__e").isNotNull)
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__cx", sum(col("__d")).over(cum))
      .withColumn("__cy", sum(col("__e")).over(cum))
      .withColumn("__cxy", sum(col("__d") * col("__e")).over(cum))
      .withColumn("__last", lead(col("__d"), 1).over(ord).isNull)
      .filter(col("__last"))
      .withColumn("autocov", (col("__cxy") - col("__cx") * col("__cy") / nD) / nD)
      .select(col(key), col("__rn").cast("long").as("n_pairs"), col("autocov"),
        when(col("autocov") < 0, lit(2.0) * sqrt(-col("autocov"))).as("roll_spread"))
  }

  /** #q81 Roll spread per series over hourly closes. */
  private val q81: Q = (s, dir) =>
    rollSpreadOf(hourBars(s, dir).select(col("event_type"), col("bucket"), col("close")),
      "event_type", "bucket", "close")
      .select(col("event_type").as("series"), col("n_pairs"),
        r6(col("autocov")).as("autocov"), r6(col("roll_spread")).as("roll_spread"))
      .orderBy("series")

  private val q81Sql =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    last(value ORDER BY ts, event_id) AS close
      |  FROM events GROUP BY 1, 2),
      |d AS (
      |  SELECT event_type, bucket,
      |    close - lag(close, 1) OVER o AS dx
      |  FROM b
      |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket)),
      |p AS (
      |  SELECT event_type, bucket, dx,
      |    lag(dx, 1) OVER (PARTITION BY event_type ORDER BY bucket) AS ex
      |  FROM d),
      |q AS (SELECT * FROM p WHERE dx IS NOT NULL AND ex IS NOT NULL),
      |c AS (
      |  SELECT event_type, row_number() OVER o AS rn,
      |    sum(dx) OVER w AS cx, sum(ex) OVER w AS cy,
      |    sum(dx * ex) OVER w AS cxy,
      |    lead(dx, 1) OVER o IS NULL AS is_last
      |  FROM q
      |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket),
      |    w AS (PARTITION BY event_type ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f AS (
      |  SELECT event_type, rn,
      |    (cxy - cx * cy / CAST(rn AS DOUBLE)) / CAST(rn AS DOUBLE) AS autocov
      |  FROM c WHERE is_last)
      |SELECT event_type AS series, CAST(rn AS BIGINT) AS n_pairs,
      |  round(autocov, 6) AS autocov,
      |  round(CASE WHEN autocov < 0 THEN 2.0 * sqrt(-autocov) END, 6) AS roll_spread
      |FROM f
      |ORDER BY series""".stripMargin

  // -------------------------------------------------------------- ACF

  /** Autocorrelation function at lags 1..maxLag per series (public
    * operator behind [[graft.Graft.acf]]) — the serial-dependence
    * profile behind q21's single-lag rolling form. The series is
    * exploded ×maxLag into (series, lag, x, y=x lagged) pairs in ONE
    * window pass (maxLag lag frames on one sort), then each
    * (series, lag) group reduces by the q33 cumulative fold kept at
    * the last row: Pearson over the aligned pairs. Null when a group
    * has <2 pairs or zero variance. Two shuffles total (series sort,
    * then series×lag fold) regardless of maxLag. */
  def acfOf(df: DataFrame, key: String, ts: String, value: String,
            maxLag: Int = 10): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val ord = Window.partitionBy(col(key)).orderBy(col(ts))
    val pairOrd = Window.partitionBy(col(key), col("lag")).orderBy(col(ts))
    val cum = pairOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nD = col("__rn").cast("double")
    val varX = col("__cxx") - col("__cx") * col("__cx") / nD
    val varY = col("__cyy") - col("__cy") * col("__cy") / nD
    // lag columns first (a window expression can't live inside the
    // explode's Generate operator), then the ×maxLag explode
    val withLags = (1 to maxLag).foldLeft(df) { (d, k) =>
      d.withColumn(s"__y$k", lag(col(value), k).over(ord).cast("double"))
    }
    withLags
      .withColumn("__ls", explode(array((1 to maxLag).map(k =>
        struct(lit(k).as("lag"), col(s"__y$k").as("y"))): _*)))
      .select(col(key), col(ts), col(value).cast("double").as("__x"),
        col("__ls.lag").as("lag"), col("__ls.y").as("__y"))
      .filter(col("__y").isNotNull)
      .withColumn("__rn", row_number().over(pairOrd))
      .withColumn("__cx", sum(col("__x")).over(cum))
      .withColumn("__cy", sum(col("__y")).over(cum))
      .withColumn("__cxx", sum(col("__x") * col("__x")).over(cum))
      .withColumn("__cyy", sum(col("__y") * col("__y")).over(cum))
      .withColumn("__cxy", sum(col("__x") * col("__y")).over(cum))
      .withColumn("__last", lead(col("__x"), 1).over(pairOrd).isNull)
      .filter(col("__last"))
      .select(col(key), col("lag"), col("__rn").cast("long").as("n_pairs"),
        when(col("__rn") >= 2 && varX > 0 && varY > 0,
          (col("__cxy") - col("__cx") * col("__cy") / nD) / sqrt(varX * varY))
          .as("acf"))
  }

  /** #q82 ACF(1..10) per series over hourly closes. */
  private val q82: Q = (s, dir) =>
    acfOf(hourBars(s, dir).select(col("event_type"), col("bucket"), col("close")),
      "event_type", "bucket", "close", maxLag = 10)
      .select(col("event_type").as("series"), col("lag"), col("n_pairs"),
        r6(col("acf")).as("acf"))
      .orderBy("series", "lag")

  private val q82Sql = {
    val branches = (1 to 10).map(k =>
      s"""SELECT event_type, bucket, $k AS lag, close AS x,
         |    lag(close, $k) OVER (PARTITION BY event_type ORDER BY bucket) AS y
         |  FROM b""".stripMargin).mkString("\n  UNION ALL\n  ")
    s"""WITH b AS (
       |  SELECT event_type, date_trunc('hour', ts) AS bucket,
       |    last(value ORDER BY ts, event_id) AS close
       |  FROM events GROUP BY 1, 2),
       |e AS (
       |  $branches),
       |p AS (SELECT * FROM e WHERE y IS NOT NULL),
       |c AS (
       |  SELECT event_type, lag, row_number() OVER o AS rn,
       |    sum(x) OVER w AS cx, sum(y) OVER w AS cy,
       |    sum(x * x) OVER w AS cxx, sum(y * y) OVER w AS cyy,
       |    sum(x * y) OVER w AS cxy,
       |    lead(x, 1) OVER o IS NULL AS is_last
       |  FROM p
       |  WINDOW o AS (PARTITION BY event_type, lag ORDER BY bucket),
       |    w AS (PARTITION BY event_type, lag ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |f AS (
       |  SELECT event_type, lag, rn,
       |    cxx - cx * cx / CAST(rn AS DOUBLE) AS vx,
       |    cyy - cy * cy / CAST(rn AS DOUBLE) AS vy,
       |    cxy - cx * cy / CAST(rn AS DOUBLE) AS cv
       |  FROM c WHERE is_last)
       |SELECT event_type AS series, lag, CAST(rn AS BIGINT) AS n_pairs,
       |  round(CASE WHEN rn >= 2 AND vx > 0 AND vy > 0
       |    THEN cv / sqrt(vx * vy) END, 6) AS acf
       |FROM f
       |ORDER BY series, lag""".stripMargin
  }

  // ------------------------------------------------------------ Hurst

  /** Hurst exponent by rescaled-range (R/S) analysis over ANY
    * (key, ts, value) series (public operator behind
    * [[graft.Graft.hurst]]): the series' step changes are cut into
    * non-overlapping blocks of each size in `scales`; per block,
    * R = range of the cumulative mean-deviation walk, S = population
    * σ; log(R/S) averages per scale; H = the OLS slope of that mean
    * against log(scale). H ≈ 0.5 for a random walk, > 0.5 trending,
    * < 0.5 mean-reverting. Only full blocks count; degenerate blocks
    * (S = 0 or R = 0) are excluded from the scale mean; series with
    * < 2 surviving scales yield null H. Every reduction is the
    * defined-order cumulative fold at the last row — block mean/σ,
    * the deviation walk, the per-scale log mean, and the 3-point OLS
    * all replay identically in DuckDB. Shuffles: one series sort, one
    * (series, scale, block) fold, one (series, scale) fold, one
    * series fold — all on key-bounded derived tables (the bar grid ×
    * |scales|, never raw ticks). */
  def hurstOf(df: DataFrame, key: String, ts: String, value: String,
              scales: Seq[Int] = Seq(32, 64, 128)): DataFrame = {
    require(scales.nonEmpty && scales.forall(_ >= 2), s"scales must be >= 2: $scales")
    val ord = Window.partitionBy(col(key)).orderBy(col(ts))
    // step changes of the series, indexed 0.. per series
    val steps = df
      .withColumn("__d", col(value) - lag(col(value), 1).over(ord))
      .filter(col("__d").isNotNull)
      .withColumn("__i", row_number().over(ord) - 1)
      .select(col(key), col(ts), col("__d"), col("__i"))
    // explode over scales; block index per (scale)
    val blocks = steps
      .withColumn("m", explode(array(scales.map(lit): _*)))
      .withColumn("__b", floor(col("__i") / col("m")))
    val bOrd = Window.partitionBy(col(key), col("m"), col("__b")).orderBy(col(ts))
    val bCum = bOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bAll = Window.partitionBy(col(key), col("m"), col("__b"))
      .orderBy(col(ts)).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val mD = col("m").cast("double")
    // per block: cumulative walk, block mean/σ from the last row's folds
    val walked = blocks
      .withColumn("__p", row_number().over(bOrd))
      .withColumn("__cum", sum(col("__d")).over(bCum))
      .withColumn("__cum2", sum(col("__d") * col("__d")).over(bCum))
      .withColumn("__nb", last(col("__p")).over(bAll))
      .filter(col("__nb") === col("m")) // full blocks only
      .withColumn("__mean", last(col("__cum")).over(bAll) / mD)
      .withColumn("__z", col("__cum") - col("__p").cast("double") * col("__mean"))
      .withColumn("__r", max(col("__z")).over(bAll) - min(col("__z")).over(bAll))
      .withColumn("__s2", last(col("__cum2")).over(bAll) / mD - col("__mean") * col("__mean"))
      .withColumn("__lastRow", lead(col("__p"), 1).over(bOrd).isNull)
      .filter(col("__lastRow") && col("__s2") > 0 && col("__r") > 0)
      .select(col(key), col("m"), col("__b"),
        (col("__r") / sqrt(col("__s2"))).as("__rs"))
    // per (key, m): defined-order mean of log(R/S) over blocks
    val sOrd = Window.partitionBy(col(key), col("m")).orderBy(col("__b"))
    val sCum = sOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perScale = walked
      .withColumn("__rn", row_number().over(sOrd))
      .withColumn("__cl", sum(log(col("__rs"))).over(sCum))
      .withColumn("__last", lead(col("__b"), 1).over(sOrd).isNull)
      .filter(col("__last"))
      .select(col(key), col("m"), col("__rn").cast("long").as("n_blocks"),
        (col("__cl") / col("__rn").cast("double")).as("avg_log_rs"))
    // per key: OLS slope of avg_log_rs against log(m) over the scales
    val kOrd = Window.partitionBy(col(key)).orderBy(col("m"))
    val kCum = kOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nD = col("__rn").cast("double")
    val sxx = col("__cxx") - col("__cx") * col("__cx") / nD
    perScale
      .withColumn("__lx", log(col("m").cast("double")))
      .withColumn("__rn", row_number().over(kOrd))
      .withColumn("__cx", sum(col("__lx")).over(kCum))
      .withColumn("__cy", sum(col("avg_log_rs")).over(kCum))
      .withColumn("__cxy", sum(col("__lx") * col("avg_log_rs")).over(kCum))
      .withColumn("__cxx", sum(col("__lx") * col("__lx")).over(kCum))
      .withColumn("__last", lead(col("m"), 1).over(kOrd).isNull)
      .filter(col("__last"))
      .select(col(key), col("__rn").cast("long").as("n_scales"),
        when(col("__rn") >= 2 && sxx > 0,
          (col("__cxy") - col("__cx") * col("__cy") / nD) / sxx).as("hurst"))
  }

  /** #q83 Hurst(32/64/128) per series over hourly closes. */
  private val q83: Q = (s, dir) =>
    hurstOf(hourBars(s, dir).select(col("event_type"), col("bucket"), col("close")),
      "event_type", "bucket", "close")
      .select(col("event_type").as("series"), col("n_scales"),
        r6(col("hurst")).as("hurst"))
      .orderBy("series")

  private val q83Sql =
    """WITH b AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    last(value ORDER BY ts, event_id) AS close
      |  FROM events GROUP BY 1, 2),
      |d0 AS (
      |  SELECT event_type, bucket,
      |    close - lag(close, 1) OVER (PARTITION BY event_type ORDER BY bucket) AS d
      |  FROM b),
      |d1 AS (
      |  SELECT event_type, bucket, d,
      |    row_number() OVER (PARTITION BY event_type ORDER BY bucket) - 1 AS i
      |  FROM d0 WHERE d IS NOT NULL),
      |e AS (
      |  SELECT event_type, bucket, d, i, m, CAST(floor(i / m) AS BIGINT) AS blk
      |  FROM d1 CROSS JOIN (SELECT unnest([32, 64, 128]) AS m)),
      |w AS (
      |  SELECT event_type, m, blk, bucket,
      |    row_number() OVER o AS p,
      |    sum(d) OVER c AS cum,
      |    sum(d * d) OVER c AS cum2
      |  FROM e
      |  WINDOW o AS (PARTITION BY event_type, m, blk ORDER BY bucket),
      |    c AS (PARTITION BY event_type, m, blk ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |w2 AS (
      |  SELECT event_type, m, blk, bucket, p, cum, cum2,
      |    last_value(p) OVER a AS nb,
      |    last_value(cum) OVER a / CAST(m AS DOUBLE) AS mean,
      |    last_value(cum2) OVER a AS cum2l
      |  FROM w
      |  WINDOW a AS (PARTITION BY event_type, m, blk ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
      |w3 AS (
      |  SELECT event_type, m, blk, bucket, p,
      |    cum - CAST(p AS DOUBLE) * mean AS z,
      |    cum2l / CAST(m AS DOUBLE) - mean * mean AS s2
      |  FROM w2 WHERE nb = m),
      |w4 AS (
      |  SELECT event_type, m, blk, p, s2,
      |    max(z) OVER a - min(z) OVER a AS r,
      |    lead(p, 1) OVER (PARTITION BY event_type, m, blk ORDER BY bucket) IS NULL AS is_last
      |  FROM w3
      |  WINDOW a AS (PARTITION BY event_type, m, blk ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)),
      |rs AS (
      |  SELECT event_type, m, blk, r / sqrt(s2) AS rs
      |  FROM w4 WHERE is_last AND s2 > 0 AND r > 0),
      |sc AS (
      |  SELECT event_type, m,
      |    row_number() OVER o AS rn,
      |    sum(ln(rs)) OVER c AS cl,
      |    lead(blk, 1) OVER o IS NULL AS is_last
      |  FROM rs
      |  WINDOW o AS (PARTITION BY event_type, m ORDER BY blk),
      |    c AS (PARTITION BY event_type, m ORDER BY blk
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |ps AS (
      |  SELECT event_type, m, cl / CAST(rn AS DOUBLE) AS aly
      |  FROM sc WHERE is_last),
      |ols AS (
      |  SELECT event_type,
      |    row_number() OVER o AS rn,
      |    sum(ln(CAST(m AS DOUBLE))) OVER c AS cx,
      |    sum(aly) OVER c AS cy,
      |    sum(ln(CAST(m AS DOUBLE)) * aly) OVER c AS cxy,
      |    sum(ln(CAST(m AS DOUBLE)) * ln(CAST(m AS DOUBLE))) OVER c AS cxx,
      |    lead(m, 1) OVER o IS NULL AS is_last
      |  FROM ps
      |  WINDOW o AS (PARTITION BY event_type ORDER BY m),
      |    c AS (PARTITION BY event_type ORDER BY m
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f AS (
      |  SELECT event_type, rn,
      |    cxx - cx * cx / CAST(rn AS DOUBLE) AS sxx,
      |    cxy - cx * cy / CAST(rn AS DOUBLE) AS sxy
      |  FROM ols WHERE is_last)
      |SELECT event_type AS series, CAST(rn AS BIGINT) AS n_scales,
      |  round(CASE WHEN rn >= 2 AND sxx > 0 THEN sxy / sxx END, 6) AS hurst
      |FROM f
      |ORDER BY series""".stripMargin

  /** Ljung–Box portmanteau white-noise test per series (public
    * operator behind [[graft.Graft.ljungBox]]) — the q82 ACF machinery
    * collapsed into the classical serial-correlation decision:
    * Q = n·(n+2)·Σₖ ρ̂ₖ²/(n−k) over lags 1..h, compared against the
    * χ²(h) critical value (`crit`; 18.307 at 5% for h = 10). Rejecting
    * (q_stat > crit) means the series is NOT white noise — the formal
    * counterpart of eyeballing q82's lag profile, and the standard
    * residual diagnostic after any q63/q87-style model fit. ρ̂ₖ here is
    * the lag-k pairs Pearson correlation ([[acfOf]]'s definition —
    * windowed-pairs variant of the textbook fixed-mean form; identical
    * asymptotics for the test's purpose, and the SAME doubles in both
    * engines). n−k is exactly n_pairs(k) since lags are row-based.
    * q_stat/reject are null when any of the h lags is degenerate
    * (constant window, too few observations): the final filter keys on
    * the LAST available lag row per series, so a series with
    * n_obs ≤ h still emits its (series, n_obs, h, null, null) row.
    * Only a series with no laggable pair at all (n_obs ≤ 1) produces
    * no ACF rows and is omitted. One extra vocabulary-free pass over
    * the ≤h-row-per-key ACF table: the Σ is a cumulative fold in lag
    * order taken at the last lag. */
  def ljungBoxOf(df: DataFrame, key: String, ts: String, value: String,
                 h: Int = 10, crit: Double = 18.307): DataFrame = {
    require(h >= 1, s"h must be >= 1, got $h")
    val byKey = Window.partitionBy(col(key))
    val ordL = byKey.orderBy(col("lag"))
    val cum = ordL.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nD = col("__n").cast("double")
    acfOf(df, key, ts, value, maxLag = h)
      .withColumn("__rn", row_number().over(ordL))
      .withColumn("__nr", count(lit(1)).over(byKey))
      .withColumn("__nn", count(col("acf")).over(byKey))
      .withColumn("__n", max(col("n_pairs") + col("lag")).over(byKey))
      .withColumn("__cq",
        sum(col("acf") * col("acf") / col("n_pairs").cast("double")).over(cum))
      .filter(col("__rn") === col("__nr"))
      .select(col(key).as("series"), col("__n").cast("long").as("n_obs"),
        lit(h).as("h"),
        when(col("__nn") === h, nD * (nD + lit(2.0)) * col("__cq")).as("q_stat"),
        when(col("__nn") === h,
          (nD * (nD + lit(2.0)) * col("__cq")) > crit).as("reject_white_noise"))
  }

  /** #q93 Ljung–Box(h=10) over hourly closes per series. */
  private val q93: Q = (s, dir) =>
    ljungBoxOf(hourBars(s, dir).select(col("event_type"), col("bucket"), col("close")),
      "event_type", "bucket", "close", h = 10, crit = 18.307)
      .select(col("series"), col("n_obs"), col("h"),
        r6(col("q_stat")).as("q_stat"), col("reject_white_noise"))
      .orderBy("series")

  private val q93Sql = {
    val branches = (1 to 10).map(k =>
      s"""SELECT event_type, bucket, $k AS lag, close AS x,
         |    lag(close, $k) OVER (PARTITION BY event_type ORDER BY bucket) AS y
         |  FROM b""".stripMargin).mkString("\n  UNION ALL\n  ")
    s"""WITH b AS (
       |  SELECT event_type, date_trunc('hour', ts) AS bucket,
       |    last(value ORDER BY ts, event_id) AS close
       |  FROM events GROUP BY 1, 2),
       |e AS (
       |  $branches),
       |p AS (SELECT * FROM e WHERE y IS NOT NULL),
       |c AS (
       |  SELECT event_type, lag, row_number() OVER o AS rn,
       |    sum(x) OVER w AS cx, sum(y) OVER w AS cy,
       |    sum(x * x) OVER w AS cxx, sum(y * y) OVER w AS cyy,
       |    sum(x * y) OVER w AS cxy,
       |    lead(x, 1) OVER o IS NULL AS is_last
       |  FROM p
       |  WINDOW o AS (PARTITION BY event_type, lag ORDER BY bucket),
       |    w AS (PARTITION BY event_type, lag ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |f AS (
       |  SELECT event_type, lag, rn,
       |    cxx - cx * cx / CAST(rn AS DOUBLE) AS vx,
       |    cyy - cy * cy / CAST(rn AS DOUBLE) AS vy,
       |    cxy - cx * cy / CAST(rn AS DOUBLE) AS cv
       |  FROM c WHERE is_last),
       |a AS (
       |  SELECT event_type, lag, rn AS n_pairs,
       |    CASE WHEN rn >= 2 AND vx > 0 AND vy > 0
       |      THEN cv / sqrt(vx * vy) END AS acf
       |  FROM f),
       |q AS (
       |  SELECT event_type,
       |    row_number() OVER ol AS rnl,
       |    count(*) OVER (PARTITION BY event_type) AS nr,
       |    count(acf) OVER (PARTITION BY event_type) AS nn,
       |    max(n_pairs + lag) OVER (PARTITION BY event_type) AS n,
       |    sum(acf * acf / CAST(n_pairs AS DOUBLE)) OVER wl AS cq
       |  FROM a
       |  WINDOW ol AS (PARTITION BY event_type ORDER BY lag),
       |    wl AS (PARTITION BY event_type ORDER BY lag
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT event_type AS series, CAST(n AS BIGINT) AS n_obs, 10 AS h,
       |  round(CASE WHEN nn = 10
       |    THEN CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * cq END, 6) AS q_stat,
       |  CASE WHEN nn = 10
       |    THEN (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * cq) > 18.307 END
       |    AS reject_white_noise
       |FROM q WHERE rnl = nr
       |ORDER BY series""".stripMargin
  }

  /** Dickey–Fuller unit-root test per series (public operator behind
    * [[graft.Graft.adfTest]]) — the stationarity gate of the
    * Engle–Granger cointegration recipe (step 2 over q88's residual
    * spread) and the standard sanity check before fitting any
    * mean-reverting model: regress Δxₜ = α + β·xₜ₋₁ + εₜ (the DF(0)
    * form with constant) and report the t-statistic of β̂. Under the
    * unit-root null β = 0; a t-stat below the asymptotic 5% critical
    * value −2.86 rejects it (the series mean-reverts). `stationary`
    * carries that verdict; null when the regression is degenerate
    * (constant series, n ≤ 2, zero residual variance).
    *
    * Exactness: all five OLS sums are cumulative window folds in
    * bucket order taken at the last row (the q41/q89 discipline), and
    * every derived expression is written with the identical operation
    * tree in the oracle, so each double matches bit-for-bit. One
    * window shuffle on the key; the output is one row per series. */
  def adfOf(bars: DataFrame, key: String, ts: String, close: String,
            crit: Double = -2.86): DataFrame = {
    val ord = Window.partitionBy(col(key)).orderBy(col(ts))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = bars
      .withColumn("__xl", lag(col(close), 1).over(ord))
      .filter(col("__xl").isNotNull)
      .withColumn("__dy", col(close) - col("__xl"))
    val nD = col("__n").cast("double")
    d.withColumn("__rn", row_number().over(ord))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col(key))))
      .withColumn("__sx", sum(col("__xl")).over(cum))
      .withColumn("__sy", sum(col("__dy")).over(cum))
      .withColumn("__sxy", sum(col("__xl") * col("__dy")).over(cum))
      .withColumn("__sx2", sum(col("__xl") * col("__xl")).over(cum))
      .withColumn("__sy2", sum(col("__dy") * col("__dy")).over(cum))
      .filter(col("__rn") === col("__n"))
      .withColumn("__cxx", col("__sx2") - col("__sx") * col("__sx") / nD)
      .withColumn("__cxy", col("__sxy") - col("__sx") * col("__sy") / nD)
      .withColumn("__cyy", col("__sy2") - col("__sy") * col("__sy") / nD)
      .withColumn("beta",
        when(col("__n") > 2 && col("__cxx") > 0.0, col("__cxy") / col("__cxx")))
      .withColumn("__sse", greatest(col("__cyy") - col("beta") * col("__cxy"), lit(0.0)))
      .withColumn("__se",
        when(col("beta").isNotNull,
          sqrt((col("__sse") / (nD - 2.0)) / col("__cxx"))))
      .withColumn("df_stat",
        when(col("__se") > 0.0, col("beta") / col("__se")))
      .select(col(key).as("series"), col("__n").as("n_obs"),
        col("beta"),
        (col("__sy") / nD - col("beta") * (col("__sx") / nD)).as("alpha"),
        col("df_stat"),
        when(col("df_stat").isNotNull, col("df_stat") < crit).as("stationary"))
  }

  /** The [[adfOf]]+[[ouHalflifeOf]] regression as a RUNNING MONITOR
    * (st06's batch form): one row per bar carrying the DF(0) fit over
    * everything seen SO FAR — the trajectory a continuous
    * stationarity/mean-reversion monitor emits, where [[adfOf]] keeps
    * only the final row. Identical cumulative-sum chain (the OLS sums
    * are the associative state; n is the running pair count), identical
    * guards, so row t here is exactly adfOf run on the first t+1 bars —
    * and [[graft.streaming.StreamOps.streamingAdfMonitor]] reproduces
    * every row bit-for-bit from O(1) per-key state (StreamTwin9Spec).
    * First bar of each series emits nothing (no lag pair yet). */
  def adfTrajectoryOf(bars: DataFrame, key: String, ts: String, close: String,
                      crit: Double = -2.86): DataFrame = {
    val ord = Window.partitionBy(col(key)).orderBy(col(ts))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = bars
      .withColumn("__xl", lag(col(close), 1).over(ord))
      .filter(col("__xl").isNotNull)
      .withColumn("__dy", col(close) - col("__xl"))
    val nD = col("__rn").cast("double")
    d.withColumn("__rn", row_number().over(ord))
      .withColumn("__sx", sum(col("__xl")).over(cum))
      .withColumn("__sy", sum(col("__dy")).over(cum))
      .withColumn("__sxy", sum(col("__xl") * col("__dy")).over(cum))
      .withColumn("__sx2", sum(col("__xl") * col("__xl")).over(cum))
      .withColumn("__sy2", sum(col("__dy") * col("__dy")).over(cum))
      .withColumn("__cxx", col("__sx2") - col("__sx") * col("__sx") / nD)
      .withColumn("__cxy", col("__sxy") - col("__sx") * col("__sy") / nD)
      .withColumn("__cyy", col("__sy2") - col("__sy") * col("__sy") / nD)
      .withColumn("beta",
        when(col("__rn") > 2 && col("__cxx") > 0.0, col("__cxy") / col("__cxx")))
      .withColumn("__sse", greatest(col("__cyy") - col("beta") * col("__cxy"), lit(0.0)))
      .withColumn("__se",
        when(col("beta").isNotNull,
          sqrt((col("__sse") / (nD - 2.0)) / col("__cxx"))))
      .withColumn("df_stat",
        when(col("__se") > 0.0, col("beta") / col("__se")))
      .withColumn("stationary",
        when(col("df_stat").isNotNull, col("df_stat") < crit))
      .withColumn("mean_reverting",
        when(col("beta").isNotNull, col("beta") < 0.0 && col("beta") > -1.0))
      .withColumn("kappa",
        when(col("mean_reverting"), -log(lit(1.0) + col("beta"))))
      .withColumn("halflife_bars",
        when(col("kappa") > 0.0, log(lit(2.0)) / col("kappa")))
      .select(col(key).as("series"), col(ts), col("__rn").as("n_obs"),
        col("beta"), col("df_stat"), col("stationary"),
        col("mean_reverting"), col("kappa"), col("halflife_bars"))
  }

  /** Engle–Granger COINTEGRATION test for one series pair (public
    * operator behind [[graft.Graft.cointTest]]) — the two-step recipe
    * composed from parts already proven: step 1, the q88 OLS hedge
    * (`FinOps.pairsSpreadOf` — β̂, α̂ and the residual spread
    * a − (α̂ + β̂·b) over the aligned grid); step 2, [[adfOf]] on that
    * residual. A stationary residual means the pair shares a common
    * stochastic trend — the statistical licence for q88's
    * mean-reversion signal (trading the z-score of a NON-cointegrated
    * pair's spread is just two random walks drifting apart). The
    * verdict bar defaults to the Engle–Granger 5% critical value for
    * two variables with constant (−3.34) — stricter than the plain DF
    * −2.86 because β̂ was FIT on the same data (Phillips–Ouliaris
    * correction). One aligned-grid pass + the one-row hedge broadcast
    * + one ADF window chain; grid-sized throughout. */
  def cointTestOf(bars: DataFrame, key: String, ts: String, close: String,
                  seriesA: String, seriesB: String,
                  crit: Double = -3.34): DataFrame = {
    val spread = FinOps.pairsSpreadOf(bars, key, ts, close, seriesA, seriesB)
      .select(lit(seriesA + "~" + seriesB).as("__pair"), col("bucket"), col("spread"))
    adfOf(spread, "__pair", "bucket", "spread", crit)
      .select(col("series").as("pair"), col("n_obs"),
        col("beta").as("adf_beta"), col("alpha").as("adf_alpha"),
        col("df_stat"), col("stationary").as("cointegrated"))
  }

  /** #q94 Engle–Granger cointegration of the q88 pair (view ~ click)
    * over hourly closes. */
  private val q94: Q = (s, dir) =>
    cointTestOf(
      graft.Graft.resampleOhlc(t(s, dir, "events"), "event_type", "ts", "event_id", "value", "hour")
        .select(col("event_type"), col("bucket"), col("close")),
      "event_type", "bucket", "close", "view", "click")
      .select(col("pair"), col("n_obs"), r6(col("adf_beta")).as("adf_beta"),
        r6(col("adf_alpha")).as("adf_alpha"), r6(col("df_stat")).as("df_stat"),
        col("cointegrated"))
      .orderBy("pair")

  private val q94Sql =
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
      |  SELECT j.bucket,
      |    j.a_close - (st.alpha + st.beta * j.b_close) AS spread
      |  FROM j, st),
      |cc AS (
      |  SELECT bucket, spread,
      |    lag(spread, 1) OVER (ORDER BY bucket) AS xl
      |  FROM sp),
      |d AS (SELECT bucket, xl, spread - xl AS dy FROM cc WHERE xl IS NOT NULL),
      |ols AS (
      |  SELECT row_number() OVER o AS rn, count(*) OVER () AS n,
      |    sum(xl) OVER w AS sx, sum(dy) OVER w AS sy,
      |    sum(xl * dy) OVER w AS sxy,
      |    sum(xl * xl) OVER w AS sx2,
      |    sum(dy * dy) OVER w AS sy2
      |  FROM d
      |  WINDOW o AS (ORDER BY bucket),
      |    w AS (ORDER BY bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f AS (
      |  SELECT n,
      |    sx2 - sx * sx / CAST(n AS DOUBLE) AS cxx,
      |    sxy - sx * sy / CAST(n AS DOUBLE) AS cxy,
      |    sy2 - sy * sy / CAST(n AS DOUBLE) AS cyy,
      |    sx, sy
      |  FROM ols WHERE rn = n),
      |g AS (
      |  SELECT n, sx, sy, cxx, cxy, cyy,
      |    CASE WHEN n > 2 AND cxx > 0.0 THEN cxy / cxx END AS beta
      |  FROM f),
      |h AS (
      |  SELECT n, sx, sy, cxx, beta,
      |    greatest(cyy - beta * cxy, 0.0) AS sse
      |  FROM g),
      |i AS (
      |  SELECT n, sx, sy, beta,
      |    CASE WHEN beta IS NOT NULL
      |      THEN sqrt((sse / (CAST(n AS DOUBLE) - 2.0)) / cxx) END AS se
      |  FROM h),
      |k AS (
      |  SELECT n, sx, sy, beta,
      |    CASE WHEN se > 0.0 THEN beta / se END AS df_stat
      |  FROM i)
      |SELECT 'view~click' AS pair, CAST(n AS BIGINT) AS n_obs,
      |  round(beta, 6) AS adf_beta,
      |  round(sy / CAST(n AS DOUBLE) - beta * (sx / CAST(n AS DOUBLE)), 6) AS adf_alpha,
      |  round(df_stat, 6) AS df_stat,
      |  CASE WHEN df_stat IS NOT NULL THEN df_stat < -3.34 END AS cointegrated
      |FROM k
      |ORDER BY pair""".stripMargin

  /** #q92 Dickey–Fuller test over hourly closes per series. */
  private val q92: Q = (s, dir) =>
    adfOf(
      graft.Graft.resampleOhlc(t(s, dir, "events"), "event_type", "ts", "event_id", "value", "hour"),
      "event_type", "bucket", "close")
      .select(col("series"), col("n_obs"), r6(col("beta")).as("beta"),
        r6(col("alpha")).as("alpha"), r6(col("df_stat")).as("df_stat"),
        col("stationary"))
      .orderBy("series")

  private val q92Sql =
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
      |ols AS (
      |  SELECT event_type,
      |    row_number() OVER o AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n,
      |    sum(xl) OVER w AS sx, sum(dy) OVER w AS sy,
      |    sum(xl * dy) OVER w AS sxy,
      |    sum(xl * xl) OVER w AS sx2,
      |    sum(dy * dy) OVER w AS sy2
      |  FROM d
      |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket),
      |    w AS (PARTITION BY event_type ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f AS (
      |  SELECT event_type, n,
      |    sx2 - sx * sx / CAST(n AS DOUBLE) AS cxx,
      |    sxy - sx * sy / CAST(n AS DOUBLE) AS cxy,
      |    sy2 - sy * sy / CAST(n AS DOUBLE) AS cyy,
      |    sx, sy
      |  FROM ols WHERE rn = n),
      |g AS (
      |  SELECT event_type, n, sx, sy, cxx, cxy, cyy,
      |    CASE WHEN n > 2 AND cxx > 0.0 THEN cxy / cxx END AS beta
      |  FROM f),
      |h AS (
      |  SELECT event_type, n, sx, sy, cxx, beta,
      |    greatest(cyy - beta * cxy, 0.0) AS sse
      |  FROM g),
      |i AS (
      |  SELECT event_type, n, sx, sy, beta,
      |    CASE WHEN beta IS NOT NULL
      |      THEN sqrt((sse / (CAST(n AS DOUBLE) - 2.0)) / cxx) END AS se
      |  FROM h),
      |j AS (
      |  SELECT event_type, n, sx, sy, beta,
      |    CASE WHEN se > 0.0 THEN beta / se END AS df_stat
      |  FROM i)
      |SELECT event_type AS series, CAST(n AS BIGINT) AS n_obs,
      |  round(beta, 6) AS beta,
      |  round(sy / CAST(n AS DOUBLE) - beta * (sx / CAST(n AS DOUBLE)), 6) AS alpha,
      |  round(df_stat, 6) AS df_stat,
      |  CASE WHEN df_stat IS NOT NULL THEN df_stat < -2.86 END AS stationary
      |FROM j
      |ORDER BY series""".stripMargin

  /** Ornstein–Uhlenbeck mean-reversion HALF-LIFE per series (public
    * operator behind [[graft.Graft.ouHalflife]]) — the number a pairs
    * desk actually trades on once [[cointTestOf]] grants the licence:
    * the q92 regression Δxₜ = α + β·xₜ₋₁ is the discretized OU drift,
    * so reversion speed κ = −ln(1 + β̂) and half-life = ln 2 / κ bars
    * (how long a deviation takes to close half the gap — sets holding
    * period and stop horizons; q88's z-window should be a small
    * multiple of it). Defined only for genuinely mean-reverting fits:
    * −1 < β̂ < 0 (β̂ ≥ 0 diverges/unit-root ⇒ null; β̂ ≤ −1
    * oscillates past the fixed point ⇒ null, both flagged by
    * `mean_reverting`). Same one-window-chain cost as [[adfOf]] —
    * this IS adfOf plus two scalar expressions, and the oracle shares
    * the whole op tree so every double matches. */
  def ouHalflifeOf(bars: DataFrame, key: String, ts: String,
                   close: String): DataFrame = {
    adfOf(bars, key, ts, close)
      .withColumn("mean_reverting",
        when(col("beta").isNotNull, col("beta") < 0.0 && col("beta") > -1.0))
      .withColumn("kappa",
        when(col("mean_reverting"), -log(lit(1.0) + col("beta"))))
      .withColumn("halflife_bars",
        when(col("kappa") > 0.0, log(lit(2.0)) / col("kappa")))
      .select(col("series"), col("n_obs"), col("beta"), col("df_stat"),
        col("mean_reverting"), col("kappa"), col("halflife_bars"))
  }

  /** #q95 OU half-life over hourly closes per series. */
  private val q95: Q = (s, dir) =>
    ouHalflifeOf(hourBars(s, dir).select(col("event_type"), col("bucket"), col("close")),
      "event_type", "bucket", "close")
      .select(col("series"), col("n_obs"), r6(col("beta")).as("beta"),
        r6(col("df_stat")).as("df_stat"), col("mean_reverting"),
        r6(col("kappa")).as("kappa"), r6(col("halflife_bars")).as("halflife_bars"))
      .orderBy("series")

  private val q95Sql =
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
      |ols AS (
      |  SELECT event_type,
      |    row_number() OVER o AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n,
      |    sum(xl) OVER w AS sx, sum(dy) OVER w AS sy,
      |    sum(xl * dy) OVER w AS sxy,
      |    sum(xl * xl) OVER w AS sx2,
      |    sum(dy * dy) OVER w AS sy2
      |  FROM d
      |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket),
      |    w AS (PARTITION BY event_type ORDER BY bucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      |f AS (
      |  SELECT event_type, n,
      |    sx2 - sx * sx / CAST(n AS DOUBLE) AS cxx,
      |    sxy - sx * sy / CAST(n AS DOUBLE) AS cxy,
      |    sy2 - sy * sy / CAST(n AS DOUBLE) AS cyy
      |  FROM ols WHERE rn = n),
      |g AS (
      |  SELECT event_type, n, cxx, cxy, cyy,
      |    CASE WHEN n > 2 AND cxx > 0.0 THEN cxy / cxx END AS beta
      |  FROM f),
      |h AS (
      |  SELECT event_type, n, cxx, beta,
      |    greatest(cyy - beta * cxy, 0.0) AS sse
      |  FROM g),
      |i AS (
      |  SELECT event_type, n, beta,
      |    CASE WHEN beta IS NOT NULL
      |      THEN sqrt((sse / (CAST(n AS DOUBLE) - 2.0)) / cxx) END AS se
      |  FROM h),
      |j AS (
      |  SELECT event_type, n, beta,
      |    CASE WHEN se > 0.0 THEN beta / se END AS df_stat
      |  FROM i),
      |k AS (
      |  SELECT event_type, n, beta, df_stat,
      |    CASE WHEN beta IS NOT NULL
      |      THEN beta < 0.0 AND beta > -1.0 END AS mean_reverting
      |  FROM j),
      |l AS (
      |  SELECT event_type, n, beta, df_stat, mean_reverting,
      |    CASE WHEN mean_reverting THEN -ln(1.0 + beta) END AS kappa
      |  FROM k)
      |SELECT event_type AS series, CAST(n AS BIGINT) AS n_obs,
      |  round(beta, 6) AS beta, round(df_stat, 6) AS df_stat,
      |  mean_reverting, round(kappa, 6) AS kappa,
      |  round(CASE WHEN kappa > 0.0 THEN ln(2.0) / kappa END, 6) AS halflife_bars
      |FROM l
      |ORDER BY series""".stripMargin

  // ------------------------------------------- bipower jump detection

  /** Scala-computed constant shared verbatim with the oracle SQL
    * (Double.toString round-trips — the q56 shared-literal rule). */
  private val bpC = math.Pi / 2.0

  /** Barndorff-Nielsen–Shephard bipower jump decomposition over ANY
    * OHLC bar table (public operator behind [[graft.Graft.jumpTest]]):
    * per (series, day) —
    *   rv    realized variance Σ r_t²  (all of the day's returns),
    *   bv    bipower variation (π/2)·Σ |r_t|·|r_{t−1}| — jump-ROBUST:
    *         a single jump enters bv only through two cross products
    *         with normal-sized neighbours, so bv estimates the
    *         continuous (diffusive) variance while rv gets the jump
    *         too (Barndorff-Nielsen & Shephard 2004),
    *   jump  max(rv − bv, 0) — the jump contribution,
    *   rj    relative jump (rv − bv)/rv (null on a zero-rv day),
    *   jump_day  rj ≥ 0.5 — more than half the day's variance came
    *         from discontinuities (threshold on the UNROUNDED fold).
    * The daily risk row that decides whether q56's realized_var can be
    * trusted as a diffusion estimate or was one print.
    *
    * Exactness (q56 discipline): returns are per-row lags inside the
    * (series, day) window; both sums are CUMULATIVE folds in bar
    * order taken at the day's last row — never hash-agg double sums;
    * π/2 is a shared Scala literal; non-positive closes are excluded
    * before the fold (a return spanning an excluded bar bridges it).
    * One (series, day) window shuffle — at 100 TB this runs on the
    * bar grid, not ticks (the q33 rule). */
  def jumpTestOf(bars: DataFrame, keyCol: String, tsCol: String,
                 closeCol: String): DataFrame = {
    val base = bars.select(col(keyCol).as("__k"), col(tsCol).as("__t"),
        col(closeCol).cast("double").as("__c"))
      .filter(col("__c") > 0)
      .withColumn("__d", date_trunc("day", col("__t")))
    val w = Window.partitionBy(col("__k"), col("__d")).orderBy(col("__t"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = log(col("__c") / lag(col("__c"), 1).over(w))
    base
      .withColumn("__r", r)
      .withColumn("__rl", lag(col("__r"), 1).over(w))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("__k"), col("__d"))))
      .withColumn("__crv", sum(col("__r") * col("__r")).over(cum))
      .withColumn("__cbv", sum(abs(col("__r")) * abs(col("__rl"))).over(cum))
      .filter(col("rn") === col("n"))
      .withColumn("rv", coalesce(col("__crv"), lit(0.0)))
      .withColumn("bv", coalesce(col("__cbv"), lit(0.0)) * lit(bpC))
      .withColumn("jump", greatest(col("rv") - col("bv"), lit(0.0)))
      .withColumn("rj", when(col("rv") > 0, (col("rv") - col("bv")) / col("rv")))
      .select(col("__k").as("series"), col("__d").as("day"),
        col("n").cast("long").as("n_bars"), col("rv"), col("bv"),
        col("jump"), col("rj"),
        when(col("rj").isNotNull, col("rj") >= 0.5).as("jump_day"))
  }

  /** #q96 the daily jump decomposition over the hourly bars. */
  private val q96: Q = (s, dir) =>
    jumpTestOf(hourBars(s, dir), "event_type", "bucket", "close")
      .select(col("series"), epochMs(col("day")).as("day_ms"), col("n_bars"),
        r6(col("rv")).as("rv"), r6(col("bv")).as("bv"),
        r6(col("jump")).as("jump"), r6(col("rj")).as("rj"), col("jump_day"))
      .orderBy("series", "day_ms")

  private val q96Sql =
    s"""WITH b AS (
       |  SELECT event_type, date_trunc('hour', ts) AS bucket,
       |    last(value ORDER BY ts, event_id) AS close
       |  FROM events GROUP BY 1, 2),
       |bp AS (SELECT * FROM b WHERE close > 0),
       |d AS (
       |  SELECT event_type, bucket, date_trunc('day', bucket) AS day,
       |    ln(close / lag(close, 1) OVER (
       |      PARTITION BY event_type, date_trunc('day', bucket)
       |      ORDER BY bucket)) AS r
       |  FROM bp),
       |e AS (
       |  SELECT event_type, bucket, day, r,
       |    lag(r, 1) OVER (PARTITION BY event_type, day ORDER BY bucket) AS rl
       |  FROM d),
       |c AS (
       |  SELECT event_type, day,
       |    row_number() OVER o AS rn,
       |    count(*) OVER (PARTITION BY event_type, day) AS n,
       |    sum(r * r) OVER w AS crv,
       |    sum(abs(r) * abs(rl)) OVER w AS cbv
       |  FROM e
       |  WINDOW o AS (PARTITION BY event_type, day ORDER BY bucket),
       |    w AS (PARTITION BY event_type, day ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |f AS (
       |  SELECT event_type, day, n,
       |    coalesce(crv, CAST(0.0 AS DOUBLE)) AS rv,
       |    coalesce(cbv, CAST(0.0 AS DOUBLE)) * ($bpC) AS bv
       |  FROM c WHERE rn = n),
       |g AS (
       |  SELECT event_type, day, n, rv, bv,
       |    greatest(rv - bv, 0.0) AS jump,
       |    CASE WHEN rv > 0 THEN (rv - bv) / rv END AS rj
       |  FROM f)
       |SELECT event_type AS series, epoch_ms(day) AS day_ms,
       |  CAST(n AS BIGINT) AS n_bars,
       |  round(rv, 6) AS rv, round(bv, 6) AS bv,
       |  round(jump, 6) AS jump, round(rj, 6) AS rj,
       |  CASE WHEN rj IS NOT NULL THEN rj >= 0.5 END AS jump_day
       |FROM g
       |ORDER BY series, day_ms""".stripMargin

  // --------------------------------------- Corwin–Schultz spread

  /** Shared Scala literals (q56 rule): 3−2√2 and the √2 they fold
    * from, interpolated verbatim into both engines' plans. */
  private val csC = 3.0 - 2.0 * math.sqrt(2.0)

  /** Corwin–Schultz (2012) HIGH-LOW spread estimator over ANY OHLC
    * bar table (public operator behind [[graft.Graft.csSpread]]) —
    * the third microstructure estimator next to q81's Roll (trade
    * prices) and q80's Amihud (volume): the daily high-low range
    * reflects both variance and the bid-ask bounce, and variance
    * grows with time while the spread does not, so two-bar spans
    * separate them. Per consecutive bar pair within a (series, day):
    *   β = ln(H₁/L₁)² + ln(H₂/L₂)²,
    *   γ = ln(max(H₁,H₂)/min(L₁,L₂))²,
    *   α = (√(2β)−√β)/(3−2√2) − √(γ/(3−2√2)),
    *   s = 2(eᵅ−1)/(1+eᵅ), negative estimates floored to 0 (the
    *       authors' recommended treatment).
    * One row per (series, day): n_pairs and the day's mean spread.
    *
    * Exactness: bar H/L are exact arg-picks; every pair term is
    * per-row scalar ln/sqrt/exp; the day mean is a cumulative fold
    * taken at the day's last pair row (q33 rule); 3−2√2 is a shared
    * Scala literal. Bars with a non-positive low are excluded before
    * pairing. One (series, day) window shuffle on the bar grid. */
  def csSpreadOf(bars: DataFrame, keyCol: String, tsCol: String,
                 highCol: String, lowCol: String): DataFrame = {
    val base = bars.select(col(keyCol).as("__k"), col(tsCol).as("__t"),
        col(highCol).cast("double").as("__h"), col(lowCol).cast("double").as("__l"))
      .filter(col("__l") > 0 && col("__h") >= col("__l"))
      .withColumn("__d", date_trunc("day", col("__t")))
    val w = Window.partitionBy(col("__k"), col("__d")).orderBy(col("__t"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val hl = log(col("__h") / col("__l"))
    val hlp = log(col("__ph") / col("__pl"))
    val beta = hl * hl + hlp * hlp
    val gammaLn = log(greatest(col("__h"), col("__ph")) / least(col("__l"), col("__pl")))
    val gamma = gammaLn * gammaLn
    val alpha = (sqrt(lit(2.0) * col("__beta")) - sqrt(col("__beta"))) / lit(csC) -
      sqrt(col("__gamma") / lit(csC))
    base
      .withColumn("__ph", lag(col("__h"), 1).over(w))
      .withColumn("__pl", lag(col("__l"), 1).over(w))
      .withColumn("__beta", when(col("__ph").isNotNull, beta))
      .withColumn("__gamma", when(col("__ph").isNotNull, gamma))
      .withColumn("__alpha", alpha)
      // the null guard matters: greatest(NULL, 0.0) is 0.0 in BOTH
      // engines, which would count the pairless first bar as a
      // phantom zero-spread pair and dilute the day mean
      .withColumn("__s",
        when(col("__alpha").isNotNull,
          greatest(lit(2.0) * (exp(col("__alpha")) - 1.0) / (exp(col("__alpha")) + 1.0),
            lit(0.0))))
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("__k"), col("__d"))))
      .withColumn("__np", count(col("__s")).over(Window.partitionBy(col("__k"), col("__d"))))
      .withColumn("__cs", sum(col("__s")).over(cum))
      .filter(col("rn") === col("n"))
      .filter(col("__np") > 0)
      .select(col("__k").as("series"), col("__d").as("day"),
        col("__np").cast("long").as("n_pairs"),
        (col("__cs") / col("__np").cast("double")).as("cs_spread"))
  }

  /** #q98 the Corwin–Schultz daily spread over the hourly bars. */
  private val q98: Q = (s, dir) =>
    csSpreadOf(
      graft.Graft.resampleOhlc(t(s, dir, "events"),
        "event_type", "ts", "event_id", "value", "hour"),
      "event_type", "bucket", "high", "low")
      .select(col("series"), epochMs(col("day")).as("day_ms"),
        col("n_pairs"), r6(col("cs_spread")).as("cs_spread"))
      .orderBy("series", "day_ms")

  private val q98Sql =
    s"""WITH b AS (
       |  SELECT event_type, date_trunc('hour', ts) AS bucket,
       |    max(value) AS high, min(value) AS low
       |  FROM events GROUP BY 1, 2),
       |bp AS (SELECT * FROM b WHERE low > 0 AND high >= low),
       |d AS (
       |  SELECT event_type, bucket, date_trunc('day', bucket) AS day, high, low,
       |    lag(high, 1) OVER w AS ph, lag(low, 1) OVER w AS pl
       |  FROM bp
       |  WINDOW w AS (PARTITION BY event_type, date_trunc('day', bucket) ORDER BY bucket)),
       |e AS (
       |  SELECT event_type, bucket, day,
       |    CASE WHEN ph IS NOT NULL THEN
       |      ln(high / low) * ln(high / low) + ln(ph / pl) * ln(ph / pl) END AS beta,
       |    CASE WHEN ph IS NOT NULL THEN
       |      ln(greatest(high, ph) / least(low, pl)) * ln(greatest(high, ph) / least(low, pl)) END AS gamma
       |  FROM d),
       |f AS (
       |  SELECT event_type, bucket, day,
       |    (sqrt(2.0 * beta) - sqrt(beta)) / ($csC) - sqrt(gamma / ($csC)) AS alpha
       |  FROM e),
       |g AS (
       |  SELECT event_type, bucket, day,
       |    CASE WHEN alpha IS NOT NULL
       |      THEN greatest(2.0 * (exp(alpha) - 1.0) / (exp(alpha) + 1.0), 0.0) END AS s
       |  FROM f),
       |h AS (
       |  SELECT event_type, day,
       |    row_number() OVER o AS rn,
       |    count(*) OVER (PARTITION BY event_type, day) AS n,
       |    count(s) OVER (PARTITION BY event_type, day) AS np,
       |    sum(s) OVER w AS cs
       |  FROM g
       |  WINDOW o AS (PARTITION BY event_type, day ORDER BY bucket),
       |    w AS (PARTITION BY event_type, day ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT event_type AS series, epoch_ms(day) AS day_ms,
       |  CAST(np AS BIGINT) AS n_pairs,
       |  round(cs / CAST(np AS DOUBLE), 6) AS cs_spread
       |FROM h
       |WHERE rn = n AND np > 0
       |ORDER BY series, day_ms""".stripMargin

  val queries: Map[String, Q] = Map(
    "q98_corwin_schultz" -> q98,
    "q96_bipower" -> q96,
    "q95_ou_halflife" -> q95,
    "q80_amihud" -> q80,
    "q81_roll_spread" -> q81,
    "q82_acf" -> q82,
    "q83_hurst" -> q83,
    "q89_kyle_lambda" -> q89,
    "q90_vpin" -> q90,
    "q92_adf" -> q92,
    "q93_ljung_box" -> q93,
    "q94_coint" -> q94)

  val oracle: Map[String, String] = Map(
    "q80_amihud" -> q80Sql,
    "q81_roll_spread" -> q81Sql,
    "q82_acf" -> q82Sql,
    "q83_hurst" -> q83Sql,
    "q89_kyle_lambda" -> q89Sql,
    "q98_corwin_schultz" -> q98Sql,
    "q96_bipower" -> q96Sql,
    "q90_vpin" -> q90Sql,
    "q92_adf" -> q92Sql,
    "q93_ljung_box" -> q93Sql,
    "q94_coint" -> q94Sql,
    "q95_ou_halflife" -> q95Sql)
}
