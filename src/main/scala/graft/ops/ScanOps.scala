package graft.ops

import graft.{F, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact sequential recurrences per series — the segmented-scan
  * execution path (SURVEY.md §2 q39–q40).
  *
  * [[graft.Graft.ewma]] (q35) truncates the exponential tail so the
  * smoothing becomes a fixed set of lags on one window sort; the EXACT
  * infinite-history forms — pandas `ewm(alpha, adjust=False).mean()`
  * and Wilder's RSI smoothing (the recurrence the reference's
  * pandas_ta WMA surface sits next to,
  * crypto_data_pipeline_duckdb.py:1221-1268) — are linear recurrences
  * y_i = (1−α)·y_{i−1} + α·x_i that no O(1)-per-row window frame
  * expresses, and the closed-form rewrite
  * y_i = α·(1−α)^i·Σ_j x_j/(1−α)^j overflows for any real series
  * length. This module runs them as a distributed segmented scan:
  * ONE shuffle on the series key (`groupByKey` — sort-based,
  * spill-safe grouping), each group streamed through
  * `flatMapSortedGroups` in (`ts`, `tie`) order and folded
  * left-to-right with O(1) state. Parallelism is the key count, the
  * same contract as every window-chain operator here; the typed
  * exchange carries only (key, ts, tie, x) — callers join other
  * columns back on (key, ts_ms, tie). This is the engine's one
  * sanctioned typed hot path besides m02's mapPartitions demo: an
  * irreducibly sequential recurrence is exactly what the (d) fallback
  * in the custom-operator preference order is for.
  *
  * Parity: the DuckDB oracle folds each row's ORDER-BY-framed prefix
  * list with `list_reduce` — the identical op sequence the carried
  * accumulator performs (init = first element, then acc·β + α·x per
  * element), so every double is bit-identical across engines
  * (fold-order rule, SURVEY §5). The oracle's per-row prefix fold is
  * O(n²) per series — acceptable at gate scale; the Spark scan is the
  * O(n) production form.
  */
object ScanOps {
  type Q = (SparkSession, String) => DataFrame
  import Tables.t
  import F._

  // --------------------------------------------------- ParScan auto-dispatch

  /** Dispatch counters (JVM-wide, monotonic): how many times the auto
    * dispatcher below chose each path. Observability for specs, the
    * monster probe and bench forensics — a silent wrong-path choice
    * shows up as the wrong counter moving. */
  val seqDispatches = new java.util.concurrent.atomic.AtomicLong
  val parDispatches = new java.util.concurrent.atomic.AtomicLong

  /** Longest-series row threshold above which the AFFINE scans switch
    * to the [[ParScanOps]] parallel-prefix path (`spark.graft.parscan
    * .threshold`, default 2,000,000; `<= 0` pins every call to the
    * sequential path). 2M sequential fold steps is ~0.1–0.2 s in one
    * task — comfortably under any shuffle-stage floor — while a 10M+
    * monster series would serialize a whole stage behind one core;
    * the crossover sits well inside that decade. */
  private def parThreshold(s: SparkSession): Long =
    s.conf.get("spark.graft.parscan.threshold", "2000000").toLong

  /** Slices for the dispatched parallel path (`spark.graft.parscan
    * .slices`, default = defaultParallelism): wall scales with
    * longestSeries/slices. */
  private def parSlices(s: SparkSession): Int =
    s.conf.get("spark.graft.parscan.slices",
      math.max(s.sparkContext.defaultParallelism, 2).toString).toInt

  /** Caller hint (`spark.graft.parscan.maxSeriesRows`, unset by
    * default): an upper bound on the longest series' row count, KNOWN
    * to the caller (partition metadata, a prior profile, a contract).
    * When set, the dispatcher trusts it and skips the measurement pass
    * entirely — the 100 TB path when the stat is already known. */
  private def seriesHint(s: SparkSession): Option[Long] =
    s.conf.get("spark.graft.parscan.maxSeriesRows", "").trim match {
      case "" => None
      case v  => Some(v.toLong)
    }

  /** The affine-scan dispatcher: pick the bit-exact sequential scan or
    * the [[ParScanOps]] two-pass parallel prefix from the longest
    * series' row count (the only stat that predicts the single-task
    * ceiling; table-level row counts can't see one hot key). Below the
    * threshold the sequential path keeps every oracle gate byte-stable;
    * above it the parallel path bounds the longest series' wall at
    * rows/slices, agreeing to composition ulps (ParScanSpec pins the
    * bound per wrapper; DispatchSpec pins the routing itself).
    *
    * Cost discipline (round-12 verdict #2): when the stat must be
    * measured, the scan's pruned input (only `needed` columns) is
    * stabilized FIRST, so the upstream lineage — possibly joins/windows
    * far more expensive than the scan — runs exactly once, in the
    * stabilize itself: the measuring count and the chosen path read the
    * checkpointed blocks, never the lineage. With the `maxSeriesRows` hint set, no job fires at all
    * and the plan composes lazily. Parameter validation happens before
    * any job: the sequential plan is constructed (pure, no action)
    * up front so each wrapper's `require`s fire first.
    *
    * Streaming inputs are rejected: these recurrences need a total
    * per-series sort, which Structured Streaming cannot provide in one
    * batchless pass — use the incremental state-store twins in
    * [[graft.streaming.StreamOps]] for continuous forms.
    * `threshold <= 0` (any non-positive value) pins every call to the
    * sequential path. */
  private def dispatch(df: DataFrame, key: String, needed: Seq[String])(
      seq: DataFrame => DataFrame)(par: (DataFrame, Int) => DataFrame): DataFrame = {
    require(!df.isStreaming,
      "affine scans need a batch input with a total per-series order; " +
        "use graft.streaming.StreamOps state-store twins for streams")
    val s = df.sparkSession
    seq(df) // plan construction only: fires the wrapper's requires before any job
    val thr = parThreshold(s)
    if (thr <= 0L) { seqDispatches.incrementAndGet(); return seq(df) }
    seriesHint(s) match {
      case Some(h) =>
        if (h <= thr) { seqDispatches.incrementAndGet(); seq(df) }
        else { parDispatches.incrementAndGet(); par(df, parSlices(s)) }
      case None =>
        // Materializing pays off only when the lineage is EXPENSIVE to
        // replay (joins/aggregates/windows/generators upstream). A
        // pure pruned scan-project-filter re-reads cheaper than a
        // checkpoint writes+reads — pushdown and the page cache do the
        // work — so the measuring count runs straight off the source
        // there (the round-12 regression was re-running DERIVED
        // lineage, not scans).
        val pruned = df.select(needed.distinct.map(col): _*)
        val snap =
          if (lineageIsCheap(pruned)) pruned
          else graft.Checkpoints.stabilize(pruned)
        val longest = snap.groupBy(col(key)).count()
          .agg(coalesce(max("count"), lit(0L))).head().getLong(0)
        if (longest <= thr) { seqDispatches.incrementAndGet(); seq(snap) }
        else { parDispatches.incrementAndGet(); par(snap, parSlices(s)) }
    }
  }

  /** True when the plan is pure scan/project/filter shape — nothing
    * whose replay costs more than a second pruned read. */
  private def lineageIsCheap(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    df.queryExecution.optimizedPlan.collectFirst {
      case _: Join => (); case _: Aggregate => (); case _: Window => ()
      case _: Generate => (); case _: Sort => (); case _: Union => ()
    }.isEmpty
  }

  /** Exact infinite-history EWMA — pandas `ewm(alpha,
    * adjust=False).mean()`: y₁ = x₁, yᵢ = (1−α)·yᵢ₋₁ + α·xᵢ folded in
    * (`ts`, `tie`) order per `key` series. Returns (`key` AS STRING,
    * `ts_ms` epoch-ms, `tie`, `ewma`) — one row per input row; the
    * scan projects its inputs, join back for other columns. (`ts`,
    * `tie`) must totally order each series and `value` must be
    * non-null (same keyed-operator contract as [[TimeSeriesOps]]).
    * Auto-dispatches to [[ParScanOps.ewmaExactParOf]] past the
    * longest-series threshold (see [[dispatch]]); [[ewmaExactSeqOf]]
    * is the always-sequential form. */
  def ewmaExactOf(df: DataFrame, key: String, ts: String, tie: String,
                  value: String, alpha: Double): DataFrame =
    dispatch(df, key, Seq(key, ts, tie, value))(
      d => ewmaExactSeqOf(d, key, ts, tie, value, alpha))(
      (d, n) => ParScanOps.ewmaExactParOf(d, key, ts, tie, value, alpha, n))

  /** The bit-exact sequential EWMA scan (the [[ewmaExactOf]] oracle
    * form, no dispatch). */
  def ewmaExactSeqOf(df: DataFrame, key: String, ts: String, tie: String,
                     value: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val s = df.sparkSession
    import s.implicits._
    val beta = 1.0 - alpha
    df.select(col(key).cast("string").as("__k"), epochMs(col(ts)).as("__t"),
        col(tie).cast("long").as("__i"), col(value).cast("double").as("__x"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("__t").asc, col("__i").asc) { (k, rows) =>
        var acc = 0.0
        var first = true
        rows.map { case (_, t, i, x) =>
          if (first) { acc = x; first = false }
          else acc = acc * beta + alpha * x
          (k, t, i, acc)
        }
      }
      .toDF(key, "ts_ms", tie, "ewma")
  }

  /** Wilder-smoothed RSI(n) — the recurrence form ([[graft.Graft.rsi]]
    * is Cutler's window form): per series in (`ts`, `tie`) order,
    * deltas split into gains/losses, each smoothed by the exact
    * recurrence avg₁ = v₁, avgⱼ = (1−1/n)·avgⱼ₋₁ + (1/n)·vⱼ (pandas
    * `ewm(alpha=1/n, adjust=False)` — pandas_ta's RMA), then
    * rsi = 100·ag/(ag+al) (flat series → 50), null until `n` deltas.
    * Output shape and contracts as [[ewmaExactOf]]. */
  def rsiWilderOf(df: DataFrame, key: String, ts: String, tie: String,
                  value: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val s = df.sparkSession
    import s.implicits._
    val alpha = 1.0 / n
    val beta = 1.0 - alpha
    df.select(col(key).cast("string").as("__k"), epochMs(col(ts)).as("__t"),
        col(tie).cast("long").as("__i"), col(value).cast("double").as("__x"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("__t").asc, col("__i").asc) { (k, rows) =>
        var prev = 0.0
        var j = 0
        var ag = 0.0
        var al = 0.0
        var first = true
        rows.map { case (_, t, i, x) =>
          val out =
            if (first) { first = false; None }
            else {
              val d = x - prev
              val g = if (d > 0) d else 0.0
              val l = if (d < 0) -d else 0.0
              j += 1
              if (j == 1) { ag = g; al = l }
              else { ag = ag * beta + alpha * g; al = al * beta + alpha * l }
              if (j >= n) Some(if (ag + al == 0) 50.0 else 100.0 * ag / (ag + al))
              else None
            }
          prev = x
          (k, t, i, out)
        }
      }
      .toDF(key, "ts_ms", tie, "rsi")
  }

  /** MACD(fast, slow, signal) — the exact adjust=False composition of
    * three [[ewmaExactOf]] recurrences in ONE scan pass: per series in
    * (`ts`, `tie`) order, eF/eS are span-EWMAs of the value
    * (α = 2/(span+1), both init to x₁ ⇒ macd₁ = 0), macd = eF − eS,
    * and the signal line is the exact signal-span EWMA of the macd
    * stream (init = macd₁); histogram = macd − signal. One shuffle,
    * O(1) state per series (two value accumulators + one signal
    * accumulator) — the three-recurrence chain never materializes
    * intermediate series. Returns (`key` AS STRING, `ts_ms`, `tie`,
    * `macd`, `signal`, `hist`); contracts as [[ewmaExactOf]].
    * pandas twin: `ewm(span=f).mean() − ewm(span=s).mean()` and
    * `ewm(span=g).mean()` of that, all adjust=False.
    * Auto-dispatches to [[ParScanOps.macdParOf]] past the
    * longest-series threshold (see [[dispatch]]). */
  def macdOf(df: DataFrame, key: String, ts: String, tie: String, value: String,
             fast: Int = 12, slow: Int = 26, signal: Int = 9): DataFrame =
    dispatch(df, key, Seq(key, ts, tie, value))(
      d => macdSeqOf(d, key, ts, tie, value, fast, slow, signal))(
      (d, n) => ParScanOps.macdParOf(d, key, ts, tie, value, fast, slow, signal, n))

  /** The bit-exact sequential MACD scan (the [[macdOf]] oracle form,
    * no dispatch). */
  def macdSeqOf(df: DataFrame, key: String, ts: String, tie: String, value: String,
                fast: Int = 12, slow: Int = 26, signal: Int = 9): DataFrame = {
    require(fast >= 1 && slow > fast && signal >= 1,
      s"need 1 <= fast < slow and signal >= 1, got fast=$fast slow=$slow signal=$signal")
    val s = df.sparkSession
    import s.implicits._
    val aF = 2.0 / (fast + 1); val bF = 1.0 - aF
    val aS = 2.0 / (slow + 1); val bS = 1.0 - aS
    val aG = 2.0 / (signal + 1); val bG = 1.0 - aG
    df.select(col(key).cast("string").as("__k"), epochMs(col(ts)).as("__t"),
        col(tie).cast("long").as("__i"), col(value).cast("double").as("__x"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("__t").asc, col("__i").asc) { (k, rows) =>
        var eF = 0.0; var eS = 0.0; var g = 0.0
        var first = true
        rows.map { case (_, t, i, x) =>
          if (first) { eF = x; eS = x; g = eF - eS; first = false }
          else {
            eF = eF * bF + aF * x
            eS = eS * bS + aS * x
            g = g * bG + aG * (eF - eS)
          }
          val macd = eF - eS
          (k, t, i, macd, g, macd - g)
        }
      }
      .toDF(key, "ts_ms", tie, "macd", "signal", "hist")
  }

  /** Rolling min AND max of the trailing `n` rows (including the
    * current one) per series — the monotonic-deque sliding-extrema
    * scan. Spark's `rowsBetween(-(n-1), 0)` frame re-aggregates the
    * whole frame per row: O(n)/row, fine for indicator-sized windows
    * (14, 20) and quadratic pain at n in the thousands (session-high
    * tracking, long-channel breakouts). This scan keeps two monotone
    * index deques + an n-slot ring buffer per series — O(1) amortized
    * per row (each row enters and leaves each deque at most once),
    * O(n) state — and emits exactly what the frame would: null until
    * `n` rows, then exact value picks (bit-identical to the frame
    * form by construction; the spec asserts equality). Returns
    * (`key` AS STRING, `ts_ms`, `tie`, `roll_min`, `roll_max`);
    * contracts as [[ewmaExactOf]]. */
  def rollingExtremaOf(df: DataFrame, key: String, ts: String, tie: String,
                       value: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val s = df.sparkSession
    import s.implicits._
    df.select(col(key).cast("string").as("__k"), epochMs(col(ts)).as("__t"),
        col(tie).cast("long").as("__i"), col(value).cast("double").as("__x"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("__t").asc, col("__i").asc) { (k, rows) =>
        val vals = new Array[Double](n)
        val minq = new java.util.ArrayDeque[Long]
        val maxq = new java.util.ArrayDeque[Long]
        var idx = -1L
        rows.map { case (_, t, i, x) =>
          idx += 1
          vals((idx % n).toInt) = x
          while (!minq.isEmpty && minq.peekFirst <= idx - n) minq.pollFirst()
          while (!maxq.isEmpty && maxq.peekFirst <= idx - n) maxq.pollFirst()
          // strict dominance pops keep the EARLIEST index of a tied
          // extremum at the front — same value either way, smaller state
          while (!minq.isEmpty && vals((minq.peekLast % n).toInt) >= x) minq.pollLast()
          while (!maxq.isEmpty && vals((maxq.peekLast % n).toInt) <= x) maxq.pollLast()
          minq.addLast(idx); maxq.addLast(idx)
          val out =
            if (idx >= n - 1)
              (Some(vals((minq.peekFirst % n).toInt)), Some(vals((maxq.peekFirst % n).toInt)))
            else (None, None)
          (k, t, i, out._1, out._2)
        }
      }
      .toDF(key, "ts_ms", tie, "roll_min", "roll_max")
  }

  /** 1-D local-level Kalman filter per series — the optimal recursive
    * estimator of a latent level under Gaussian process noise
    * (variance `procVar`) and observation noise (variance `obsVar`);
    * the principled generalization of the EWMA family: its gain
    * ADAPTS, starting high (trust early observations) and annealing to
    * the steady state the noise ratio implies, where an EWMA's α is
    * fixed forever. Per series in (`ts`, `tie`) order:
    *   init  x̂₁ = z₁, P₁ = obsVar
    *   step  Pp = P + procVar;  K = Pp/(Pp + obsVar)
    *         x̂ += K·(z − x̂);   P = (1−K)·Pp
    * Emits (`key` AS STRING, `ts_ms`, `tie`, `level`, `variance`) —
    * the filtered level and its posterior variance. O(1) state,
    * contracts as [[ewmaExactOf]].
    *
    * Parity: the gain/variance sequence is DATA-INDEPENDENT (the
    * scalar Riccati recursion — it depends only on the two noise
    * variances and the row index), so the oracle reproduces it with a
    * recursive CTE to the longest series and folds each row's prefix
    * with an INDEXED `list_reduce` (acc + K[i]·(x − acc)) — the
    * identical op sequence, bit-for-bit.
    * Auto-dispatches to [[ParScanOps.kalmanParOf]] past the
    * longest-series threshold (see [[dispatch]]). */
  def kalmanOf(df: DataFrame, key: String, ts: String, tie: String,
               value: String, procVar: Double, obsVar: Double): DataFrame =
    dispatch(df, key, Seq(key, ts, tie, value))(
      d => kalmanSeqOf(d, key, ts, tie, value, procVar, obsVar))(
      (d, n) => ParScanOps.kalmanParOf(d, key, ts, tie, value, procVar, obsVar, n))

  /** The bit-exact sequential Kalman scan (the [[kalmanOf]] oracle
    * form, no dispatch). */
  def kalmanSeqOf(df: DataFrame, key: String, ts: String, tie: String,
                  value: String, procVar: Double, obsVar: Double): DataFrame = {
    require(procVar > 0, s"procVar must be > 0, got $procVar")
    require(obsVar > 0, s"obsVar must be > 0, got $obsVar")
    val s = df.sparkSession
    import s.implicits._
    df.select(col(key).cast("string").as("__k"), epochMs(col(ts)).as("__t"),
        col(tie).cast("long").as("__i"), col(value).cast("double").as("__x"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("__t").asc, col("__i").asc) { (k, rows) =>
        var xh = 0.0
        var p = 0.0
        var first = true
        rows.map { case (_, t, i, z) =>
          if (first) { xh = z; p = obsVar; first = false }
          else {
            val pp = p + procVar
            val g = pp / (pp + obsVar)
            xh = xh + g * (z - xh)
            p = (1.0 - g) * pp
          }
          (k, t, i, xh, p)
        }
      }
      .toDF(key, "ts_ms", tie, "level", "variance")
  }

  /** #q60 local-level Kalman filter over each user's value stream
    * (procVar 0.1, obsVar 1.0). The oracle builds the data-independent
    * gain/variance sequence with a recursive CTE (ONE table for all
    * series — the Riccati recursion only depends on the row index),
    * then replays the level as an indexed prefix fold. */
  private val q60: Q = (s, dir) =>
    kalmanOf(t(s, dir, "events"), "user_id", "ts", "event_id", "value",
        procVar = 0.1, obsVar = 1.0)
      .select(col("user_id").cast("long").as("user_id"), col("ts_ms"),
        col("event_id"), r6(col("level")).as("level"),
        r6(col("variance")).as("variance"))
      .orderBy("user_id", "ts_ms", "event_id")

  private val q60Sql =
    """WITH RECURSIVE mx AS (
      |  SELECT max(cnt) AS maxn
      |  FROM (SELECT count(*) AS cnt FROM events GROUP BY user_id)),
      |g(i, kk, p) AS (
      |  SELECT 1, CAST(NULL AS DOUBLE), CAST(1.0 AS DOUBLE)
      |  UNION ALL
      |  SELECT i + 1, (p + 0.1) / (p + 0.1 + 1.0),
      |    (1.0 - (p + 0.1) / (p + 0.1 + 1.0)) * (p + 0.1)
      |  FROM g WHERE i < (SELECT maxn FROM mx)),
      |ks AS (SELECT list(kk ORDER BY i) AS kl FROM g WHERE i >= 2),
      |pp AS (
      |  SELECT user_id, ts, event_id,
      |    row_number() OVER o AS rn,
      |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
      |  FROM events
      |  WINDOW o AS (PARTITION BY user_id ORDER BY ts, event_id))
      |SELECT pp.user_id, epoch_ms(pp.ts) AS ts_ms, pp.event_id,
      |  round(list_reduce(pp.pre, (acc, x, i) -> acc + ks.kl[i] * (x - acc)), 6) AS level,
      |  round(g.p, 6) AS variance
      |FROM pp CROSS JOIN ks JOIN g ON g.i = pp.rn
      |ORDER BY pp.user_id, ts_ms, pp.event_id""".stripMargin

  /** GARCH(1,1) conditional-variance filtering with FIXED parameters
    * (ω, α, β) over an innovation (return) series — the
    * volatility-clustering model q56's per-day estimators can't see
    * inside a day: σ² reacts to each shock (α·r²) and decays (β·σ²)
    * instead of averaging a window. Per series in (`ts`, `tie`)
    * order:
    *   σ²₁ = r₁²;   σ²_t = ω + α·r²_{t−1} + β·σ²_{t−1}
    * (σ²_t is the variance OF r_t given the past — the one-step
    * forecast). Parameter FITTING is out of scope (an MLE over the
    * libm log-likelihood — not bit-portable); filtering with given
    * parameters is the production operation a risk pipeline runs per
    * tick. Emits (`key` AS STRING, `ts_ms`, `tie`, `sigma2`, `sigma`);
    * sqrt is IEEE-correctly-rounded in both engines, so even `sigma`
    * is bit-exact. O(1) state, contracts as [[ewmaExactOf]].
    *
    * Parity: the oracle folds [r₁²] ⧺ squares[1..t−1] with
    * init = r₁² and step acc → ω + α·x + β·acc — the identical op
    * sequence (the prepend makes the init consume σ²₁ and the first
    * step consume r₁², fixing the off-by-one a plain prefix fold
    * would have).
    * Auto-dispatches to [[ParScanOps.garchParOf]] past the
    * longest-series threshold (see [[dispatch]]). */
  def garchOf(df: DataFrame, key: String, ts: String, tie: String,
              value: String, omega: Double, alpha: Double,
              beta: Double): DataFrame =
    dispatch(df, key, Seq(key, ts, tie, value))(
      d => garchSeqOf(d, key, ts, tie, value, omega, alpha, beta))(
      (d, n) => ParScanOps.garchParOf(d, key, ts, tie, value, omega, alpha, beta, n))

  /** The bit-exact sequential GARCH scan (the [[garchOf]] oracle form,
    * no dispatch). */
  def garchSeqOf(df: DataFrame, key: String, ts: String, tie: String,
                 value: String, omega: Double, alpha: Double,
                 beta: Double): DataFrame = {
    require(omega > 0, s"omega must be > 0, got $omega")
    require(alpha >= 0 && beta >= 0 && alpha + beta < 1,
      s"need alpha, beta >= 0 and alpha + beta < 1, got $alpha, $beta")
    val s = df.sparkSession
    import s.implicits._
    df.select(col(key).cast("string").as("__k"), epochMs(col(ts)).as("__t"),
        col(tie).cast("long").as("__i"), col(value).cast("double").as("__x"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("__t").asc, col("__i").asc) { (k, rows) =>
        var s2 = 0.0
        var prevR2 = 0.0
        var first = true
        rows.map { case (_, t, i, r) =>
          if (first) { s2 = r * r; first = false }
          else s2 = omega + alpha * prevR2 + beta * s2
          prevR2 = r * r
          (k, t, i, s2, math.sqrt(s2))
        }
      }
      .toDF(key, "ts_ms", tie, "sigma2", "sigma")
  }

  /** #q63 GARCH(1,1) filtering (ω=0.1, α=0.1, β=0.8) over each user's
    * value-change innovations. */
  private val q63: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val innov = t(s, dir, "events")
      .withColumn("r", col("value") - lag(col("value"), 1).over(w))
      .filter(col("r").isNotNull)
    garchOf(innov, "user_id", "ts", "event_id", "r",
        omega = 0.1, alpha = 0.1, beta = 0.8)
      .select(col("user_id").cast("long").as("user_id"), col("ts_ms"),
        col("event_id"), r6(col("sigma2")).as("sigma2"),
        r6(col("sigma")).as("sigma"))
      .orderBy("user_id", "ts_ms", "event_id")
  }

  private val q63Sql =
    """WITH d AS (
      |  SELECT user_id, ts, event_id,
      |    value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS r
      |  FROM events),
      |i AS (SELECT user_id, ts, event_id, r FROM d WHERE r IS NOT NULL),
      |p AS (
      |  SELECT user_id, ts, event_id,
      |    list(r * r) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
      |  FROM i),
      |f AS (
      |  SELECT user_id, ts, event_id,
      |    list_reduce(list_prepend(pre[1], pre[1:len(pre)-1]),
      |      (acc, x) -> 0.1 + 0.1 * x + 0.8 * acc) AS s2
      |  FROM p)
      |SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
      |  round(s2, 6) AS sigma2, round(sqrt(s2), 6) AS sigma
      |FROM f
      |ORDER BY user_id, ts_ms, event_id""".stripMargin

  /** #q39 exact EWMA (adjust=False) per user series. */
  private val q39: Q = (s, dir) =>
    ewmaExactOf(t(s, dir, "events"), "user_id", "ts", "event_id", "value", alpha = 0.25)
      .select(col("user_id").cast("long").as("user_id"), col("ts_ms"),
        col("event_id"), r6(col("ewma")).as("ewma"))
      .orderBy("user_id", "ts_ms", "event_id")

  private val q39Sql =
    """WITH p AS (
      |  SELECT user_id, ts, event_id,
      |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
      |  FROM events)
      |SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
      |  round(list_reduce(pre, (acc, x) -> acc*0.75 + 0.25*x), 6) AS ewma
      |FROM p
      |ORDER BY user_id, ts_ms, event_id""".stripMargin

  /** #q40 Wilder RSI(14) per user series. The oracle reproduces the
    * recurrence as two prefix-list folds over the delta stream (rows
    * rn ≥ 2); rn ≥ 15 ⇔ 14 deltas seen. */
  private val q40: Q = (s, dir) =>
    rsiWilderOf(t(s, dir, "events"), "user_id", "ts", "event_id", "value", n = 14)
      .select(col("user_id").cast("long").as("user_id"), col("ts_ms"),
        col("event_id"), r6(col("rsi")).as("rsi"))
      .orderBy("user_id", "ts_ms", "event_id")

  private val q40Sql =
    """WITH d AS (
      |  SELECT user_id, ts, event_id,
      |    value - lag(value, 1) OVER o AS dd,
      |    row_number() OVER o AS rn
      |  FROM events
      |  WINDOW o AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |g AS (
      |  SELECT user_id, event_id, rn,
      |    CASE WHEN dd > 0 THEN dd ELSE 0.0 END AS gn,
      |    CASE WHEN dd < 0 THEN -dd ELSE 0.0 END AS ls
      |  FROM d WHERE rn >= 2),
      |f AS (
      |  SELECT user_id, event_id, rn,
      |    list_reduce(list(gn) OVER w, (acc, x) -> acc*(1.0 - 1.0/14.0) + (1.0/14.0)*x) AS ag,
      |    list_reduce(list(ls) OVER w, (acc, x) -> acc*(1.0 - 1.0/14.0) + (1.0/14.0)*x) AS al
      |  FROM g
      |  WINDOW w AS (PARTITION BY user_id ORDER BY rn
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT d.user_id, epoch_ms(d.ts) AS ts_ms, d.event_id,
      |  round(CASE WHEN f.rn >= 15 THEN
      |    CASE WHEN ag + al = 0 THEN 50.0 ELSE 100.0*ag/(ag + al) END
      |  END, 6) AS rsi
      |FROM d LEFT JOIN f ON d.user_id = f.user_id AND d.event_id = f.event_id
      |ORDER BY d.user_id, ts_ms, d.event_id""".stripMargin

  /** #q44 MACD(12, 26, 9) per user series — the three-recurrence
    * composition (see [[macdOf]]). The oracle folds each row's prefix
    * list once per span EWMA and once more over the derived macd
    * stream — the identical op sequence, so every double matches. */
  private val q44: Q = (s, dir) =>
    macdOf(t(s, dir, "events"), "user_id", "ts", "event_id", "value",
        fast = 12, slow = 26, signal = 9)
      .select(col("user_id").cast("long").as("user_id"), col("ts_ms"),
        col("event_id"), r6(col("macd")).as("macd"),
        r6(col("signal")).as("signal"), r6(col("hist")).as("hist"))
      .orderBy("user_id", "ts_ms", "event_id")

  private val q44Sql =
    """WITH p AS (
      |  SELECT user_id, ts, event_id,
      |    list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pre
      |  FROM events),
      |m AS (
      |  SELECT user_id, ts, event_id,
      |    list_reduce(pre, (acc, x) -> acc*(1.0 - 2.0/13.0) + (2.0/13.0)*x)
      |      - list_reduce(pre, (acc, x) -> acc*(1.0 - 2.0/27.0) + (2.0/27.0)*x) AS macd
      |  FROM p),
      |f AS (
      |  SELECT user_id, ts, event_id, macd,
      |    list_reduce(
      |      list(macd) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |      (acc, x) -> acc*(1.0 - 2.0/10.0) + (2.0/10.0)*x) AS sig
      |  FROM m)
      |SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
      |  round(macd, 6) AS macd, round(sig, 6) AS signal,
      |  round(macd - sig, 6) AS hist
      |FROM f
      |ORDER BY user_id, ts_ms, event_id""".stripMargin

  /** Supertrend(n, mult) — the ATR trailing-stop indicator (pandas_ta
    * `supertrend`; the classic Olivier Seban construction), and the
    * richest recurrence in the scan family: FIVE carried states (RMA
    * ATR, final upper band, final lower band, trend direction, prev
    * close) with data-dependent BRANCHING — the band ratchet
    * (`fu` only moves down unless price closed above it; `fl` only
    * moves up unless price closed below it) and the trend flip
    * (close crossing the active band) are conditionals no window
    * frame expresses. Per `key` series in `ts` order over
    * (high, low, close) bars:
    *   tr₁ = hi−lo, trₜ = max(hi−lo, |hi−pc|, |lo−pc|)
    *   atr₁ = tr₁, atrₜ = (1−1/n)·atrₜ₋₁ + (1/n)·trₜ   (Wilder RMA)
    *   bu/bl = hl2 ± mult·atr
    *   fuₜ = bu if (bu < fuₜ₋₁ or pc > fuₜ₋₁) else fuₜ₋₁   (ratchet)
    *   flₜ = bl if (bl > flₜ₋₁ or pc < flₜ₋₁) else flₜ₋₁
    *   trendₜ flips on close crossing the new band; supertrend is the
    *   active band (fl in up-trends, fu in down-trends).
    * Emits (`key` AS STRING, ts_ms, close, atr, supertrend, trend).
    * O(1) state; contracts as [[ewmaExactOf]] (bars: `ts` alone must
    * order each series).
    *
    * Parity: the oracle replays the recurrence as a per-series
    * RECURSIVE CTE advancing every series one bar per iteration, each
    * state expression textually identical to the fold step (same IEEE
    * op order), so all five states are bit-exact — branching included,
    * since double comparisons agree when the bits do. */
  def supertrendOf(df: DataFrame, key: String, ts: String, high: String,
                   low: String, close: String, n: Int, mult: Double): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(mult > 0, s"mult must be > 0, got $mult")
    val s = df.sparkSession
    import s.implicits._
    val alpha = 1.0 / n
    val beta = 1.0 - alpha
    df.select(col(key).cast("string").as("__k"), epochMs(col(ts)).as("__t"),
        col(high).cast("double").as("__h"), col(low).cast("double").as("__l"),
        col(close).cast("double").as("__c"))
      .as[(String, Long, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("__t").asc) { (k, rows) =>
        var first = true
        var atr = 0.0; var fu = 0.0; var fl = 0.0; var trend = 1; var pc = 0.0
        rows.map { case (_, t, hi, lo, cl) =>
          val hl2 = (hi + lo) / 2.0
          if (first) {
            val tr = hi - lo
            atr = tr; fu = hl2 + mult * atr; fl = hl2 - mult * atr; trend = 1
            first = false
          } else {
            val tr = math.max(hi - lo, math.max(math.abs(hi - pc), math.abs(lo - pc)))
            atr = atr * beta + alpha * tr
            val bu = hl2 + mult * atr
            val bl = hl2 - mult * atr
            val nfu = if (bu < fu || pc > fu) bu else fu
            val nfl = if (bl > fl || pc < fl) bl else fl
            trend = if (trend == 1) { if (cl < nfl) -1 else 1 }
                    else { if (cl > nfu) 1 else -1 }
            fu = nfu; fl = nfl
          }
          pc = cl
          (k, t, cl, atr, if (trend == 1) fl else fu, trend)
        }
      }
      .toDF(key, "ts_ms", close, "atr", "supertrend", "trend")
  }

  /** #q67 Supertrend(10, 3) over hourly bars (the q37/q38 bar table:
    * exact-aggregate OHLC, so every downstream double is bit-exact). */
  private val q67: Q = (s, dir) =>
    supertrendOf(
      graft.Graft.resampleOhlc(t(s, dir, "events"), "event_type", "ts", "event_id", "value", "hour"),
      "event_type", "bucket", "high", "low", "close", n = 10, mult = 3.0)
      .select(col("event_type"), col("ts_ms").as("bucket_ms"), col("close"),
        r6(col("atr")).as("atr"), r6(col("supertrend")).as("supertrend"),
        col("trend").cast("int").as("trend"))
      .orderBy("event_type", "bucket_ms")

  private val q67Sql: String = {
    val alpha = 1.0 / 10
    val beta = 1.0 - alpha
    val m = 3.0
    val a2 = s"(s.atr * $beta + $alpha * b.tr)"
    val bu = s"(b.hl2 + $m * $a2)"
    val bl = s"(b.hl2 - $m * $a2)"
    val fuE = s"(CASE WHEN $bu < s.fu OR b.pc > s.fu THEN $bu ELSE s.fu END)"
    val flE = s"(CASE WHEN $bl > s.fl OR b.pc < s.fl THEN $bl ELSE s.fl END)"
    val trE = s"(CASE WHEN s.trend = 1 THEN (CASE WHEN b.close < $flE THEN -1 ELSE 1 END)" +
      s" ELSE (CASE WHEN b.close > $fuE THEN 1 ELSE -1 END) END)"
    s"""WITH RECURSIVE bb AS (
       |  SELECT event_type, date_trunc('hour', ts) AS bucket,
       |    max(value) AS high, min(value) AS low,
       |    last(value ORDER BY ts, event_id) AS close
       |  FROM events GROUP BY 1, 2),
       |bars AS (
       |  SELECT event_type, bucket, high, low, close,
       |    lag(close) OVER o AS pc,
       |    row_number() OVER o AS rn,
       |    (high + low) / 2.0 AS hl2,
       |    CASE WHEN lag(close) OVER o IS NULL THEN high - low
       |      ELSE greatest(high - low, abs(high - lag(close) OVER o), abs(low - lag(close) OVER o)) END AS tr
       |  FROM bb
       |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket)),
       |st(event_type, rn, atr, fu, fl, trend) AS (
       |  SELECT event_type, rn, tr, hl2 + $m * tr, hl2 - $m * tr, 1
       |  FROM bars WHERE rn = 1
       |  UNION ALL
       |  SELECT b.event_type, b.rn, $a2, $fuE, $flE, $trE
       |  FROM st s JOIN bars b ON b.event_type = s.event_type AND b.rn = s.rn + 1)
       |SELECT s.event_type AS event_type, epoch_ms(b.bucket) AS bucket_ms, b.close,
       |  round(s.atr, 6) AS atr,
       |  round(CASE WHEN s.trend = 1 THEN s.fl ELSE s.fu END, 6) AS supertrend,
       |  CAST(s.trend AS INT) AS trend
       |FROM st s JOIN bars b ON b.event_type = s.event_type AND b.rn = s.rn
       |ORDER BY event_type, bucket_ms""".stripMargin
  }

  /** Parabolic SAR (Wilder) — the stop-and-reverse companion of
    * [[supertrendOf]] and the hardest branching recurrence here: the
    * SAR accelerates toward the extreme point (sar += af·(ep−sar)),
    * clamps to the prior two bars' lows/highs, REVERSES when price
    * pierces it (sar jumps to the old EP, af resets), and af steps by
    * `af0` on each new extreme up to `afMax`. Four carried states
    * (trend, sar, ep, af) plus the two-bar clamp history, every
    * transition a data-dependent branch. Convention (documented, not
    * library-specific): the seed bar emits nothing; bar 2 starts the
    * trend by close_2 ≥ close_1, sar = the seed bar's opposite extreme,
    * ep = the two-bar extreme. Emits (`key` AS STRING, ts_ms, close,
    * psar, trend) from bar 2 on; contracts as [[supertrendOf]].
    *
    * Parity: same per-series RECURSIVE CTE replay as q67 — the clamp
    * history rides the bars CTE as lag columns so the recursion carries
    * only the four states. */
  def psarOf(df: DataFrame, key: String, ts: String, high: String,
             low: String, close: String, af0: Double = 0.02,
             afMax: Double = 0.2): DataFrame = {
    require(af0 > 0 && afMax >= af0, s"need 0 < af0 <= afMax, got $af0/$afMax")
    val s = df.sparkSession
    import s.implicits._
    df.select(col(key).cast("string").as("__k"), epochMs(col(ts)).as("__t"),
        col(high).cast("double").as("__h"), col(low).cast("double").as("__l"),
        col(close).cast("double").as("__c"))
      .as[(String, Long, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("__t").asc) { (k, rows) =>
        var n = 0
        var pHi = 0.0; var pLo = 0.0; var pCl = 0.0   // bar t-1
        var ppHi = 0.0; var ppLo = 0.0                 // bar t-2
        var trend = 1; var sar = 0.0; var ep = 0.0; var af = af0
        rows.flatMap { case (_, t, hi, lo, cl) =>
          n += 1
          val out =
            if (n == 1) None
            else {
              if (n == 2) {
                trend = if (cl >= pCl) 1 else -1
                sar = if (trend == 1) pLo else pHi
                ep = if (trend == 1) math.max(pHi, hi) else math.min(pLo, lo)
                af = af0
              } else {
                val sar0 = sar + af * (ep - sar)
                val sarCl =
                  if (trend == 1) math.min(sar0, math.min(pLo, ppLo))
                  else math.max(sar0, math.max(pHi, ppHi))
                val rev = if (trend == 1) lo < sarCl else hi > sarCl
                if (rev) {
                  sar = ep
                  ep = if (trend == 1) lo else hi
                  trend = -trend
                  af = af0
                } else {
                  sar = sarCl
                  if (trend == 1 && hi > ep) { ep = hi; af = math.min(af + af0, afMax) }
                  else if (trend == -1 && lo < ep) { ep = lo; af = math.min(af + af0, afMax) }
                }
              }
              Some((k, t, cl, sar, trend))
            }
          ppHi = pHi; ppLo = pLo
          pHi = hi; pLo = lo; pCl = cl
          out
        }
      }
      .toDF(key, "ts_ms", close, "psar", "trend")
  }

  /** #q68 PSAR(0.02, 0.2) over the q37 hourly bars. */
  private val q68: Q = (s, dir) =>
    psarOf(
      graft.Graft.resampleOhlc(t(s, dir, "events"), "event_type", "ts", "event_id", "value", "hour"),
      "event_type", "bucket", "high", "low", "close")
      .select(col("event_type"), col("ts_ms").as("bucket_ms"), col("close"),
        r6(col("psar")).as("psar"), col("trend").cast("int").as("trend"))
      .orderBy("event_type", "bucket_ms")

  private val q68Sql: String = {
    val af0 = 0.02
    val afMax = 0.2
    val sar0 = "(s.sar + s.af * (s.ep - s.sar))"
    val sarCl = s"(CASE WHEN s.trend = 1 THEN least($sar0, least(b.plo1, b.plo2))" +
      s" ELSE greatest($sar0, greatest(b.phi1, b.phi2)) END)"
    val rev = s"(CASE WHEN s.trend = 1 THEN b.low < $sarCl ELSE b.high > $sarCl END)"
    val trE = s"(CASE WHEN $rev THEN -s.trend ELSE s.trend END)"
    val sarE = s"(CASE WHEN $rev THEN s.ep ELSE $sarCl END)"
    val epE = s"(CASE WHEN $rev THEN (CASE WHEN s.trend = 1 THEN b.low ELSE b.high END)" +
      s" ELSE (CASE WHEN s.trend = 1 THEN greatest(s.ep, b.high) ELSE least(s.ep, b.low) END) END)"
    val afE = s"(CASE WHEN $rev THEN $af0" +
      s" WHEN (s.trend = 1 AND b.high > s.ep) OR (s.trend = -1 AND b.low < s.ep)" +
      s" THEN least(s.af + $af0, $afMax) ELSE s.af END)"
    s"""WITH RECURSIVE bb AS (
       |  SELECT event_type, date_trunc('hour', ts) AS bucket,
       |    max(value) AS high, min(value) AS low,
       |    last(value ORDER BY ts, event_id) AS close
       |  FROM events GROUP BY 1, 2),
       |bars AS (
       |  SELECT event_type, bucket, high, low, close,
       |    lag(close) OVER o AS pc,
       |    lag(high) OVER o AS phi1, lag(low) OVER o AS plo1,
       |    coalesce(lag(high, 2) OVER o, lag(high) OVER o) AS phi2,
       |    coalesce(lag(low, 2) OVER o, lag(low) OVER o) AS plo2,
       |    row_number() OVER o AS rn
       |  FROM bb
       |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket)),
       |st(event_type, rn, trend, sar, ep, af) AS (
       |  SELECT event_type, rn,
       |    CASE WHEN close >= pc THEN 1 ELSE -1 END,
       |    CASE WHEN close >= pc THEN plo1 ELSE phi1 END,
       |    CASE WHEN close >= pc THEN greatest(phi1, high) ELSE least(plo1, low) END,
       |    $af0
       |  FROM bars WHERE rn = 2
       |  UNION ALL
       |  SELECT b.event_type, b.rn, $trE, $sarE, $epE, $afE
       |  FROM st s JOIN bars b ON b.event_type = s.event_type AND b.rn = s.rn + 1)
       |SELECT s.event_type AS event_type, epoch_ms(b.bucket) AS bucket_ms, b.close,
       |  round(s.sar, 6) AS psar,
       |  CAST(s.trend AS INT) AS trend
       |FROM st s JOIN bars b ON b.event_type = s.event_type AND b.rn = s.rn
       |ORDER BY event_type, bucket_ms""".stripMargin
  }

  /** Wilder's ADX(n) — the directional-movement system as ONE scan
    * pass (public operator behind [[graft.Graft.adx]]): per series in
    * ts order, +DM/−DM/TR from consecutive bars, each RMA-smoothed by
    * the exact recurrence (init = first delta's value, then
    * x·β + α·v, α = 1/n — the [[rsiWilderOf]] smoothing), DI± =
    * 100·smoothed DM/ATR, DX = 100·|DI+−DI−|/(DI++DI−), and ADX = the
    * same RMA over the DX stream (init = first DX). Convention
    * (documented, not library-specific — ta-lib seeds with flat sums
    * instead): all four recurrences init at the FIRST delta; DI/DX
    * emit null until n deltas exist, ADX until 2n−1 (n DI deltas + n−1
    * ADX folds). Zero guards: ATR = 0 ⇒ DI = 0; DI++DI− = 0 ⇒ DX = 0.
    * Seven carried doubles, O(1) state; contracts as [[supertrendOf]].
    *
    * Parity: per-series RECURSIVE CTE replay (the q67 pattern) with
    * tr/pdm/ndm precomputed as lag columns in the bars CTE; α/β are
    * interpolated Scala doubles so both engines fold identical
    * constants. */
  def adxOf(df: DataFrame, key: String, ts: String, high: String,
            low: String, close: String, n: Int = 14): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val s = df.sparkSession
    import s.implicits._
    val alpha = 1.0 / n
    val beta = 1.0 - alpha
    df.select(col(key).cast("string").as("__k"), epochMs(col(ts)).as("__t"),
        col(high).cast("double").as("__h"), col(low).cast("double").as("__l"),
        col(close).cast("double").as("__c"))
      .as[(String, Long, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("__t").asc) { (k, rows) =>
        var j = 0
        var ph = 0.0; var pl = 0.0; var pc = 0.0
        var atr = 0.0; var ps = 0.0; var ns = 0.0; var adx = 0.0
        var seeded = false
        rows.flatMap { case (_, t, hi, lo, cl) =>
          val out =
            if (!seeded) { seeded = true; None }
            else {
              val up = hi - ph
              val dn = pl - lo
              val pdm = if (up > dn && up > 0) up else 0.0
              val ndm = if (dn > up && dn > 0) dn else 0.0
              val tr = math.max(hi - lo, math.max(math.abs(hi - pc), math.abs(lo - pc)))
              j += 1
              if (j == 1) { atr = tr; ps = pdm; ns = ndm }
              else {
                atr = atr * beta + alpha * tr
                ps = ps * beta + alpha * pdm
                ns = ns * beta + alpha * ndm
              }
              val dip = if (atr > 0) 100.0 * ps / atr else 0.0
              val din = if (atr > 0) 100.0 * ns / atr else 0.0
              val dx = if (dip + din == 0) 0.0 else 100.0 * math.abs(dip - din) / (dip + din)
              if (j == 1) adx = dx else adx = adx * beta + alpha * dx
              Some((k, t,
                if (j >= n) Some(dip) else None,
                if (j >= n) Some(din) else None,
                if (j >= n) Some(dx) else None,
                if (j >= 2 * n - 1) Some(adx) else None))
            }
          ph = hi; pl = lo; pc = cl
          out
        }
      }
      .toDF(key, "ts_ms", "di_plus", "di_minus", "dx", "adx")
  }

  /** #q77 ADX(14) over the q37 hourly bars. */
  private val q77: Q = (s, dir) =>
    adxOf(
      graft.Graft.resampleOhlc(t(s, dir, "events"), "event_type", "ts", "event_id", "value", "hour"),
      "event_type", "bucket", "high", "low", "close", n = 14)
      .select(col("event_type"), col("ts_ms").as("bucket_ms"),
        r6(col("di_plus")).as("di_plus"), r6(col("di_minus")).as("di_minus"),
        r6(col("dx")).as("dx"), r6(col("adx")).as("adx"))
      .orderBy("event_type", "bucket_ms")

  private val q77Sql: String = {
    val n = 14
    val alpha = 1.0 / n
    val beta = 1.0 - alpha
    val atrE = s"(s.atr * $beta + $alpha * b.tr)"
    val psE = s"(s.ps * $beta + $alpha * b.pdm)"
    val nsE = s"(s.ns * $beta + $alpha * b.ndm)"
    val dipE = s"(CASE WHEN $atrE > 0 THEN 100.0 * $psE / $atrE ELSE 0.0 END)"
    val dinE = s"(CASE WHEN $atrE > 0 THEN 100.0 * $nsE / $atrE ELSE 0.0 END)"
    val dxE = s"(CASE WHEN $dipE + $dinE = 0 THEN 0.0" +
      s" ELSE 100.0 * abs($dipE - $dinE) / ($dipE + $dinE) END)"
    val dip1 = "(CASE WHEN tr > 0 THEN 100.0 * pdm / tr ELSE 0.0 END)"
    val din1 = "(CASE WHEN tr > 0 THEN 100.0 * ndm / tr ELSE 0.0 END)"
    val dx1 = s"(CASE WHEN $dip1 + $din1 = 0 THEN 0.0" +
      s" ELSE 100.0 * abs($dip1 - $din1) / ($dip1 + $din1) END)"
    s"""WITH RECURSIVE bb AS (
       |  SELECT event_type, date_trunc('hour', ts) AS bucket,
       |    max(value) AS high, min(value) AS low,
       |    last(value ORDER BY ts, event_id) AS close
       |  FROM events GROUP BY 1, 2),
       |bars AS (
       |  SELECT event_type, bucket, row_number() OVER o AS rn,
       |    CASE WHEN high - lag(high) OVER o > lag(low) OVER o - low
       |          AND high - lag(high) OVER o > 0
       |      THEN high - lag(high) OVER o ELSE 0.0 END AS pdm,
       |    CASE WHEN lag(low) OVER o - low > high - lag(high) OVER o
       |          AND lag(low) OVER o - low > 0
       |      THEN lag(low) OVER o - low ELSE 0.0 END AS ndm,
       |    greatest(high - low, abs(high - lag(close) OVER o),
       |      abs(low - lag(close) OVER o)) AS tr
       |  FROM bb
       |  WINDOW o AS (PARTITION BY event_type ORDER BY bucket)),
       |st(event_type, rn, atr, ps, ns, dip, din, dx, adx) AS (
       |  SELECT event_type, rn, tr, pdm, ndm, $dip1, $din1, $dx1, $dx1
       |  FROM bars WHERE rn = 2
       |  UNION ALL
       |  SELECT b.event_type, b.rn, $atrE, $psE, $nsE, $dipE, $dinE, $dxE,
       |    s.adx * $beta + $alpha * $dxE
       |  FROM st s JOIN bars b ON b.event_type = s.event_type AND b.rn = s.rn + 1)
       |SELECT s.event_type AS event_type, epoch_ms(b.bucket) AS bucket_ms,
       |  round(CASE WHEN s.rn - 1 >= $n THEN s.dip END, 6) AS di_plus,
       |  round(CASE WHEN s.rn - 1 >= $n THEN s.din END, 6) AS di_minus,
       |  round(CASE WHEN s.rn - 1 >= $n THEN s.dx END, 6) AS dx,
       |  round(CASE WHEN s.rn - 1 >= ${2 * n - 1} THEN s.adx END, 6) AS adx
       |FROM st s JOIN bars b ON b.event_type = s.event_type AND b.rn = s.rn
       |ORDER BY event_type, bucket_ms""".stripMargin
  }

  /** Heikin-Ashi bars — the smoothed-candle transform: ha_close =
    * (o+h+l+c)/4 per bar, ha_open = the RECURRENCE
    * (prev ha_open + prev ha_close)/2 (init (o₁+c₁)/2), ha_high/low =
    * max/min of the raw extreme and both HA values (public operator
    * behind [[graft.Graft.heikinAshi]]). The open chain is the one
    * sequential part — two carried doubles, O(1) state; every bar
    * emits. Contracts as [[supertrendOf]]; parity via the q67
    * RECURSIVE CTE replay. */
  def heikinAshiOf(df: DataFrame, key: String, ts: String, open: String,
                   high: String, low: String, close: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col(key).cast("string").as("__k"), epochMs(col(ts)).as("__t"),
        col(open).cast("double").as("__o"), col(high).cast("double").as("__h"),
        col(low).cast("double").as("__l"), col(close).cast("double").as("__c"))
      .as[(String, Long, Double, Double, Double, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("__t").asc) { (k, rows) =>
        var hao = 0.0
        var hac = 0.0
        var first = true
        rows.map { case (_, t, o, h, l, c) =>
          val newHac = (o + h + l + c) / 4.0
          if (first) { hao = (o + c) / 2.0; first = false }
          else hao = (hao + hac) / 2.0
          hac = newHac
          val hah = math.max(h, math.max(hao, hac))
          val hal = math.min(l, math.min(hao, hac))
          (k, t, hao, hah, hal, hac)
        }
      }
      .toDF(key, "ts_ms", "ha_open", "ha_high", "ha_low", "ha_close")
  }

  /** #q78 Heikin-Ashi over the q37 hourly bars (exact-pick OHLC). */
  private val q78: Q = (s, dir) =>
    heikinAshiOf(
      graft.Graft.resampleOhlc(t(s, dir, "events"), "event_type", "ts", "event_id", "value", "hour"),
      "event_type", "bucket", "open", "high", "low", "close")
      .select(col("event_type"), col("ts_ms").as("bucket_ms"),
        r6(col("ha_open")).as("ha_open"), r6(col("ha_high")).as("ha_high"),
        r6(col("ha_low")).as("ha_low"), r6(col("ha_close")).as("ha_close"))
      .orderBy("event_type", "bucket_ms")

  private val q78Sql: String =
    """WITH RECURSIVE bb AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    first(value ORDER BY ts, event_id) AS open,
      |    max(value) AS high, min(value) AS low,
      |    last(value ORDER BY ts, event_id) AS close
      |  FROM events GROUP BY 1, 2),
      |bars AS (
      |  SELECT event_type, bucket, open, high, low, close,
      |    (open + high + low + close) / 4.0 AS hac,
      |    row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
      |  FROM bb),
      |st(event_type, rn, hao, hac) AS (
      |  SELECT event_type, rn, (open + close) / 2.0, hac
      |  FROM bars WHERE rn = 1
      |  UNION ALL
      |  SELECT b.event_type, b.rn, (s.hao + s.hac) / 2.0, b.hac
      |  FROM st s JOIN bars b ON b.event_type = s.event_type AND b.rn = s.rn + 1)
      |SELECT s.event_type AS event_type, epoch_ms(b.bucket) AS bucket_ms,
      |  round(s.hao, 6) AS ha_open,
      |  round(greatest(b.high, s.hao, s.hac), 6) AS ha_high,
      |  round(least(b.low, s.hao, s.hac), 6) AS ha_low,
      |  round(s.hac, 6) AS ha_close
      |FROM st s JOIN bars b ON b.event_type = s.event_type AND b.rn = s.rn
      |ORDER BY event_type, bucket_ms""".stripMargin

  /** TRIX(n) — 1-bar rate of change of a TRIPLE span-EWMA
    * (α = 2/(n+1), each stage init at its first input — the q44
    * adjust=False composition rule), the momentum oscillator that
    * filters everything shorter than three smoothing passes:
    * trix = 100·(e3ᵢ/e3ᵢ₋₁ − 1), null on the first bar and whenever
    * the previous e3 is 0. Three carried doubles in ONE scan pass
    * (public operator behind [[graft.Graft.trix]]); contracts as
    * [[ewmaExactOf]]; parity via RECURSIVE CTE carrying (e1, e2, e3)
    * with the previous e3 recovered by lag over the replay.
    * Auto-dispatches to [[ParScanOps.trixParOf]] past the
    * longest-series threshold (see [[dispatch]]). */
  def trixOf(df: DataFrame, key: String, ts: String, tie: String,
             value: String, n: Int = 15): DataFrame =
    dispatch(df, key, Seq(key, ts, tie, value))(
      d => trixSeqOf(d, key, ts, tie, value, n))(
      (d, sl) => ParScanOps.trixParOf(d, key, ts, tie, value, n, sl))

  /** The bit-exact sequential TRIX scan (the [[trixOf]] oracle form,
    * no dispatch). */
  def trixSeqOf(df: DataFrame, key: String, ts: String, tie: String,
                value: String, n: Int = 15): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val s = df.sparkSession
    import s.implicits._
    val alpha = 2.0 / (n + 1)
    val beta = 1.0 - alpha
    df.select(col(key).cast("string").as("__k"), epochMs(col(ts)).as("__t"),
        col(tie).cast("long").as("__i"), col(value).cast("double").as("__x"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("__t").asc, col("__i").asc) { (k, rows) =>
        var e1 = 0.0; var e2 = 0.0; var e3 = 0.0
        var first = true
        rows.map { case (_, t, i, x) =>
          if (first) {
            e1 = x; e2 = x; e3 = x; first = false
            (k, t, i, e3, None: Option[Double])
          } else {
            val pe3 = e3
            e1 = e1 * beta + alpha * x
            e2 = e2 * beta + alpha * e1
            e3 = e3 * beta + alpha * e2
            val trix = if (pe3 != 0.0) Some(100.0 * (e3 / pe3 - 1.0)) else None
            (k, t, i, e3, trix)
          }
        }
      }
      .toDF(key, "ts_ms", tie, "e3", "trix")
  }

  /** #q79 TRIX(15) over hourly closes (the q44 value stream). */
  private val q79: Q = (s, dir) =>
    trixOf(
      graft.Graft.resampleOhlc(t(s, dir, "events"), "event_type", "ts", "event_id", "value", "hour")
        .withColumn("__tie", lit(0L)),
      "event_type", "bucket", "__tie", "close", n = 15)
      .select(col("event_type"), col("ts_ms").as("bucket_ms"),
        r6(col("e3")).as("e3"), r6(col("trix")).as("trix"))
      .orderBy("event_type", "bucket_ms")

  private val q79Sql: String = {
    val n = 15
    val alpha = 2.0 / (n + 1)
    val beta = 1.0 - alpha
    val e1E = s"(s.e1 * $beta + $alpha * b.close)"
    val e2E = s"(s.e2 * $beta + $alpha * $e1E)"
    val e3E = s"(s.e3 * $beta + $alpha * $e2E)"
    s"""WITH RECURSIVE bb AS (
       |  SELECT event_type, date_trunc('hour', ts) AS bucket,
       |    last(value ORDER BY ts, event_id) AS close
       |  FROM events GROUP BY 1, 2),
       |bars AS (
       |  SELECT event_type, bucket, close,
       |    row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
       |  FROM bb),
       |st(event_type, rn, e1, e2, e3) AS (
       |  SELECT event_type, rn, close, close, close
       |  FROM bars WHERE rn = 1
       |  UNION ALL
       |  SELECT b.event_type, b.rn, $e1E, $e2E, $e3E
       |  FROM st s JOIN bars b ON b.event_type = s.event_type AND b.rn = s.rn + 1),
       |r AS (
       |  SELECT event_type, rn, e3,
       |    lag(e3) OVER (PARTITION BY event_type ORDER BY rn) AS pe3
       |  FROM st)
       |SELECT r.event_type AS event_type, epoch_ms(b.bucket) AS bucket_ms,
       |  round(r.e3, 6) AS e3,
       |  round(CASE WHEN r.pe3 IS NOT NULL AND r.pe3 <> 0.0
       |    THEN 100.0 * (r.e3 / r.pe3 - 1.0) END, 6) AS trix
       |FROM r JOIN bars b ON b.event_type = r.event_type AND b.rn = r.rn
       |ORDER BY event_type, bucket_ms""".stripMargin
  }

  /** Holt's linear-trend double exponential smoothing — the
    * level+trend forecasting recurrence (public operator behind
    * [[graft.Graft.holt]]), the next rung after [[ewmaExactOf]]'s
    * level-only smoothing and the classical one-step-ahead
    * forecaster:
    *   seed (bar 2): l = x₂, b = x₂ − x₁
    *   step: f = l + b (the forecast OF this bar made at the last),
    *         l' = α·x + (1−α)·f,  b' = β·(l'−l) + (1−β)·b
    * Emits per bar: level, trend, forecast and err = x − f (null for
    * the two seed bars) — the in-engine backtest column a forecast
    * eval sums. Two carried doubles; contracts as [[ewmaExactOf]];
    * parity via the q67 RECURSIVE CTE replay with the forecast
    * carried through the recursion.
    * Auto-dispatches to [[ParScanOps.holtParOf]] past the
    * longest-series threshold (see [[dispatch]]). */
  def holtOf(df: DataFrame, key: String, ts: String, tie: String,
             value: String, alpha: Double = 0.3, betaT: Double = 0.1): DataFrame =
    dispatch(df, key, Seq(key, ts, tie, value))(
      d => holtSeqOf(d, key, ts, tie, value, alpha, betaT))(
      (d, n) => ParScanOps.holtParOf(d, key, ts, tie, value, alpha, betaT, n))

  /** The bit-exact sequential Holt scan (the [[holtOf]] oracle form,
    * no dispatch). */
  def holtSeqOf(df: DataFrame, key: String, ts: String, tie: String,
                value: String, alpha: Double = 0.3, betaT: Double = 0.1): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(betaT > 0 && betaT < 1, s"beta must be in (0,1), got $betaT")
    val s = df.sparkSession
    import s.implicits._
    df.select(col(key).cast("string").as("__k"), epochMs(col(ts)).as("__t"),
        col(tie).cast("long").as("__i"), col(value).cast("double").as("__x"))
      .as[(String, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("__t").asc, col("__i").asc) { (k, rows) =>
        var n = 0
        var px = 0.0
        var l = 0.0
        var b = 0.0
        rows.map { case (_, t, i, x) =>
          n += 1
          val out =
            if (n == 1) (k, t, i, x, None: Option[Double], None: Option[Double], None: Option[Double])
            else if (n == 2) {
              l = x; b = x - px
              (k, t, i, l, Some(b), None: Option[Double], None: Option[Double])
            } else {
              val f = l + b
              val nl = alpha * x + (1.0 - alpha) * f
              val nb = betaT * (nl - l) + (1.0 - betaT) * b
              l = nl; b = nb
              (k, t, i, l, Some(b), Some(f), Some(x - f))
            }
          px = x
          out
        }
      }
      .toDF(key, "ts_ms", tie, "level", "trend", "forecast", "err")
  }

  /** #q87 Holt(0.3, 0.1) over hourly closes. */
  private val q87: Q = (s, dir) =>
    holtOf(
      graft.Graft.resampleOhlc(t(s, dir, "events"), "event_type", "ts", "event_id", "value", "hour")
        .withColumn("__tie", lit(0L)),
      "event_type", "bucket", "__tie", "close")
      .select(col("event_type"), col("ts_ms").as("bucket_ms"),
        r6(col("level")).as("level"), r6(col("trend")).as("trend"),
        r6(col("forecast")).as("forecast"), r6(col("err")).as("err"))
      .orderBy("event_type", "bucket_ms")

  private val q87Sql: String = {
    val alpha = 0.3
    val betaT = 0.1
    val fE = "(s.l + s.b)"
    val lE = s"($alpha * b.close + ${1.0 - alpha} * $fE)"
    val bE = s"($betaT * ($lE - s.l) + ${1.0 - betaT} * s.b)"
    s"""WITH RECURSIVE bb AS (
       |  SELECT event_type, date_trunc('hour', ts) AS bucket,
       |    last(value ORDER BY ts, event_id) AS close
       |  FROM events GROUP BY 1, 2),
       |bars AS (
       |  SELECT event_type, bucket, close,
       |    lag(close) OVER (PARTITION BY event_type ORDER BY bucket) AS px,
       |    row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS rn
       |  FROM bb),
       |st(event_type, rn, l, b, f) AS (
       |  SELECT event_type, rn, close, close - px, CAST(NULL AS DOUBLE)
       |  FROM bars WHERE rn = 2
       |  UNION ALL
       |  SELECT b.event_type, b.rn, $lE, $bE, $fE
       |  FROM st s JOIN bars b ON b.event_type = s.event_type AND b.rn = s.rn + 1),
       |m AS (
       |  SELECT event_type, bucket, close, rn FROM bars)
       |SELECT m.event_type AS event_type, epoch_ms(m.bucket) AS bucket_ms,
       |  round(CASE WHEN m.rn = 1 THEN m.close ELSE s.l END, 6) AS level,
       |  round(s.b, 6) AS trend,
       |  round(s.f, 6) AS forecast,
       |  round(m.close - s.f, 6) AS err
       |FROM m LEFT JOIN st s ON s.event_type = m.event_type AND s.rn = m.rn
       |ORDER BY event_type, bucket_ms""".stripMargin
  }

  val queries: Map[String, Q] =
    Map("q39_ewma_exact" -> q39, "q40_wilder_rsi" -> q40, "q44_macd" -> q44,
      "q60_kalman" -> q60, "q63_garch" -> q63, "q67_supertrend" -> q67,
      "q68_psar" -> q68, "q77_adx" -> q77, "q78_heikin_ashi" -> q78,
      "q79_trix" -> q79, "q87_holt" -> q87)

  val oracle: Map[String, String] =
    Map("q39_ewma_exact" -> q39Sql, "q40_wilder_rsi" -> q40Sql, "q44_macd" -> q44Sql,
      "q60_kalman" -> q60Sql, "q63_garch" -> q63Sql, "q67_supertrend" -> q67Sql,
      "q68_psar" -> q68Sql, "q77_adx" -> q77Sql, "q78_heikin_ashi" -> q78Sql,
      "q79_trix" -> q79Sql, "q87_holt" -> q87Sql)
}
