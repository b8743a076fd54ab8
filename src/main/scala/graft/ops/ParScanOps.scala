package graft.ops

import graft.F
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** Parallel-prefix (two-pass) alternate execution path for the LINEAR
  * subset of the [[ScanOps]] recurrence family (SURVEY §2 q39/q44/q63/
  * q79/q87).
  *
  * [[ScanOps]]'s segmented scan is exact and O(1)-state, but its wall
  * time is bounded by the LONGEST single series: `groupByKey` lands a
  * whole series in one task, so one 10M-row hot symbol at tick
  * resolution serializes the stage no matter how many cores exist.
  * For recurrences that are AFFINE — yᵢ = M·yᵢ₋₁ + vᵢ with a constant
  * d×d matrix M and a per-row vector vᵢ that depends only on row i's
  * own inputs — the composition of steps is associative:
  * (M, v₂)∘(M, v₁) = (M², M·v₁ + v₂). That admits the classic
  * two-pass parallel prefix (Blelloch scan, at shuffle granularity):
  *
  *   prep    range-repartition each series by (key, ts, tie) into
  *           `slices` sorted splits (ONE shuffle — the same exchange
  *           the sequential path pays, minus the single-task ceiling);
  *   pass A  each (partition, key) run folds its composed offset
  *           q = Σⱼ M^{n−1−j}·vⱼ left-to-right (the same fold loop as
  *           the sequential path, started from the zero state) and
  *           ships ONE tiny summary row to the driver: (run length,
  *           q, the first ≤2 raw input rows);
  *   stitch  the driver threads each series' runs in partition order:
  *           M^n comes from fast exponentiation (M is constant — no
  *           per-row matrix products anywhere), the carry into run
  *           r+1 is M^n·carry + q, and the series' init window
  *           (initLen ∈ {1,2} rows with non-standard maps) is
  *           reconstructed from the shipped head inputs even when a
  *           pathological 1-row first run splits it;
  *   pass B  every run replays its rows sequentially FROM ITS CARRY —
  *           perfectly parallel across runs, identical per-row
  *           arithmetic to the sequential path.
  *
  * Driver state is one d-vector + ≤2 input rows per run — slices ×
  * keys × O(d), the kmeans-centroid budget, NOT row-scaled.
  *
  * FLOATING POINT: within a run, pass B performs the same
  * multiply-add sequence as the sequential scan; across run
  * boundaries the carry is the matrix-power composition, which
  * associates differently than the row-by-row fold, so results are
  * NOT bit-identical to [[ScanOps]] — they agree to a few ulps
  * (every family matrix here is contractive: all |eigenvalues| < 1,
  * so composition error cannot amplify downstream; ParScanSpec pins a
  * measured max-|Δ| bound per wrapper). DETERMINISM REGIME: the
  * bit-exact sequential path remains the oracle-checked gate form and
  * is what [[ScanOps]]' public wrappers return whenever the longest
  * series is at or below `spark.graft.parscan.threshold` (default 2M
  * rows — every gate/bench corpus sits far below it). ABOVE the
  * threshold the wrappers auto-route HERE, and the engine's contract
  * weakens explicitly from bit-reproducible to tolerance-deterministic:
  * results agree with the sequential fold to the ParScanSpec ulp
  * bounds, and because `repartitionByRange` samples boundaries from
  * rdd-id-seeded randomness, two runs of the SAME query can split runs
  * differently and differ in the same few ulps. Callers that need
  * bit-stability on monster series must pin the sequential path
  * (threshold <= 0) and accept the single-task wall, or supply
  * `spark.graft.parscan.maxSeriesRows` so the choice is explicit.
  * SURVEY §5 documents this two-regime contract.
  *
  * SCOPE (the honest boundary, per the round-10 verdict): the affine
  * subset only — EWMA (q39), MACD (q44), GARCH (q63, made affine by
  * carrying r²ₜ₋₁ as a second state component), TRIX (q79), Holt
  * (q87). EXCLUDED, each for a structural reason:
  *   - q67 supertrend / q68 PSAR: data-dependent band ratchets and
  *     trend flips — the per-row map depends on the carried state, so
  *     maps do not compose associatively;
  *   - q77 ADX: the final smoothing consumes DX, a nonlinear RATIO of
  *     smoothed states;
  *   - q40 Wilder RSI: the gain/loss split g = max(xᵢ − xᵢ₋₁, 0) is a
  *     nonlinear function of the carried previous value (the two RMAs
  *     themselves are affine, but their input is not);
  *   - q78 Heikin-Ashi: affine, but per-bar data is already small —
  *     no monster-series regime exists for it.
  * q60 Kalman sits BETWEEN the families — gains data-independent but
  * POSITION-dependent — and gets its own three-pass variant
  * ([[kalmanParOf]]): run lengths first, then a driver-side Riccati
  * sweep supplies every run's boundary variance and gain product, and
  * the remaining two passes are the standard offset-fold + replay.
  */
object ParScanOps {

  // ------------------------------------------------------- tiny dense algebra

  /** out ← m·x (d×d row-major times d-vector); out must not alias x. */
  private def matVec(d: Int, m: Array[Double], x: Array[Double], out: Array[Double]): Unit = {
    var i = 0
    while (i < d) {
      var s = 0.0
      var j = 0
      while (j < d) { s += m(i * d + j) * x(j); j += 1 }
      out(i) = s
      i += 1
    }
  }

  private def matMul(d: Int, a: Array[Double], b: Array[Double]): Array[Double] = {
    val out = new Array[Double](d * d)
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        var s = 0.0
        var k = 0
        while (k < d) { s += a(i * d + k) * b(k * d + j); k += 1 }
        out(i * d + j) = s
        j += 1
      }
      i += 1
    }
    out
  }

  private def matIdentity(d: Int): Array[Double] = {
    val m = new Array[Double](d * d)
    var i = 0
    while (i < d) { m(i * d + i) = 1.0; i += 1 }
    m
  }

  /** m^n by fast exponentiation — O(d³·log n); underflow of a
    * contractive power to subnormals/zero is benign (the carry term it
    * scales vanishes below one ulp of the offset q, exactly the regime
    * where the composition error disappears too). */
  private def matPow(d: Int, m: Array[Double], n: Long): Array[Double] = {
    var result = matIdentity(d)
    var base = m.clone()
    var k = n
    while (k > 0) {
      if ((k & 1L) == 1L) result = matMul(d, result, base)
      base = matMul(d, base, base)
      k >>= 1
    }
    result
  }

  // ------------------------------------------------------------ run plumbing

  /** Pass-A summary of one (partition, key) run: `n` rows folded into
    * offset `q0` (state reached from the zero vector), plus the raw
    * inputs of the first ≤2 rows so the driver can reconstruct init
    * windows and skip-terms without a second data pass. */
  private final case class RunSum(pid: Int, key: String, n: Long,
                                  q0: Array[Double],
                                  head0: Array[Double], head1: Array[Double])

  /** Driver-computed entry state for one run: `base` = global 0-based
    * index of the run's first row in its series; `state` = the series
    * state after row base−1 (null while base < initLen — init not yet
    * complete); `prefix` = raw inputs of global rows [0, min(base,
    * initLen)) so a run that finishes a split init window can. */
  private final case class Entry(base: Long, state: Array[Double],
                                 prefix: Array[Array[Double]])

  /** The generic two-pass engine. `df` rows are projected to
    * (key, epoch-ms ts, tie, inputs); each series must be totally
    * ordered by (ts, tie) (the [[ScanOps]] caller contract).
    *
    *   - `m`       constant d×d step matrix (row-major), y' = m·y + v
    *   - `v`       writes row i's offset vector from its inputs
    *   - `initLen` rows consumed by the init window (1 or 2)
    *   - `init`    state after the first `initLen` rows
    *   - `emit`    (globalIdx, key, tsMs, tie, inputs, yPrev, y) → U;
    *               yPrev/y are null inside the init window (y non-null
    *               from row initLen−1 on, yPrev from row initLen on)
    *
    * Returns an eagerly local-checkpointed Dataset (both passes and
    * the replay have run; the range-sorted input block is unpersisted
    * before returning, so no storage leaks past the call). */
  private[graft] def linearScan[U: Encoder: scala.reflect.ClassTag](
      df: DataFrame, key: String, ts: String, tie: String,
      inputCols: Seq[String], dim: Int, initLen: Int,
      m: Array[Double],
      v: (Array[Double], Array[Double]) => Unit,
      init: Array[Array[Double]] => Array[Double],
      emit: (Long, String, Long, Long, Array[Double], Array[Double], Array[Double]) => U,
      slices: Int): Dataset[U] = {
    require(initLen == 1 || initLen == 2, s"initLen must be 1 or 2, got $initLen")
    require(slices >= 1, s"slices must be >= 1, got $slices")
    require(m.length == dim * dim, s"m must be ${dim}x$dim row-major")
    val spark = df.sparkSession
    import spark.implicits._

    val prepared = df.select(
        col(key).cast("string").as("__k"), F.epochMs(col(ts)).as("__t"),
        col(tie).cast("long").as("__i"),
        array(inputCols.map(c => col(c).cast("double")): _*).as("__x"))
      .as[(String, Long, Long, Array[Double])]
      .repartitionByRange(slices, col("__k"), col("__t"), col("__i"))
      .sortWithinPartitions(col("__k"), col("__t"), col("__i"))
    val rdd = prepared.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ---- pass A: per-run composed offsets + head inputs ----
      val sums = rdd.mapPartitionsWithIndex { (pid, it) =>
        val acc = ArrayBuffer[RunSum]()
        var curKey: String = null
        var n = 0L
        var q = new Array[Double](dim)
        var tmp = new Array[Double](dim)
        val vb = new Array[Double](dim)
        var h0: Array[Double] = null
        var h1: Array[Double] = null
        def flush(): Unit = if (curKey != null) {
          acc += RunSum(pid, curKey, n, q.clone(),
            if (h0 == null) Array.empty else h0,
            if (h1 == null) Array.empty else h1)
        }
        it.foreach { case (k, _, _, x) =>
          if (k != curKey) {
            flush()
            curKey = k; n = 0L
            java.util.Arrays.fill(q, 0.0)
            h0 = null; h1 = null
          }
          if (n == 0L) h0 = x else if (n == 1L) h1 = x
          // q ← m·q + v(x): the identical fold loop pass B replays
          v(x, vb)
          matVec(dim, m, q, tmp)
          var i = 0
          while (i < dim) { tmp(i) += vb(i); i += 1 }
          val sw = q; q = tmp; tmp = sw
          n += 1L
        }
        flush()
        acc.iterator
      }.collect()

      // ---- driver stitch: thread carries in (key, pid) order ----
      val entries = scala.collection.mutable.HashMap[(Int, String), Entry]()
      sums.groupBy(_.key).foreach { case (_, runs) =>
        val ordered = runs.sortBy(_.pid)
        var base = 0L
        var state: Array[Double] = null
        val initInputs = ArrayBuffer[Array[Double]]() // rows [0, initLen)
        def vOf(x: Array[Double]): Array[Double] = {
          val out = new Array[Double](dim); v(x, out); out
        }
        ordered.foreach { r =>
          entries((r.pid, r.key)) = Entry(base,
            if (state != null) state.clone() else null,
            initInputs.take(math.min(base, initLen.toLong).toInt).toArray)
          // accumulate init-window inputs crossing run boundaries
          if (base < initLen && r.n >= 1) initInputs += r.head0
          if (base + 1 < initLen && r.n >= 2) initInputs += r.head1
          val s = math.max(0L, math.min(initLen - base, r.n)) // init rows here
          if (state == null) {
            if (base + r.n >= initLen) {
              // init completes inside this run: state after the run is
              // M^(n−s)·init + (q0 minus the skipped rows' terms)
              val ini = init(initInputs.toArray)
              val qs =
                if (s == r.n) new Array[Double](dim)
                else {
                  val q = r.q0.clone()
                  var j = 0L
                  while (j < s) {
                    val term = new Array[Double](dim)
                    matVec(dim, matPow(dim, m, r.n - 1 - j),
                      vOf(if (j == 0L) r.head0 else r.head1), term)
                    var i = 0
                    while (i < dim) { q(i) -= term(i); i += 1 }
                    j += 1
                  }
                  q
                }
              val carried = new Array[Double](dim)
              matVec(dim, matPow(dim, m, r.n - s), ini, carried)
              var i = 0
              while (i < dim) { carried(i) += qs(i); i += 1 }
              state = carried
            }
          } else {
            val carried = new Array[Double](dim)
            matVec(dim, matPow(dim, m, r.n), state, carried)
            var i = 0
            while (i < dim) { carried(i) += r.q0(i); i += 1 }
            state = carried
          }
          base += r.n
        }
      }
      val bc = spark.sparkContext.broadcast(entries.toMap)

      // ---- pass B: replay each run from its carry ----
      val outRdd = rdd.mapPartitionsWithIndex { (pid, it) =>
        var curKey: String = null
        var gi = 0L
        var y: Array[Double] = null
        var yPrev: Array[Double] = null
        var initBuf: ArrayBuffer[Array[Double]] = null
        val vb = new Array[Double](dim)
        it.map { case (k, t, tieV, x) =>
          if (k != curKey) {
            curKey = k
            val e = bc.value((pid, k))
            gi = e.base
            y = if (e.state != null) e.state.clone() else null
            yPrev = null
            initBuf = ArrayBuffer(e.prefix.toSeq: _*)
          }
          val u =
            if (gi < initLen - 1) { initBuf += x; emit(gi, k, t, tieV, x, null, null) }
            else if (gi == initLen - 1) {
              initBuf += x
              y = init(initBuf.toArray)
              emit(gi, k, t, tieV, x, null, y)
            } else {
              v(x, vb)
              val ny = new Array[Double](dim)
              matVec(dim, m, y, ny)
              var i = 0
              while (i < dim) { ny(i) += vb(i); i += 1 }
              yPrev = y; y = ny
              emit(gi, k, t, tieV, x, yPrev, y)
            }
          gi += 1L
          u
        }
      }
      // eager checkpoint: both passes fully run against the persisted
      // block, which the finally-unpersist below then releases
      graft.Checkpoints.stabilize(spark.createDataset(outRdd))
    } finally rdd.unpersist(blocking = false)
  }

  // ---------------------------------------------- Kalman (position-dependent)

  /** Parallel-prefix twin of [[ScanOps.kalmanOf]] (q60) — the scan the
    * generic engine EXCLUDES, closed by a third pass: the 1-D Kalman
    * gain sequence is data-independent but POSITION-dependent (the
    * scalar Riccati recursion Pᵢ depends only on the row index), so a
    * run's per-row affine maps xh' = (1−Kᵢ)·xh + Kᵢ·zᵢ are unknown
    * until its global offset is. Three passes over the range-sorted
    * persisted block:
    *
    *   pass 1  run LENGTHS only (one cheap scan);
    *   driver  one sequential Riccati sweep over the total length —
    *           pure arithmetic, ~10⁷ steps in milliseconds, O(runs)
    *           state: P at every run boundary (bit-exact: the same
    *           IEEE recursion the sequential scan runs) and the gain
    *           product Aᵣ = Π(1−Kᵢ) per run;
    *   pass 2  per run, replay Kᵢ locally from the boundary P and fold
    *           the offset Bᵣ = Σ (Π aⱼ)·Kᵢzᵢ; driver threads
    *           xh carries: xh_out = Aᵣ·xh_in + Bᵣ;
    *   pass 3  emit replay from (P, xh) boundaries.
    *
    * `variance` is BIT-exact vs the sequential path (data-independent,
    * identical recursion); `level` agrees to composition ulps like the
    * other wrappers (exact at slices = 1). Same output schema and
    * contracts as [[ScanOps.kalmanOf]]. */
  def kalmanParOf(df: DataFrame, key: String, ts: String, tie: String,
                  value: String, procVar: Double, obsVar: Double,
                  slices: Int): DataFrame = {
    require(procVar > 0, s"procVar must be > 0, got $procVar")
    require(obsVar > 0, s"obsVar must be > 0, got $obsVar")
    require(slices >= 1, s"slices must be >= 1, got $slices")
    val spark = df.sparkSession
    import spark.implicits._
    val prepared = df.select(
        col(key).cast("string").as("__k"), graft.F.epochMs(col(ts)).as("__t"),
        col(tie).cast("long").as("__i"), col(value).cast("double").as("__x"))
      .as[(String, Long, Long, Double)]
      .repartitionByRange(slices, col("__k"), col("__t"), col("__i"))
      .sortWithinPartitions(col("__k"), col("__t"), col("__i"))
    val rdd = prepared.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ---- pass 1: run lengths ----
      val lens = rdd.mapPartitionsWithIndex { (pid, it) =>
        val acc = ArrayBuffer[(Int, String, Long)]()
        var curKey: String = null
        var n = 0L
        it.foreach { case (k, _, _, _) =>
          if (k != curKey) {
            if (curKey != null) acc += ((pid, curKey, n))
            curKey = k; n = 0L
          }
          n += 1L
        }
        if (curKey != null) acc += ((pid, curKey, n))
        acc.iterator
      }.collect()

      // ---- driver Riccati sweep: P and gain-product per run ----
      // value = (base global idx, pBefore = P after row base−1 (NaN at
      // base 0), aProd = Π over this run's rows of its gain factor —
      // row 0 contributes a = 0: the init overwrites the state).
      // Plain tuples: they ride a broadcast, a local class could drag
      // a non-serializable outer frame along.
      val runInfo = scala.collection.mutable.HashMap[(Int, String), (Long, Double, Double)]()
      lens.groupBy(_._2).foreach { case (k, runs) =>
        var base = 0L
        var p = Double.NaN // P after previous row; NaN = series not started
        runs.sortBy(_._1).foreach { case (pid, _, n) =>
          val pBefore = p
          var aProd = 1.0
          var j = 0L
          while (j < n) {
            if (base + j == 0L) { p = obsVar; aProd = 0.0 }
            else {
              val pp = p + procVar
              val g = pp / (pp + obsVar)
              p = (1.0 - g) * pp
              aProd *= (1.0 - g)
            }
            j += 1L
          }
          runInfo((pid, k)) = (base, pBefore, aProd)
          base += n
        }
      }
      val bcInfo = spark.sparkContext.broadcast(runInfo.toMap)

      // ---- pass 2: per-run offset fold B (state from zero) ----
      val bs = rdd.mapPartitionsWithIndex { (pid, it) =>
        val acc = ArrayBuffer[(Int, String, Double)]()
        var curKey: String = null
        var b = 0.0
        var p = 0.0
        var started = false
        def flush(): Unit = if (curKey != null) acc += ((pid, curKey, b))
        it.foreach { case (k, _, _, z) =>
          if (k != curKey) {
            flush()
            curKey = k
            val (_, pBefore, _) = bcInfo.value((pid, k))
            b = 0.0; p = pBefore; started = !pBefore.isNaN
          }
          if (!started) { b = z; p = obsVar; started = true }
          else {
            val pp = p + procVar
            val g = pp / (pp + obsVar)
            b = (1.0 - g) * b + g * z
            p = (1.0 - g) * pp
          }
        }
        flush()
        acc.iterator
      }.collect().map { case (pid, k, b) => (pid, k) -> b }.toMap

      // ---- driver: thread xh carries ----
      // explicit started FLAG, never a NaN sentinel: a NaN in the DATA
      // must propagate through the level exactly as the sequential scan
      // propagates it, not silently re-seed the filter mid-series
      val entries = scala.collection.mutable.HashMap[(Int, String), (Boolean, Double, Double)]()
      lens.groupBy(_._2).foreach { case (k, runs) =>
        var started = false
        var xh = 0.0
        runs.sortBy(_._1).foreach { case (pid, _, _) =>
          val (_, pBefore, aProd) = runInfo((pid, k))
          entries((pid, k)) = (started, xh, pBefore)
          val bRun = bs((pid, k))
          xh = if (!started) bRun else aProd * xh + bRun
          started = true
        }
      }
      val bcEntries = spark.sparkContext.broadcast(entries.toMap)

      // ---- pass 3: emit replay from (xh, P) boundaries ----
      val outRdd = rdd.mapPartitionsWithIndex { (pid, it) =>
        var curKey: String = null
        var xh = 0.0
        var p = 0.0
        var started = false
        it.map { case (k, t, i, z) =>
          if (k != curKey) {
            curKey = k
            val (st0, xh0, p0) = bcEntries.value((pid, k))
            xh = xh0; p = p0; started = st0
          }
          if (!started) { xh = z; p = obsVar; started = true }
          else {
            val pp = p + procVar
            val g = pp / (pp + obsVar)
            xh = xh + g * (z - xh)
            p = (1.0 - g) * pp
          }
          (k, t, i, xh, p)
        }
      }
      graft.Checkpoints.stabilize(spark.createDataset(outRdd))
        .toDF(key, "ts_ms", tie, "level", "variance")
    } finally rdd.unpersist(blocking = false)
  }

  // ------------------------------------------------------- public wrappers

  /** Parallel-prefix twin of [[ScanOps.ewmaExactOf]] (q39): exact
    * adjust=False EWMA, y₁ = x₁, yᵢ = (1−α)·yᵢ₋₁ + α·xᵢ. Same output
    * schema; `slices` sorted splits bound the longest series' wall at
    * seriesLen/slices instead of seriesLen. */
  def ewmaExactParOf(df: DataFrame, key: String, ts: String, tie: String,
                     value: String, alpha: Double, slices: Int): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    val spark = df.sparkSession
    import spark.implicits._
    val beta = 1.0 - alpha
    linearScan[(String, Long, Long, Double)](
      df, key, ts, tie, Seq(value), dim = 1, initLen = 1,
      m = Array(beta),
      v = (x, out) => out(0) = alpha * x(0),
      init = rows => Array(rows(0)(0)),
      emit = (_, k, t, i, _, _, y) => (k, t, i, y(0)),
      slices = slices)
      .toDF(key, "ts_ms", tie, "ewma")
  }

  /** Parallel-prefix twin of [[ScanOps.macdOf]] (q44): the
    * three-recurrence adjust=False MACD as ONE 3-D affine scan —
    * state (eF, eS, g) with the signal recurrence substituted through
    * the fast/slow updates so M stays constant:
    *   eF' = bF·eF + aF·x
    *   eS' = bS·eS + aS·x
    *   g'  = aG·bF·eF − aG·bS·eS + bG·g + aG·(aF−aS)·x
    * Same output schema as the sequential form. */
  def macdParOf(df: DataFrame, key: String, ts: String, tie: String,
                value: String, fast: Int = 12, slow: Int = 26,
                signal: Int = 9, slices: Int = 32): DataFrame = {
    require(fast >= 1 && slow > fast && signal >= 1,
      s"need 1 <= fast < slow and signal >= 1, got fast=$fast slow=$slow signal=$signal")
    val spark = df.sparkSession
    import spark.implicits._
    val aF = 2.0 / (fast + 1); val bF = 1.0 - aF
    val aS = 2.0 / (slow + 1); val bS = 1.0 - aS
    val aG = 2.0 / (signal + 1); val bG = 1.0 - aG
    linearScan[(String, Long, Long, Double, Double, Double)](
      df, key, ts, tie, Seq(value), dim = 3, initLen = 1,
      m = Array(
        bF, 0.0, 0.0,
        0.0, bS, 0.0,
        aG * bF, -aG * bS, bG),
      v = (x, out) => {
        out(0) = aF * x(0)
        out(1) = aS * x(0)
        out(2) = aG * (aF - aS) * x(0)
      },
      init = rows => Array(rows(0)(0), rows(0)(0), 0.0),
      emit = (_, k, t, i, _, _, y) => {
        val macd = y(0) - y(1)
        (k, t, i, macd, y(2), macd - y(2))
      },
      slices = slices)
      .toDF(key, "ts_ms", tie, "macd", "signal", "hist")
  }

  /** Parallel-prefix twin of [[ScanOps.garchOf]] (q63): GARCH(1,1)
    * filtering made affine by carrying r²ₜ₋₁ as a second state
    * component — state (σ², r²prev):
    *   σ²' = β·σ² + α·r²prev + ω      r²prev' = r²ₜ
    * so M = [[β, α], [0, 0]] and v = (ω, r²). Init (row 1): σ²₁ = r₁²
    * with r²prev = r₁². Same output schema as the sequential form. */
  def garchParOf(df: DataFrame, key: String, ts: String, tie: String,
                 value: String, omega: Double, alpha: Double, beta: Double,
                 slices: Int = 32): DataFrame = {
    require(omega > 0, s"omega must be > 0, got $omega")
    require(alpha >= 0 && beta >= 0 && alpha + beta < 1,
      s"need alpha, beta >= 0 and alpha + beta < 1, got $alpha, $beta")
    val spark = df.sparkSession
    import spark.implicits._
    linearScan[(String, Long, Long, Double, Double)](
      df, key, ts, tie, Seq(value), dim = 2, initLen = 1,
      m = Array(
        beta, alpha,
        0.0, 0.0),
      v = (x, out) => { out(0) = omega; out(1) = x(0) * x(0) },
      init = rows => {
        val r2 = rows(0)(0) * rows(0)(0)
        Array(r2, r2)
      },
      emit = (_, k, t, i, _, _, y) => (k, t, i, y(0), math.sqrt(y(0))),
      slices = slices)
      .toDF(key, "ts_ms", tie, "sigma2", "sigma")
  }

  /** Parallel-prefix twin of [[ScanOps.trixOf]] (q79): the triple
    * span-EWMA chain substituted into one 3-D affine scan — state
    * (e1, e2, e3) with each stage's update threaded through the one
    * below it so M stays constant:
    *   e1' = b·e1 + a·x
    *   e2' = ab·e1 + b·e2 + a²·x
    *   e3' = a²b·e1 + ab·e2 + b·e3 + a³·x
    * trix = 100·(e3/e3prev − 1) from the previous state (null on row
    * 1 and when e3prev = 0). Same output schema as the sequential
    * form. */
  def trixParOf(df: DataFrame, key: String, ts: String, tie: String,
                value: String, n: Int = 15, slices: Int = 32): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val spark = df.sparkSession
    import spark.implicits._
    val a = 2.0 / (n + 1)
    val b = 1.0 - a
    linearScan[(String, Long, Long, Double, Option[Double])](
      df, key, ts, tie, Seq(value), dim = 3, initLen = 1,
      m = Array(
        b, 0.0, 0.0,
        a * b, b, 0.0,
        a * a * b, a * b, b),
      v = (x, out) => {
        out(0) = a * x(0)
        out(1) = a * a * x(0)
        out(2) = a * a * a * x(0)
      },
      init = rows => Array(rows(0)(0), rows(0)(0), rows(0)(0)),
      emit = (_, k, t, i, _, yPrev, y) => {
        val trix =
          if (yPrev == null || yPrev(2) == 0.0) None
          else Some(100.0 * (y(2) / yPrev(2) - 1.0))
        (k, t, i, y(2), trix)
      },
      slices = slices)
      .toDF(key, "ts_ms", tie, "e3", "trix")
  }

  /** Parallel-prefix twin of [[ScanOps.holtOf]] (q87): Holt's
    * level+trend smoothing as a 2-D affine scan with the TWO-row init
    * window (seed at bar 2: l = x₂, b = x₂ − x₁) — state (l, b):
    *   l' = (1−α)·l + (1−α)·b + α·x
    *   b' = −αβ·l + (β − αβ + 1 − β)·b + αβ·x
    * (the b' row is the trend update with l' substituted through).
    * Bar 1 emits (level = x₁, nulls); bar 2 the seed; bar ≥3 adds the
    * one-step forecast f = lprev + bprev and err = x − f. Same output
    * schema as the sequential form. */
  def holtParOf(df: DataFrame, key: String, ts: String, tie: String,
                value: String, alpha: Double = 0.3, betaT: Double = 0.1,
                slices: Int = 32): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(betaT > 0 && betaT < 1, s"beta must be in (0,1), got $betaT")
    val spark = df.sparkSession
    import spark.implicits._
    val ca = 1.0 - alpha
    linearScan[(String, Long, Long, Double, Option[Double], Option[Double], Option[Double])](
      df, key, ts, tie, Seq(value), dim = 2, initLen = 2,
      m = Array(
        ca, ca,
        -alpha * betaT, betaT - alpha * betaT + 1.0 - betaT),
      v = (x, out) => {
        out(0) = alpha * x(0)
        out(1) = alpha * betaT * x(0)
      },
      init = rows => Array(rows(1)(0), rows(1)(0) - rows(0)(0)),
      emit = (gi, k, t, i, x, yPrev, y) => {
        if (gi == 0L) (k, t, i, x(0), None, None, None)
        else if (yPrev == null) (k, t, i, y(0), Some(y(1)), None, None)
        else {
          val f = yPrev(0) + yPrev(1)
          (k, t, i, y(0), Some(y(1)), Some(f), Some(x(0) - f))
        }
      },
      slices = slices)
      .toDF(key, "ts_ms", tie, "level", "trend", "forecast", "err")
  }
}
