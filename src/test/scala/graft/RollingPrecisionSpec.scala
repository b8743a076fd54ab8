package graft

import graft.ops.{EconOps, FinOps, IndicatorOps, TimeSeriesOps}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Rolling windows keep an error bounded by the window, not by the
  * history: on one deterministic key of 10^6 rows, every rolling
  * operator stays within 1e-9 of a plain-Scala direct computation of
  * its definition (each window summed afresh).
  *
  * The series is a mean-reverting walk near 50 (hourly bars: close,
  * high/low around it, integer volumes 1..13), generated here from a
  * fixed seed. The error of a column is max|got − want| / max|want|
  * over its non-null rows; nulls must agree row for row. A running-sum
  * difference (cum − lag(cum, n)) fails this on `wma`: its weighted sum
  * grows as rn²·x̄, so at 10^6 rows it keeps only ~5 digits. */
class RollingPrecisionSpec extends SparkSpec {
  import spark.implicits._

  private val N = 1000000
  private val HourMs = 3600000L
  private val Tol = 1e-9

  private lazy val (close, high, low, vol) = {
    val rnd = new scala.util.Random(61L)
    val c, h, l, v = new Array[Double](N)
    var lvl = 50.0
    var i = 0
    while (i < N) {
      lvl = 50.0 + 0.999 * (lvl - 50.0) + 0.1 * rnd.nextGaussian()
      c(i) = lvl
      h(i) = lvl + 0.2 * math.abs(rnd.nextGaussian())
      l(i) = lvl - 0.2 * math.abs(rnd.nextGaussian())
      v(i) = (1 + rnd.nextInt(13)).toDouble
      i += 1
    }
    (c, h, l, v)
  }

  /** One key `s`; `i` is the row index, `ts` = i hours after the epoch. */
  private lazy val bars: DataFrame = {
    val (c, h, l, v, hourMs) = (close, high, low, vol, HourMs)
    spark.sparkContext.parallelize(0 until N, 8)
      .map(i => ("s", i.toLong, new java.sql.Timestamp(i * hourMs), c(i), h(i), l(i), v(i)))
      .toDF("k", "i", "ts", "close", "high", "low", "vol")
      .cache()
  }

  override def afterAll(): Unit = {
    bars.unpersist()
    super.afterAll()
  }

  private val byTs: Column = (unix_millis(col("ts")) / HourMs).cast("long")

  /** The named output columns of `df`, placed by the row index `idx`. */
  private def columns(df: DataFrame, idx: Column, cs: String*): Seq[Array[Option[Double]]] = {
    val outs = cs.map(_ => Array.fill[Option[Double]](N)(None))
    df.select(idx.cast("long") +: cs.map(col): _*).collect().foreach { r =>
      val at = r.getLong(0).toInt
      cs.indices.foreach(j => if (!r.isNullAt(j + 1)) outs(j)(at) = Some(r.getDouble(j + 1)))
    }
    outs
  }

  private def assertClose(name: String, got: Array[Option[Double]],
                          want: Array[Option[Double]]): Unit = {
    assert(got.length == want.length, s"$name: length")
    var num, den = 0.0
    var filled = 0
    got.indices.foreach { i =>
      (got(i), want(i)) match {
        case (Some(g), Some(w)) =>
          num = math.max(num, math.abs(g - w)); den = math.max(den, math.abs(w)); filled += 1
        case (None, None) =>
        case (g, w) => fail(s"$name row $i: got $g, want $w")
      }
    }
    assert(filled > 0 && den > 0, s"$name: no values")
    info(f"$name%-18s max error ${num / den}%.2e relative ($filled rows)")
    assert(num / den <= Tol, s"$name: max error ${num / den} relative > $Tol")
  }

  /** Σ f(j) for j in [from, to] — each window summed afresh. */
  private def sumOver(from: Int, to: Int)(f: Int => Double): Double = {
    var s = 0.0
    var j = from
    while (j <= to) { s += f(j); j += 1 }
    s
  }

  /** f(t) from row `minRow` on, null before it. */
  private def from(minRow: Int)(f: Int => Option[Double]): Array[Option[Double]] =
    Array.tabulate(N)(t => if (t >= minRow) f(t) else None)

  private def trueRange(t: Int): Double =
    if (t == 0) high(t) - low(t)
    else math.max(high(t) - low(t),
      math.max(math.abs(high(t) - close(t - 1)), math.abs(low(t) - close(t - 1))))

  private def tp(t: Int): Double = (high(t) + low(t) + close(t)) / 3.0

  test("wma(12) and wma(120) stay within 1e-9 of the direct weighted mean at 10^6 rows") {
    Seq(12, 120).foreach { n =>
      val Seq(got) = columns(Graft.wma(bars, "k", "ts", "i", "close", n), col("i"), "wma")
      val want = from(n - 1) { t =>
        Some(sumOver(0, n - 1)(j => close(t - n + 1 + j) * (j + 1)) / (n * (n + 1) / 2.0))
      }
      assertClose(s"wma($n)", got, want)
    }
  }

  test("rollingAutoCorr, bollinger, rsi and atr stay within 1e-9 of their definitions") {
    val n = 20
    val Seq(corr) = columns(Graft.rollingAutoCorr(bars, "k", "ts", "i", "close", n),
      col("i"), "corr")
    // corr's stated definition is the raw-moment closed form over the
    // five window sums; its own cancellation (n·Σx² vs (Σx)² near 50²)
    // is a property of that form, not of how the windows are summed
    assertClose("rollingAutoCorr", corr, from(n) { t =>
      val sx = sumOver(t - n + 1, t)(close)
      val sy = sumOver(t - n, t - 1)(close)
      val sxy = sumOver(t - n + 1, t)(j => close(j) * close(j - 1))
      val sx2 = sumOver(t - n + 1, t)(j => close(j) * close(j))
      val sy2 = sumOver(t - n, t - 1)(j => close(j) * close(j))
      Some((n * sxy - sx * sy) / (math.sqrt(n * sx2 - sx * sx) * math.sqrt(n * sy2 - sy * sy)))
    })

    val Seq(mid, upper, lower) = columns(
      Graft.bollinger(bars, "k", "ts", "i", "close", n, width = 2.0),
      col("i"), "mid", "upper", "lower")
    val band = Array.tabulate(N) { t =>
      if (t < n) None
      else {
        val m = sumOver(t - n, t - 1)(close) / n
        Some((m, math.sqrt(sumOver(t - n, t - 1)(j => (close(j) - m) * (close(j) - m)) / n)))
      }
    }
    assertClose("bollinger.mid", mid, band.map(_.map(_._1)))
    assertClose("bollinger.upper", upper, band.map(_.map { case (m, sd) => m + 2.0 * sd }))
    assertClose("bollinger.lower", lower, band.map(_.map { case (m, sd) => m - 2.0 * sd }))

    val r = 14
    val Seq(rsi) = columns(Graft.rsi(bars, "k", "ts", "i", "close", r), col("i"), "rsi")
    assertClose("rsi", rsi, from(r) { t =>
      val g = sumOver(t - r + 1, t)(j => math.max(close(j) - close(j - 1), 0.0))
      val l = sumOver(t - r + 1, t)(j => math.max(close(j - 1) - close(j), 0.0))
      Some(if (g + l == 0) 50.0 else 100.0 * g / (g + l))
    })

    val Seq(atr) = columns(Graft.atr(bars, "k", "ts", "high", "low", "close", r),
      col("i"), "atr")
    assertClose("atr", atr, from(r - 1)(t => Some(sumOver(t - r + 1, t)(trueRange) / r)))
  }

  test("amihud, cci, keltner, mfi and vortex stay within 1e-9 of their definitions") {
    val n = 20
    val Seq(amihud) = columns(EconOps.amihudOf(bars, "k", "ts", "close", "vol", n),
      byTs, "amihud")
    assertClose("amihudOf", amihud, from(n) { t =>
      Some(sumOver(t - n + 1, t)(j => math.abs(close(j) / close(j - 1) - 1.0) / vol(j)) / n)
    })

    val Seq(sma, md, cci) = columns(
      IndicatorOps.cciOf(bars, "k", "ts", "high", "low", "close", n),
      byTs, "sma", "mean_dev", "cci")
    val cciWant = Array.tabulate(N) { t =>
      if (t < n - 1) None
      else {
        val m = sumOver(t - n + 1, t)(tp) / n
        val d = sumOver(t - n + 1, t)(j => math.abs(tp(j) - m)) / n
        Some((m, d, (tp(t) - m) / (0.015 * d)))
      }
    }
    assertClose("cciOf.sma", sma, cciWant.map(_.map(_._1)))
    assertClose("cciOf.mean_dev", md, cciWant.map(_.map(_._2)))
    assertClose("cciOf.cci", cci, cciWant.map(_.map(_._3)))

    val k = 10
    val Seq(center, upper) = columns(
      IndicatorOps.keltnerOf(bars, "k", "ts", "high", "low", "close", k),
      byTs, "center", "upper")
    val centerWant = from(k - 1)(t => Some(sumOver(t - k + 1, t)(tp) / k))
    assertClose("keltnerOf.center", center, centerWant)
    assertClose("keltnerOf.upper", upper, from(k - 1) { t =>
      Some(centerWant(t).get + sumOver(t - k + 1, t)(j => high(j) - low(j)) / k)
    })

    val r = 14
    val Seq(mfi) = columns(
      IndicatorOps.mfiOf(bars, "k", "ts", "high", "low", "close", "vol", r), byTs, "mfi")
    assertClose("mfiOf", mfi, from(r) { t =>
      val p = sumOver(t - r + 1, t)(j => if (tp(j) > tp(j - 1)) tp(j) * vol(j) else 0.0)
      val q = sumOver(t - r + 1, t)(j => if (tp(j) < tp(j - 1)) tp(j) * vol(j) else 0.0)
      Some(if (p + q == 0.0) 50.0 else 100.0 * p / (p + q))
    })

    val Seq(viPlus, viMinus) = columns(
      IndicatorOps.vortexOf(bars, "k", "ts", "high", "low", "close", r),
      byTs, "vi_plus", "vi_minus")
    val trSum = from(r)(t => Some(sumOver(t - r + 1, t)(trueRange)))
    assertClose("vortexOf.vi_plus", viPlus, from(r) { t =>
      Some(sumOver(t - r + 1, t)(j => math.abs(high(j) - low(j - 1))) / trSum(t).get)
    })
    assertClose("vortexOf.vi_minus", viMinus, from(r) { t =>
      Some(sumOver(t - r + 1, t)(j => math.abs(low(j) - high(j - 1))) / trSum(t).get)
    })
  }

  test("vpin, pairs spread and decompose stay within 1e-9 of their definitions") {
    // vpin: tick-rule signs, 50-unit volume buckets, mean of the last 20
    // bucket imbalances; integer volumes keep the clock itself exact
    val (budget, n) = (50.0, 20)
    val bucketOf = new Array[Int](N)
    var cv = 0.0
    (0 until N).foreach { i => bucketOf(i) = math.floor(cv / budget).toInt; cv += vol(i) }
    val nb = bucketOf(N - 1) + 1
    val sv, tv = new Array[Double](nb)
    (0 until N).foreach { i =>
      val sgn =
        if (i > 0 && close(i) > close(i - 1)) 1.0 else if (i > 0 && close(i) < close(i - 1)) -1.0
        else 0.0
      sv(bucketOf(i)) += sgn * vol(i); tv(bucketOf(i)) += vol(i)
    }
    val imb = Array.tabulate(nb)(b => math.abs(sv(b)) / tv(b))
    val vpinGot = Array.fill[Option[Double]](nb)(None)
    EconOps.vpinOf(bars, "k", "ts", Seq("i"), "close", "vol", budget, n)
      .select(col("bar"), col("vpin")).collect()
      .foreach(r => if (!r.isNullAt(1)) vpinGot(r.getLong(0).toInt) = Some(r.getDouble(1)))
    assertClose("vpinOf", vpinGot, Array.tabulate(nb) { b =>
      if (b < n - 1) None else Some(sumOver(b - n + 1, b)(imb) / n)
    })

    // pairs: A = 2·B + 5 + noise on the same hourly grid. The full-grid
    // OLS hedge is a cumulative statistic, not a rolling window, so the
    // direct spread takes the operator's own α/β
    val rnd = new scala.util.Random(62L)
    val a = Array.tabulate(N)(i => 2.0 * close(i) + 5.0 + 0.05 * rnd.nextGaussian())
    val hourMs = HourMs
    val aBars = spark.sparkContext.parallelize(0 until N, 8)
      .map(i => ("A", new java.sql.Timestamp(i * hourMs), a(i))).toDF("k", "ts", "close")
    val p = 24
    val pairs = FinOps.pairsSpreadOf(aBars.unionByName(bars.select("k", "ts", "close")),
      "k", "ts", "close", "A", "s", p).withColumnRenamed("bucket", "ts")
    val Seq(alpha, beta, pMean, pSd, z) = columns(pairs, byTs,
      "alpha", "beta", "spread_mean", "spread_sd", "z")
    val (al, be) = (alpha(0).get, beta(0).get)
    val spread = Array.tabulate(N)(i => a(i) - (al + be * close(i)))
    val stats = Array.tabulate(N) { t =>
      if (t < p - 1) None
      else {
        val m = sumOver(t - p + 1, t)(spread) / p
        val sd = math.sqrt(sumOver(t - p + 1, t)(j => (spread(j) - m) * (spread(j) - m)) / p)
        Some((m, sd, (spread(t) - m) / sd))
      }
    }
    assertClose("pairsSpreadOf.mean", pMean, stats.map(_.map(_._1)))
    assertClose("pairsSpreadOf.sd", pSd, stats.map(_.map(_._2)))
    assertClose("pairsSpreadOf.z", z, stats.map(_.map(_._3)))

    // decompose: centred 25-bar mean, hour-of-day means of the
    // detrended series, residual
    val (w, h) = (25, 12)
    val trend = Array.tabulate(N) { t =>
      if (t < h || t + h >= N) None else Some(sumOver(t - h, t + h)(close) / w)
    }
    val cellSum, cellN = new Array[Double](24)
    trend.indices.foreach(t => trend(t).foreach { m => cellSum(t % 24) += close(t) - m; cellN(t % 24) += 1 })
    val seasonal = Array.tabulate[Option[Double]](N)(t => Some(cellSum(t % 24) / cellN(t % 24)))
    val Seq(tGot, sGot, rGot) = columns(
      TimeSeriesOps.decomposeOf(bars, "k", "ts", "close", w).withColumnRenamed("bucket", "ts"),
      byTs, "trend", "seasonal", "residual")
    assertClose("decomposeOf.trend", tGot, trend)
    assertClose("decomposeOf.seasonal", sGot, seasonal)
    assertClose("decomposeOf.residual", rGot, Array.tabulate(N) { t =>
      trend(t).map(m => close(t) - m - seasonal(t).get)
    })
  }
}
