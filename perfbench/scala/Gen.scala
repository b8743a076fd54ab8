package graftbench

import scala.collection.mutable

/** Seeded Binance-shaped 1-minute kline pages. Each market (SPOT,
  * PERPETUAL) has `symbols` symbols whose history grows one tick at a
  * time. A page holds at most [[PageMax]] bars. Every page repeats an
  * overlap buffer of already-landed bars, and some overlap bars carry
  * revised values, so they rewrite stored primary keys. Some pages are
  * landed twice, some arrive late (a re-fetch of an older window with
  * revised values), and the pages of one tick are written in shuffled
  * order. The generator keeps its own heal of everything it landed:
  * per (market, symbol, open time), the bar of the newest tick, then
  * the highest page_seq, then the last array position wins. */
final class KlineGen(seed: Long, val symbols: Int) {
  val PageMax = 1000
  val Markets = Seq("SPOT", "PERPETUAL")
  private val T0 = 1704067200000L // 2024-01-01T00:00Z
  private val Minute = 60000L
  private val rnd = new java.util.Random(seed * 1000003L + 17)
  private var pageSeq = 0L
  private val head = mutable.Map.empty[(String, String), Long] // next open time
  /** Healed store: (market, symbol, openMs) → bar fields as landed. */
  val heal = mutable.Map.empty[(String, String, Long), Bar]

  final case class Bar(openMs: Long, open: String, high: String, low: String, close: String,
                       volume: String, quoteVolume: String, trades: Long,
                       takerBuy: String, takerBuyQuote: String) {
    def json: String =
      s"""[$openMs,"$open","$high","$low","$close","$volume",${openMs + Minute - 1},"$quoteVolume",$trades,"$takerBuy","$takerBuyQuote","0"]"""
  }
  /** One landed page: (symbol, page_seq, payload) for one market. */
  final case class Page(market: String, symbol: String, seq: Long, bars: Seq[Bar]) {
    def line: String =
      s"""{"symbol":"$symbol","page_seq":$seq,"payload":${Json.str(bars.map(_.json).mkString("[", ",", "]"))}}"""
  }

  def symbolName(i: Int): String = f"S$i%03dUSDT"

  /** Deterministic bar for (market, symbol, minute, revision). */
  private def bar(market: String, sym: String, openMs: Long, rev: Int): Bar = {
    val h = new java.util.Random((market + sym).hashCode.toLong * 31 + openMs * 7 + rev * 1000003L + seed)
    val base = 100.0 + (sym.hashCode & 0xff) + (openMs / Minute % 1440) * 0.01
    val o = base + h.nextDouble()
    val c = base + h.nextDouble()
    val hi = math.max(o, c) + h.nextDouble() * 0.5
    val lo = math.min(o, c) - h.nextDouble() * 0.5
    val vol = 10 + h.nextInt(1000)
    def f(x: Double) = f"$x%.4f"
    Bar(openMs, f(o), f(hi), f(lo), f(c), s"$vol.0", f(vol * c), 1L + h.nextInt(500),
      f(vol * 0.4), f(vol * 0.4 * c))
  }

  private def page(market: String, sym: String, from: Long, n: Int, reviseShare: Double,
                   revisedBefore: Long): Page = {
    pageSeq += 1
    val bars = (0 until n).map { i =>
      val t = from + i * Minute
      val rev = if (t < revisedBefore && rnd.nextDouble() < reviseShare) 1 + rnd.nextInt(1000) else 0
      bar(market, sym, t, rev)
    }
    Page(market, sym, pageSeq, bars)
  }

  /** Setup history: `bars` bars for every symbol of both markets, paged. */
  def history(bars: Int): Seq[Page] = for {
    m <- Markets; s <- (0 until symbols).map(symbolName)
    p <- {
      head((m, s)) = T0 + bars * Minute
      (0 until bars by PageMax).map(o => page(m, s, T0 + o * Minute, math.min(PageMax, bars - o), 0.0, 0L))
    }
  } yield p

  /** One tick: for `perTick` seeded symbols of each market, a page of
    * `newBars` new bars preceded by `overlap` already-landed bars (a
    * third of them revised); per market, one seeded page is landed
    * twice and one seeded symbol gets a late re-fetch of an older
    * 60-bar window. The counts are fixed so that every tick does the
    * same amount of work whatever the seed. Shuffled. */
  def tick(perTick: Int, newBars: Int, overlap: Int): Seq[Page] = {
    val pages = mutable.ArrayBuffer.empty[Page]
    for (m <- Markets) {
      val chosen = rnd.ints(0, symbols).distinct().limit(perTick.toLong).toArray.sorted
      val dup = rnd.nextInt(chosen.length)
      val late = rnd.nextInt(chosen.length)
      chosen.zipWithIndex.foreach { case (i, n) =>
        val s = symbolName(i)
        val h = head((m, s))
        val p = page(m, s, h - overlap * Minute, overlap + newBars, 1.0 / 3, h)
        pages += p
        head((m, s)) = h + newBars * Minute
        if (n == dup) pages += p
        if (n == late) {
          val back = T0 + rnd.nextInt(((h - T0) / Minute).toInt - 120).toLong * Minute
          pages += page(m, s, back, 60, 0.5, h)
        }
      }
    }
    val shuffled = pages.toArray
    for (i <- shuffled.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = shuffled(i); shuffled(i) = shuffled(j); shuffled(j) = t
    }
    shuffled.toSeq
  }

  /** Fold one tick's pages into the expected store (newest tick wins,
    * then page_seq, then array position). */
  def applyTick(pages: Seq[Page]): Unit =
    pages.sortBy(_.seq).foreach(p => p.bars.foreach(b => heal((p.market, p.symbol, b.openMs)) = b))
}

/** Seeded clustered vectors for the live ANN index. */
final class VecGen(seed: Long, val dim: Int) {
  private val rnd = new java.util.Random(seed * 7919L + 5)
  private val centers = Array.fill(32, dim)(rnd.nextGaussian())
  def vector(): Array[Double] = {
    val c = centers(rnd.nextInt(centers.length))
    val v = c.map(x => x + 0.35 * rnd.nextGaussian())
    v.map(x => math.rint(x * 1e6) / 1e6)
  }
  def pick[T](xs: IndexedSeq[T], n: Int): Seq[T] = {
    val a = mutable.ArrayBuffer.from(xs)
    val k = math.min(n, a.length)
    for (i <- 0 until k) {
      val j = i + rnd.nextInt(a.length - i); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(k).toSeq
  }
}
