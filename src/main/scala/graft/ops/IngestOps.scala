package graft.ops

import graft.{F, Tables}
import graft.sources.{OptionJson, RatesJson, SymbolJson}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest-path queries (SURVEY.md §2 sources) — drive the source
  * layers end-to-end inside the driver's gate. Payload pages are built
  * in-plan from the events table (there is no raw-payload table in
  * testdata), so the parse → explode → dedup plan is exercised on real
  * driver runs.
  *
  * Oracle-checked since round 8: each page carries a leading `_ord`
  * field (zero-padded event_id) that the parse schemas do NOT declare —
  * `from_json` ignores undeclared JSON keys, exactly as the real
  * parsers ignore extra API fields — and `sort_array` orders the
  * collected records by it, so the in-page position `__pos` (the
  * PageDedup tie-break) is the event_id rank: deterministic under any
  * partitioning, and replayable in the oracle as a plain
  * `row_number() OVER (... ORDER BY page_seq, event_id)`. Output
  * timestamps are projected to epoch-ms longs (same column names) for
  * the exact-hash compare. */
object IngestOps {
  type Q = (SparkSession, String) => DataFrame
  import Tables.t
  import F._

  /** Unique, fixed-width (string sort == numeric sort) in-page order
    * discriminator; first struct field so `sort_array` orders by it. */
  private def ord: Column = lpad(col("event_id").cast("string"), 12, "0").as("_ord")

  /** #o01 options exercise-history ingest
    * (crypto_data_pipline_clickhouse.py:246-441): one synthetic page
    * per event_type built with to_json(collect_list(struct(…))) over a
    * sampled slice, then OptionJson.parseExercise → dedupKeepFirst —
    * the declarative form of the reference's fetch→concat→dedup loop. */
  private val o01: Q = (s, dir) => {
    val ev = t(s, dir, "events").filter(pmod(col("event_id"), lit(37L)) === 0)
    val pages = ev.groupBy(col("event_type").as("underlying"))
      .agg(to_json(sort_array(collect_list(struct(
        ord,
        concat(col("event_type"), lit("-"), col("event_id")).as("symbol"),
        col("value").as("strikePrice"),
        (col("value") * lit(1.01)).as("realStrikePrice"),
        lit("REALISTIC_VALUE_STRICKEN").as("strikeResult"),
        epochMs(col("ts")).as("expiryDate"))))).as("payload"))
      .withColumn("page_seq", lit(1L))
    OptionJson.dedupExerciseKeepFirst(
      OptionJson.parseExercise(pages, "payload", "underlying", Seq("page_seq")),
      col("page_seq"))
      .withColumn("expiryDate", epochMs(col("expiryDate")))
      .orderBy("symbol")
  }

  /** #o02 funding-rate ingest (crypto_data_pipline_clickhouse.py:717-940):
    * one page per event_type (symbol = type+"USDT", so keys COLLIDE and
    * the keep-last heal is exercised on real data); every 7th record's
    * fundingRate is a non-numeric string, exercising the reference's
    * to_numeric(errors='coerce').fillna(0) rule end-to-end. */
  private val o02: Q = (s, dir) => {
    val ev = t(s, dir, "events").filter(pmod(col("event_id"), lit(29L)) === 0)
    val pages = ev.groupBy(col("event_type").as("market"))
      .agg(to_json(sort_array(collect_list(struct(
        ord,
        concat(col("event_type"), lit("USDT")).as("symbol"),
        epochMs(col("ts")).cast("string").as("fundingTime"),
        when(pmod(col("event_id"), lit(203L)) === 0, lit("n/a"))
          .otherwise((col("value") / lit(1e6)).cast("string")).as("fundingRate"),
        col("value").cast("string").as("markPrice"))))).as("payload"))
      .withColumn("page_seq", lit(1L))
    RatesJson.dedupFundingKeepLast(
      RatesJson.parseFunding(pages, "payload", Seq("page_seq")), col("page_seq"))
      .withColumn("fundingTime", epochMs(col("fundingTime")))
      .orderBy("symbol", "fundingTime")
  }

  /** #o03 margin-interest-rate ingest
    * (crypto_data_pipline_clickhouse.py:461-716): same landed-page
    * contract keyed (asset, timestamp); vipLevel cycles 0-8. */
  private val o03: Q = (s, dir) => {
    val ev = t(s, dir, "events").filter(pmod(col("event_id"), lit(31L)) === 0)
    val pages = ev.groupBy(col("event_type").as("market"))
      .agg(to_json(sort_array(collect_list(struct(
        ord,
        col("event_type").as("asset"),
        epochMs(col("ts")).cast("string").as("timestamp"),
        (col("value") / lit(1e4)).cast("string").as("dailyInterestRate"),
        pmod(col("event_id"), lit(9L)).cast("string").as("vipLevel"))))).as("payload"))
      .withColumn("page_seq", lit(1L))
    RatesJson.dedupMarginKeepLast(
      RatesJson.parseMargin(pages, "payload", Seq("page_seq")), col("page_seq"))
      .withColumn("timestamp", epochMs(col("timestamp")))
      .orderBy("asset", "timestamp")
  }

  /** #o04 option-KLINE ingest (crypto_data_pipline_clickhouse.py:
    * 1031-1041 — the object-shaped kline payload, vs the array-shaped
    * spot/futures one): two synthetic pages per symbol whose minute
    * buckets COLLIDE across pages, so parseOptionKlines → page-concat →
    * dedupKlinesKeepLast exercises the newest-page-wins heal on the
    * (symbol, interval, timestamp) PK — the option-market interval
    * rides the payload, so a 1h bar never collapses into the 1m bar
    * sharing its openTime. */
  private val o04: Q = (s, dir) => {
    val ev = t(s, dir, "events").filter(pmod(col("event_id"), lit(31L)) === 0)
    val minuteMs = epochMs(col("ts")) - pmod(epochMs(col("ts")), lit(60000L))
    def page(seq: Long, slice: Column => Column, bump: Double): DataFrame = ev
      .filter(slice(col("event_id")))
      .groupBy(concat(col("event_type"), lit("-C")).as("sym"))
      .agg(to_json(sort_array(collect_list(struct(
        ord,
        (col("value") * lit(bump)).cast("string").as("open"),
        (col("value") * lit(1.02)).cast("string").as("high"),
        (col("value") * lit(0.98)).cast("string").as("low"),
        (col("value") * lit(1.01)).cast("string").as("close"),
        col("user_id").cast("string").as("volume"),
        (col("user_id") * 2).cast("string").as("amount"),
        when(pmod(col("event_id"), lit(2L)) === 0, lit("1m")).otherwise(lit("1h")).as("interval"),
        pmod(col("event_id"), lit(500L)).cast("string").as("tradeCount"),
        col("user_id").cast("string").as("takerVolume"),
        col("user_id").cast("string").as("takerAmount"),
        minuteMs.cast("string").as("openTime"),
        (minuteMs + 59999L).cast("string").as("closeTime"))))).as("payload"))
      .withColumn("page_seq", lit(seq))
    // page 2 re-fetches half the keys with REVISED opens (bump 1.1):
    // the keep-last heal must surface page 2's values on collided PKs
    val pages = page(1L, _ => lit(true), 1.0).unionByName(
      page(2L, id => pmod(id, lit(62L)) === 0, 1.1))
    OptionJson.dedupKlinesKeepLast(
      OptionJson.parseOptionKlines(pages, "payload", "sym", Seq("page_seq")),
      col("page_seq"))
      .withColumn("timestamp", epochMs(col("timestamp")))
      .withColumn("close_time", epochMs(col("close_time")))
      .orderBy("symbol", "interval", "timestamp")
  }

  /** #p02 the reference's DAILY MARKET LOOP as ONE oracle-checked plan
    * (the market-side sibling of TextOps p01): ingest → upsert-heal →
    * spot align → premium → WMA → extreme-move report, composed exactly
    * as the reference's scheduler runs them daily
    * (scheduler_clickhouse.py:26-147 sequencing;
    * crypto_data_pipeline_duckdb.py:1546-1594 upsert, :1229-1243
    * premium, :1246-1263 WMA, :1720-1764 extreme cases).
    *
    * Stage 1 (ingest): two landed funding-rate pages per market — page 2
    * is "today's" re-fetch that revises markPrice on half the keys —
    * parsed by [[RatesJson.parseFunding]] and healed by the keep-last
    * upsert rule (page 2 wins on collided (symbol, fundingTime) PKs).
    * Stage 2 (align): as-of backward join to the denser spot series via
    * [[graft.Graft.asofJoin]] — the last spot print at-or-before each
    * funding row; premium = markPrice/spot − 1 (:1237).
    * Stage 3 (indicator): WMA(12) of the premium per symbol via
    * [[graft.Graft.wma]] (bounded frames, error ~1e-15 relative; the
    * oracle folds each row's 12-value frame by the definition, which
    * agrees far inside the r6 rounding).
    * Stage 4 (report): LAG(5) premium change, |Δ| > 2 threshold, 1h
    * debounce, newest-first top-20 with the Asia/Shanghai wall clock —
    * the q12 extreme-case shape applied to the derived premium.
    *
    * The gate proves the COMPOSITION — page heal feeding the as-of,
    * the as-of feeding the indicator, the indicator feeding the report —
    * not just each operator alone. Plan shape: the page build + heal
    * shuffles on (symbol, fundingTime); the as-of union+carry, WMA and
    * report windows all share ONE partitioning on symbol (a single
    * exchange reused across four window stages); the top-20 is a
    * TakeOrdered, never a full sort. */
  private val p02: Q = (s, dir) => {
    val perp = RatesJson.dedupFundingKeepLast(
      RatesJson.parseFunding(fundingPages(s, dir), "payload", Seq("page_seq")),
      col("page_seq"))
      .select(col("symbol"), col("fundingTime").as("ts"),
        col("fundingRate"), col("markPrice"))
    marketReportOf(perp, spotSeries(s, dir))
  }

  /** #p05 the p02 daily market loop run CONTINUOUSLY
    * ([[graft.streaming.StreamOps.streamingMarketPipeline]]): the
    * IDENTICAL funding pages are written to a landing dir (one json
    * file per page), the checkpointed stream replays them one page per
    * micro-batch (maxFilesPerTrigger = 1 — the daily-tick shape:
    * page-heal → revision-precedence store upsert → marketReportOf
    * recompute per tick), and the query returns the FINAL report
    * table. Hash-checked against the SAME DuckDB oracle as p02 —
    * batch == stream is not a spec-only claim here, it is the round's
    * parity gate. Fresh temp store/checkpoint per invocation, so
    * Verify double-runs and Bench warm+timed passes stay independent
    * and deterministic. */
  private val p05: Q = (s, dir) => {
    val base = java.nio.file.Files.createTempDirectory("graft_p05_").toString
    val landing = s"$base/landing"
    new java.io.File(landing).mkdirs()
    val pages = fundingPages(s, dir)
      .select(col("market").as("symbol"), col("page_seq"), col("payload"))
    Seq(1L, 2L).foreach { p =>
      pages.filter(col("page_seq") === p).coalesce(1)
        .write.mode("append").json(landing)
    }
    val q = graft.streaming.StreamOps.streamingMarketPipeline(
      s, landing, spotSeries(s, dir), s"$base/store", s"$base/report",
      s"$base/ckpt", maxFilesPerTrigger = 1)
    try { q.processAllAvailable() } finally q.stop()
    // the report is top-20-sized: checkpoint it EAGERLY so the whole
    // temp tree (landing + store + ckpt + report) can be deleted now —
    // repeated Verify/Bench cycles must not accumulate /tmp garbage
    val out = graft.Checkpoints.stabilize(s.read.parquet(s"$base/report")
      .orderBy(col("ts_ms").desc, col("symbol")))
    deleteRecursively(new java.io.File(base))
    out
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** p02's stage-1 landed pages — one funding page per market and
    * fetch day; page 2 is "today's" re-fetch that revises markPrice on
    * half the keys (the upsert delta the heal must surface). Returns
    * (market, payload, page_seq); shared by the batch gate and p05's
    * landing-dir writer so both pipelines consume IDENTICAL input. */
  private[graft] def fundingPages(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").filter(pmod(col("event_id"), lit(29L)) === 0)
    def page(seq: Long, slice: Column => Column, price: Column): DataFrame = ev
      .filter(slice(col("event_id")))
      .groupBy(col("event_type").as("market"))
      .agg(to_json(sort_array(collect_list(struct(
        ord,
        concat(col("event_type"), lit("USDT")).as("symbol"),
        epochMs(col("ts")).cast("string").as("fundingTime"),
        (col("value") / lit(1e6)).cast("string").as("fundingRate"),
        price.cast("string").as("markPrice"))))).as("payload"))
      .withColumn("page_seq", lit(seq))
    page(1L, _ => lit(true), col("value")).unionByName(
      page(2L, id => pmod(id, lit(58L)) === 0, col("value") * lit(1.001)))
  }

  /** The p02 spot side: the denser series the funding rows align to
    * (last print at-or-before each funding timestamp). */
  private[graft] def spotSeries(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").filter(pmod(col("event_id"), lit(7L)) === 0)
      .groupBy(concat(col("event_type"), lit("USDT")).as("symbol"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("spot"))

  /** p02's stages 2–4 as ONE reusable plan — spot align → premium →
    * WMA(12) → debounced extreme report — shared verbatim by the batch
    * gate (p02) and the continuous pipeline
    * ([[graft.streaming.StreamOps.streamingMarketPipeline]], p05):
    * batch==stream equality is equality of INPUTS, not a re-derivation.
    * `perp` must carry (symbol, ts, fundingRate, markPrice) healed to
    * one row per (symbol, ts). */
  def marketReportOf(perp: DataFrame, spot: DataFrame): DataFrame =
    reportFromCandidates(marketCandidatesOf(perp, spot))

  /** Stages 2–4 WITHOUT the final global top-20: every debounced
    * extreme row, projected to the report schema. Split out so the
    * continuous pipeline (p05) can recompute candidates for ONLY the
    * symbols a micro-batch touched: every stage here — the as-of
    * align, WMA(12), LAG(5) change, gap debounce — partitions by
    * `symbol`, so a symbol's candidate rows are a function of that
    * symbol's perp/spot history alone, and untouched symbols'
    * candidates are invariant across a tick. Only the final
    * [[reportFromCandidates]] cut is global. */
  def marketCandidatesOf(perp: DataFrame, spot: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // stage 2: align to the denser spot series (last print at-or-before);
    // a zero spot print is a degenerate quote — excluded, or the premium
    // ratio divides by zero (ANSI throws; caught by the ×10 probe where
    // a zero-value event landed on the spot sample)
    val prem = graft.Graft.asofJoin(perp, spot, "symbol", "ts", Seq("spot"))
      .filter(col("spot").isNotNull && col("spot") =!= 0.0)
      .withColumn("premium", col("markPrice") / col("spot") - lit(1.0))
    // stage 3: WMA(12) of the premium ((symbol, ts) is the healed PK, so
    // ordering by ts alone is total — the id tie-break never fires)
    val wm = graft.Graft.wma(prem, "symbol", "ts", "ts", "premium", n = 12)
    // stage 4: LAG(5) change + 1h debounce
    val w = Window.partitionBy(col("symbol")).orderBy(col("ts"))
    val cand = wm
      .withColumn("value_change", col("premium") - lag(col("premium"), 5).over(w))
      .filter(abs(col("value_change")) > lit(2.0))
    cand
      .withColumn("gap_ms", epochMs(col("ts")) - epochMs(lag(col("ts"), 1).over(w)))
      .filter(col("gap_ms").isNull || col("gap_ms") > lit(3600000L))
      .select(col("symbol"), epochMs(col("ts")).as("ts_ms"),
        epochMs(from_utc_timestamp(col("ts"), "Asia/Shanghai")).as("ts_cn_ms"),
        col("fundingRate"), col("markPrice"), col("spot"),
        r6(col("premium")).as("premium"), r6(col("wma")).as("wma12"),
        r6(col("value_change")).as("value_change"), col("gap_ms"))
  }

  /** The report's global cut: newest-first top-20 over the candidate
    * rows ((ts_ms, symbol) is unique — the heal's PK — so the order is
    * total and the cut deterministic). Plans as a TakeOrdered, never a
    * full sort. */
  def reportFromCandidates(cands: DataFrame): DataFrame =
    cands.orderBy(col("ts_ms").desc, col("symbol")).limit(20)

  /** #o05 spot/perp exchange-info symbol-dim ingest + fetch universe
    * (crypto_data_pipeline_duckdb.py:57-155 flattens, :970-972 universe
    * rules): synthetic spot and UM-futures exchangeInfo pages built
    * in-plan from events — one symbol per (event_type, user-bucket),
    * quote assets cycling USDT/USDC/BTC/BNB so the universe rule has
    * both hits and misses, spot filter lists ORDER-SHUFFLED on odd
    * groups (plus a decoy ICEBERG_PARTS entry) so the by-type pick is
    * exercised, perp contractTypes mixing PERPETUAL with quarterlies
    * (dropped), and some perp deliveryDates null (excluded from the
    * fetch universe). [[SymbolJson.parseSpotSymbols]] /
    * [[SymbolJson.parsePerpSymbols]] flatten both pages;
    * [[SymbolJson.spotUniverse]] / [[SymbolJson.perpUniverse]] join
    * back as the `in_universe` flag — the gate hash-checks every typed
    * column of BOTH flattens and both universe rules in one output. */
  private val o05: Q = (s, dir) => {
    val ev = t(s, dir, "events")
    val nd = lit(null).cast("double")
    def fstruct(t: String, mnP: Column, mxP: Column, tk: Column,
                mnQ: Column, mxQ: Column, st: Column): Column =
      struct(lit(t).as("filterType"), mnP.as("minPrice"), mxP.as("maxPrice"),
        tk.as("tickSize"), mnQ.as("minQty"), mxQ.as("maxQty"), st.as("stepSize"))
    def quoteOf(grp: Column): Column = element_at(
      array(lit("USDT"), lit("USDC"), lit("BTC"), lit("BNB")),
      (pmod(grp, lit(4L)) + 1).cast("int"))

    // ---- spot page: one row per (event_type, user_id%20) group ----
    val sg = ev.groupBy(col("event_type"), pmod(col("user_id"), lit(20L)).as("grp"))
      .agg(min(col("value")).as("v"))
      .withColumn("base", concat(col("event_type"), col("grp")))
      .withColumn("quote", quoteOf(col("grp")))
    val pfS = fstruct("PRICE_FILTER", col("v") * 0.9, col("v") * 1.1,
      (pmod(col("grp"), lit(3L)) + 1) / 100.0, nd, nd, nd)
    val lfS = fstruct("LOT_SIZE", nd, nd, nd,
      (pmod(col("grp"), lit(5L)) + 1) / 1000.0, col("v") * 100.0, lit(0.001))
    val decoy = fstruct("ICEBERG_PARTS", nd, nd, nd, nd, nd, nd)
    val spotPage = sg.select(struct(
        concat(col("base"), col("quote")).as("symbol"),
        col("base").as("baseAsset"),
        col("quote").as("quoteAsset"),
        when(pmod(col("grp"), lit(5L)) === 0, lit("BREAK")).otherwise(lit("TRADING")).as("status"),
        (pmod(col("grp"), lit(3L)) =!= 0).as("isSpotTradingAllowed"),
        (pmod(col("grp"), lit(2L)) === 0).as("isMarginTradingAllowed"),
        lit(8L).as("baseAssetPrecision"),
        (pmod(col("grp"), lit(6L)) + 2).as("quoteAssetPrecision"),
        when(pmod(col("grp"), lit(2L)) === 0, array(pfS, lfS))
          .otherwise(array(lfS, pfS, decoy)).as("filters")).as("rec"))
      .agg(to_json(sort_array(collect_list(col("rec")))).as("payload"))
    val spot = SymbolJson.parseSpotSymbols(spotPage, "payload")

    // ---- perp page: one row per (event_type, user_id%15) group ----
    val pg = ev.groupBy(col("event_type"), pmod(col("user_id"), lit(15L)).as("grp"))
      .agg(min(col("value")).as("v"),
        min(epochMs(col("ts"))).as("on_ms"), max(epochMs(col("ts"))).as("dd_ms"))
      .withColumn("base", concat(col("event_type"), col("grp")))
      .withColumn("quote", quoteOf(col("grp")))
    val pfP = fstruct("PRICE_FILTER", col("v") * 0.8, col("v") * 1.2, lit(0.5), nd, nd, nd)
    val lfP = fstruct("LOT_SIZE", nd, nd, nd, lit(1.0), col("v") * 50.0, lit(1.0))
    val perpPage = pg.select(struct(
        concat(col("base"), col("quote")).as("symbol"),
        col("base").as("baseAsset"),
        col("quote").as("quoteAsset"),
        col("quote").as("marginAsset"),
        when(pmod(col("grp"), lit(3L)) === 0, lit("CURRENT_QUARTER"))
          .otherwise(lit("PERPETUAL")).as("contractType"),
        when(pmod(col("grp"), lit(2L)) === 0, array(lit("DEFI")))
          .otherwise(array(lit("LAYER1"), lit("PoW"))).as("underlyingSubType"),
        when(pmod(col("grp"), lit(7L)) === 0, lit("SETTLING")).otherwise(lit("TRADING")).as("status"),
        col("on_ms").as("onboardDate"),
        when(pmod(col("grp"), lit(4L)) === 0, lit(null).cast("long"))
          .otherwise(col("dd_ms")).as("deliveryDate"),
        pmod(col("grp"), lit(5L)).as("pricePrecision"),
        pmod(col("grp"), lit(4L)).as("quantityPrecision"),
        array(pfP, lfP).as("filters")).as("rec"))
      .agg(to_json(sort_array(collect_list(col("rec")))).as("payload"))
    val perp = SymbolJson.parsePerpSymbols(perpPage, "payload")

    // ---- the fetch-universe rules as in-plan flags ----
    val sUni = SymbolJson.spotUniverse(spot)
      .withColumnRenamed("symbol", "u_symbol").withColumn("u", lit(true))
    val pUni = SymbolJson.perpUniverse(perp).select(col("symbol").as("u_symbol"))
      .withColumn("u", lit(true))
    val nb = lit(null).cast("boolean")
    val nl = lit(null).cast("long")
    val ns = lit(null).cast("string")
    val spotOut = spot.join(sUni, col("symbol") === col("u_symbol"), "left")
      .select(col("symbol"), col("base_asset"), col("quote_asset"), ns.as("margin_asset"),
        col("exchange"), col("type"), ns.as("underlying_sub_type"), col("status"),
        nl.as("onboard_ms"), nl.as("delivery_ms"),
        col("base_precision"), col("quote_precision"),
        col("is_spot_trading_allowed"), col("is_margin_trading_allowed"),
        nl.as("price_precision"), nl.as("quantity_precision"),
        r6(col("min_price")).as("min_price"), r6(col("max_price")).as("max_price"),
        r6(col("tick_size")).as("tick_size"), r6(col("min_qty")).as("min_qty"),
        r6(col("max_qty")).as("max_qty"), r6(col("step_size")).as("step_size"),
        coalesce(col("u"), lit(false)).as("in_universe"))
    val perpOut = perp.join(pUni, col("symbol") === col("u_symbol"), "left")
      .select(col("symbol"), col("base_asset"), col("quote_asset"), col("margin_asset"),
        col("exchange"), col("type"), col("underlyingSubType").as("underlying_sub_type"),
        col("status"),
        epochMs(col("onboard_date")).as("onboard_ms"), epochMs(col("delivery_date")).as("delivery_ms"),
        nl.as("base_precision"), nl.as("quote_precision"),
        nb.as("is_spot_trading_allowed"), nb.as("is_margin_trading_allowed"),
        col("price_precision"), col("quantity_precision"),
        r6(col("min_price")).as("min_price"), r6(col("max_price")).as("max_price"),
        r6(col("tick_size")).as("tick_size"), r6(col("min_qty")).as("min_qty"),
        r6(col("max_qty")).as("max_qty"), r6(col("step_size")).as("step_size"),
        coalesce(col("u"), lit(false)).as("in_universe"))
    spotOut.unionByName(perpOut).orderBy("type", "symbol")
  }

  val queries: Map[String, Q] = Map(
    "o01_option_exercise" -> o01,
    "o02_funding_rates" -> o02,
    "o03_margin_rates" -> o03,
    "o04_option_klines" -> o04,
    "o05_symbol_universe" -> o05,
    "p02_market_pipeline" -> p02,
    "p05_streaming_pipeline" -> p05)

  /** DuckDB replay of the ingest gates: the JSON round-trip is the
    * identity on these payloads (shortest-repr double/long strings cast
    * back exactly), so the oracle reproduces build → concat → keyed
    * keep-first/keep-last directly from `events`, with the in-page
    * tie-break replayed as ORDER BY event_id (see `_ord` above). */
  val oracle: Map[String, String] = Map(
    "o01_option_exercise" ->
      """SELECT event_type || '-' || CAST(event_id AS VARCHAR) AS symbol,
        |  'binance' AS exchange, 'OPTION' AS type,
        |  event_type AS underlying,
        |  epoch_ms(ts) AS expiryDate,
        |  value AS strikePrice,
        |  value * 1.01 AS realStrikePrice,
        |  'REALISTIC_VALUE_STRICKEN' AS strikeResult
        |FROM events WHERE event_id % 37 = 0
        |ORDER BY symbol""".stripMargin,
    "o02_funding_rates" ->
      """WITH src AS (
        |  SELECT event_type || 'USDT' AS symbol,
        |    epoch_ms(ts) AS fundingTime,
        |    CASE WHEN event_id % 203 = 0 THEN 0.0 ELSE value / 1000000.0 END AS fundingRate,
        |    value AS markPrice, event_id
        |  FROM events WHERE event_id % 29 = 0)
        |SELECT symbol, 'binance' AS exchange, 'PERPETUAL' AS type,
        |  fundingTime, fundingRate, markPrice
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY symbol, fundingTime ORDER BY event_id DESC) AS rn
        |      FROM src)
        |WHERE rn = 1
        |ORDER BY symbol, fundingTime""".stripMargin,
    "o03_margin_rates" ->
      """WITH src AS (
        |  SELECT event_type AS asset,
        |    epoch_ms(ts) AS timestamp,
        |    value / 10000.0 AS dailyInterestRate,
        |    event_id % 9 AS vipLevel, event_id
        |  FROM events WHERE event_id % 31 = 0)
        |SELECT asset, 'binance' AS exchange, 'Margin' AS type,
        |  timestamp, dailyInterestRate, vipLevel
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY asset, timestamp ORDER BY event_id DESC) AS rn
        |      FROM src)
        |WHERE rn = 1
        |ORDER BY asset, timestamp""".stripMargin,
    "o04_option_klines" ->
      """WITH ev AS (
        |  SELECT *, epoch_ms(ts) - (epoch_ms(ts) % 60000) AS minute_ms
        |  FROM events WHERE event_id % 31 = 0),
        |pages AS (
        |  SELECT 1 AS page_seq, event_id,
        |    event_type || '-C' AS symbol,
        |    CASE WHEN event_id % 2 = 0 THEN '1m' ELSE '1h' END AS "interval",
        |    minute_ms AS timestamp, minute_ms + 59999 AS close_time,
        |    value * 1.0 AS open, value * 1.02 AS high, value * 0.98 AS low,
        |    value * 1.01 AS close,
        |    CAST(user_id AS DOUBLE) AS volume,
        |    CAST(user_id * 2 AS DOUBLE) AS quote_volume,
        |    CAST(user_id AS DOUBLE) AS taker_buy_volume,
        |    CAST(user_id AS DOUBLE) AS taker_buy_quote_volume,
        |    event_id % 500 AS trades_count
        |  FROM ev
        |  UNION ALL
        |  SELECT 2, event_id, event_type || '-C',
        |    CASE WHEN event_id % 2 = 0 THEN '1m' ELSE '1h' END,
        |    minute_ms, minute_ms + 59999,
        |    value * 1.1, value * 1.02, value * 0.98, value * 1.01,
        |    CAST(user_id AS DOUBLE), CAST(user_id * 2 AS DOUBLE),
        |    CAST(user_id AS DOUBLE), CAST(user_id AS DOUBLE),
        |    event_id % 500
        |  FROM ev WHERE event_id % 62 = 0)
        |SELECT symbol, 'binance' AS exchange, 'OPTION' AS type, "interval",
        |  timestamp, close_time, open, high, low, close, volume, quote_volume,
        |  taker_buy_volume, taker_buy_quote_volume, trades_count,
        |  0.0 AS ignore
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY symbol, "interval", timestamp
        |        ORDER BY page_seq DESC, event_id DESC) AS rn
        |      FROM pages)
        |WHERE rn = 1
        |ORDER BY symbol, "interval", timestamp""".stripMargin,
    "o05_symbol_universe" ->
      """WITH sg AS (
        |  SELECT event_type, user_id % 20 AS grp, min(value) AS v
        |  FROM events GROUP BY 1, 2),
        |sq AS (
        |  SELECT *, CASE grp % 4 WHEN 0 THEN 'USDT' WHEN 1 THEN 'USDC'
        |              WHEN 2 THEN 'BTC' ELSE 'BNB' END AS quote
        |  FROM sg),
        |spot AS (
        |  SELECT event_type || CAST(grp AS VARCHAR) || quote AS symbol,
        |    event_type || CAST(grp AS VARCHAR) AS base_asset,
        |    quote AS quote_asset,
        |    CAST(NULL AS VARCHAR) AS margin_asset,
        |    'binance' AS exchange, 'SPOT' AS type,
        |    CAST(NULL AS VARCHAR) AS underlying_sub_type,
        |    CASE WHEN grp % 5 = 0 THEN 'BREAK' ELSE 'TRADING' END AS status,
        |    CAST(NULL AS BIGINT) AS onboard_ms, CAST(NULL AS BIGINT) AS delivery_ms,
        |    CAST(8 AS BIGINT) AS base_precision, grp % 6 + 2 AS quote_precision,
        |    grp % 3 <> 0 AS is_spot_trading_allowed,
        |    grp % 2 = 0 AS is_margin_trading_allowed,
        |    CAST(NULL AS BIGINT) AS price_precision, CAST(NULL AS BIGINT) AS quantity_precision,
        |    round(v * 0.9, 6) AS min_price, round(v * 1.1, 6) AS max_price,
        |    round((grp % 3 + 1) / 100.0, 6) AS tick_size,
        |    round((grp % 5 + 1) / 1000.0, 6) AS min_qty,
        |    round(v * 100.0, 6) AS max_qty, round(0.001, 6) AS step_size,
        |    quote IN ('USDT','USDC') AS in_universe
        |  FROM sq),
        |pg AS (
        |  SELECT event_type, user_id % 15 AS grp, min(value) AS v,
        |    min(epoch_ms(ts)) AS on_ms, max(epoch_ms(ts)) AS dd_ms
        |  FROM events GROUP BY 1, 2),
        |pq AS (
        |  SELECT *, CASE grp % 4 WHEN 0 THEN 'USDT' WHEN 1 THEN 'USDC'
        |              WHEN 2 THEN 'BTC' ELSE 'BNB' END AS quote
        |  FROM pg WHERE grp % 3 <> 0),
        |perp AS (
        |  SELECT event_type || CAST(grp AS VARCHAR) || quote AS symbol,
        |    event_type || CAST(grp AS VARCHAR) AS base_asset,
        |    quote AS quote_asset, quote AS margin_asset,
        |    'binance' AS exchange, 'PERPETUAL' AS type,
        |    CASE WHEN grp % 2 = 0 THEN 'DEFI' ELSE 'LAYER1,PoW' END AS underlying_sub_type,
        |    CASE WHEN grp % 7 = 0 THEN 'SETTLING' ELSE 'TRADING' END AS status,
        |    on_ms AS onboard_ms,
        |    CASE WHEN grp % 4 = 0 THEN CAST(NULL AS BIGINT) ELSE dd_ms END AS delivery_ms,
        |    CAST(NULL AS BIGINT) AS base_precision, CAST(NULL AS BIGINT) AS quote_precision,
        |    CAST(NULL AS BOOLEAN) AS is_spot_trading_allowed,
        |    CAST(NULL AS BOOLEAN) AS is_margin_trading_allowed,
        |    grp % 5 AS price_precision, grp % 4 AS quantity_precision,
        |    round(v * 0.8, 6) AS min_price, round(v * 1.2, 6) AS max_price,
        |    round(0.5, 6) AS tick_size, round(1.0, 6) AS min_qty,
        |    round(v * 50.0, 6) AS max_qty, round(1.0, 6) AS step_size,
        |    grp % 4 <> 0 AS in_universe
        |  FROM pq)
        |SELECT * FROM (SELECT * FROM spot UNION ALL SELECT * FROM perp)
        |ORDER BY type, symbol""".stripMargin,
    // p05 runs the continuous form of p02 on identical inputs, so both
    // check against the SAME oracle (p02Sql, defined below the map)
    "p02_market_pipeline" -> p02Sql,
    "p05_streaming_pipeline" -> p05Sql)

  /** Shared oracle for the daily market loop (p02 batch, p05 stream —
    * identical inputs, identical report plan, one truth). */
  private lazy val p02Sql: String =
      """WITH src AS (
        |  SELECT event_type || 'USDT' AS symbol, epoch_ms(ts) AS ft_ms,
        |    value / 1000000.0 AS fundingRate, value AS markPrice,
        |    event_id, 1 AS page_seq
        |  FROM events WHERE event_id % 29 = 0
        |  UNION ALL
        |  SELECT event_type || 'USDT', epoch_ms(ts), value / 1000000.0,
        |    value * 1.001, event_id, 2
        |  FROM events WHERE event_id % 58 = 0),
        |healed AS (
        |  SELECT symbol, epoch_ms(ft_ms) AS ts, fundingRate, markPrice FROM (
        |    SELECT *, row_number() OVER (PARTITION BY symbol, ft_ms
        |      ORDER BY page_seq DESC, event_id DESC) AS rn FROM src)
        |  WHERE rn = 1),
        |spot AS (
        |  SELECT event_type || 'USDT' AS symbol, ts, arg_max(value, event_id) AS spot
        |  FROM events WHERE event_id % 7 = 0
        |  GROUP BY 1, 2),
        |al AS (
        |  SELECT h.symbol AS symbol, h.ts AS ts, h.fundingRate AS fundingRate,
        |    h.markPrice AS markPrice, s.spot AS spot
        |  FROM healed h ASOF LEFT JOIN spot s
        |    ON h.symbol = s.symbol AND h.ts >= s.ts),
        |prem AS (
        |  SELECT *, markPrice / spot - 1.0 AS premium
        |  FROM al WHERE spot IS NOT NULL AND spot <> 0),
        |f AS (
        |  SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY ts) AS rn,
        |    list(premium) OVER (PARTITION BY symbol ORDER BY ts
        |      ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS l
        |  FROM prem),
        |wm AS (
        |  SELECT symbol, ts, fundingRate, markPrice, spot, premium,
        |    CASE WHEN rn >= 12 THEN
        |      list_reduce(list_transform(l, (x, i) -> x * CAST(i AS DOUBLE)), (a, b) -> a + b) / 78.0
        |    END AS wma12
        |  FROM f),
        |chg AS (
        |  SELECT *, premium - lag(premium, 5)
        |    OVER (PARTITION BY symbol ORDER BY ts) AS value_change
        |  FROM wm),
        |cand AS (SELECT * FROM chg WHERE abs(value_change) > 2.0),
        |deb AS (
        |  SELECT *, epoch_ms(ts) - epoch_ms(lag(ts, 1)
        |    OVER (PARTITION BY symbol ORDER BY ts)) AS gap_ms
        |  FROM cand)
        |SELECT symbol, epoch_ms(ts) AS ts_ms,
        |  epoch_ms(timezone('Asia/Shanghai', timezone('UTC', ts))) AS ts_cn_ms,
        |  fundingRate, markPrice, spot, round(premium, 6) AS premium,
        |  round(wma12, 6) AS wma12, round(value_change, 6) AS value_change,
        |  gap_ms
        |FROM deb
        |WHERE gap_ms IS NULL OR gap_ms > 3600000
        |ORDER BY ts_ms DESC, symbol
        |LIMIT 20""".stripMargin

  private lazy val p05Sql: String = p02Sql
}
