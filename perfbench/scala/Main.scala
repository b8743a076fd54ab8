package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbench.BenchListener

/** One benchmark run in this JVM: set up, run the closed loop of one
  * workload for `--seconds`, check the outputs, and print the raw
  * measurements as the last stdout line (`BENCH_RESULT {...}`); the
  * launcher (perfbench/run.py) turns them into metrics. With
  * `--trace 1` the first half of the loop runs with [[BenchListener]]
  * and call spans on and the rest untraced, so the launcher can report
  * per-layer metrics and the tracing overhead from one run. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, launchMs: Long, cpus: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m("launch-ms").toLong, m("cpus"))
  }

  /** Everything a workload reports back. */
  final class Run(val a: Args) {
    val tracer = new Tracer
    val subops = mutable.ArrayBuffer.empty[(String, Double, Boolean, Boolean)] // kind, wall, ok, traced
    val ops = mutable.ArrayBuffer.empty[(String, Double, Boolean, Boolean)] // kind, wall, ok, traced
    val prep = mutable.ArrayBuffer.empty[Double]
    var checksAttempted = 0; var checksFailed = 0
    val notes = mutable.ArrayBuffer.empty[String]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    var traced = false
    var loopS = 0.0

    def check(what: String)(ok: => Boolean): Unit = {
      checksAttempted += 1
      val good = try ok catch { case e: Throwable => notes += s"$what: $e"; false }
      if (!good) { checksFailed += 1; notes += s"check failed: $what" }
    }

    /** Time a sub-operation (tick, query, compact, view) inside an op. */
    def sub[T](cls: String)(body: => T): T = {
      val t0 = System.nanoTime()
      var ok = false
      try { val r = body; ok = true; r }
      finally subops += ((cls, (System.nanoTime() - t0) / 1e9, ok, traced))
    }

    /** Run one op of kind `cls`; true when it succeeded. */
    def op(name: String, cls: String)(body: => Unit): Boolean = {
      val (w, err) = tracer.op(name, cls)(body)
      err.foreach { e =>
        notes += s"op $name failed: $e\n" + e.getStackTrace.take(12).mkString("  at ", "\n  at ", "")
      }
      ops += ((cls, w, err.isEmpty, traced))
      err.isEmpty
    }

    /** Run a set-up step as an op span (not a loop op); its failure
      * ends the run. */
    def setupOp(name: String, cls: String)(body: => Unit): Unit =
      tracer.op(name, cls)(body)._2.foreach(e => throw e)

    private var listener: BenchListener = null

    /** Turn tracing on or off. Off drains the listener bus first, so
      * every job of the traced ops is recorded. */
    def trace(spark: SparkSession, on: Boolean): Unit = {
      val sc = spark.sparkContext
      if (on) { listener = new BenchListener(tracer); sc.addSparkListener(listener) }
      else { BenchListener.drain(sc); sc.removeSparkListener(listener) }
      tracer.enabled = on
      traced = on
    }

    /** The closed loop: `step(i)` runs op i, until `seconds` have passed
      * and at least `minOps` ops ran. A traced run traces from the start
      * until half the time and half of `minOps` have passed, then runs at
      * least one more op untraced: the reference for the tracing
      * overhead. */
    def loop(spark: SparkSession, minOps: Int)(step: Int => Unit): Unit = {
      val t0 = System.nanoTime()
      def el = (System.nanoTime() - t0) / 1e9
      if (a.trace && !traced) trace(spark, on = true)
      var i = 0
      var untraced = 0
      while (i < minOps || el < a.seconds || (a.trace && untraced == 0)) {
        if (traced && i > 0 && i >= minOps / 2 && el >= a.seconds / 2) trace(spark, on = false)
        step(i)
        if (!traced) untraced += 1
        i += 1
      }
      loopS = el
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(Paths.get(a.work))
    val run = new Run(a)
    val s0 = System.nanoTime()
    val spark = graft.Sessions.builder(a.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9
    val launchToSession = (System.currentTimeMillis() - a.launchMs) / 1e3
    a.workload match {
      case "market_ingest" => MarketIngest.run(spark, run)
      case "ann_live" => AnnLive.run(spark, run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (a.trace) run.tracer.writeTo(s"${a.work}/spans.jsonl")
    val rss = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    def rows(xs: Seq[(String, Double, Boolean, Boolean)]) =
      xs.map { case (n, w, ok, t) => Map("name" -> n, "wall_s" -> w, "ok" -> ok, "traced" -> t) }
    val out = Seq(
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus,
      "session_start_s" -> sessionS, "launch_to_session_s" -> launchToSession,
      "prep_s" -> run.prep.toSeq, "loop_s" -> run.loopS,
      "ops" -> rows(run.ops.toSeq), "subops" -> rows(run.subops.toSeq),
      "checks_attempted" -> run.checksAttempted, "checks_failed" -> run.checksFailed,
      "notes" -> run.notes.toSeq, "peak_rss_mb" -> rss) ++ run.extra.toSeq
    spark.stop()
    println("BENCH_RESULT " + Json.obj(out))
  }

  // ---------------------------------------------------------------- helpers

  def du(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) { if (f.getName.endsWith(".crc")) 0L else f.length() }
    else Option(f.listFiles()).map(_.map(x => du(x.getPath)).sum).getOrElse(0L)
  }

  def dataFiles(path: String): Seq[java.io.File] = {
    val f = new java.io.File(path)
    if (!f.exists()) Nil
    else if (f.isFile) { if (f.getName.endsWith(".parquet")) Seq(f) else Nil }
    else Option(f.listFiles()).map(_.toSeq.flatMap(x => dataFiles(x.getPath))).getOrElse(Nil)
  }
}

// ================================================================ workloads

/** Pinned checkpoint storage after an op (`sc.getRDDStorageInfo`). */
object Checkpoint {
  def gauge(spark: SparkSession, t: Tracer): Unit = {
    val infos = spark.sparkContext.getRDDStorageInfo
    t.gauge("pinned_blocks", infos.map(_.numCachedPartitions).sum.toDouble)
    t.gauge("pinned_mb", infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }
}

/** Seeded kline pages landed tick by tick into two running
  * `streamingKlineIngest` queries (SPOT and PERPETUAL stores). Each op
  * is one tick — land the pages, wait until both queries have
  * committed them — followed by the pipeline's incremental analytics
  * read: hourly `Graft.resampleOhlc` bars of the SPOT symbols the tick
  * touched, checked against the generator's heal. The history is longer
  * than a page holds ([[KlineGen.PageMax]]), so each symbol's history
  * lands as two pages. */
object MarketIngest {
  val Symbols = 24
  val HistoryBars = 1200
  val PerTick = 6
  val NewBars = 30
  val Overlap = 10
  val WarmTicks = 4
  val WarmReads = 2

  def run(spark: SparkSession, r: Main.Run): Unit = {
    val a = r.a
    val gen = new KlineGen(a.seed, Symbols)
    val root = s"${a.work}/ingest"
    def landing(m: String) = s"$root/landing_$m"
    def store(m: String) = s"$root/store_$m"
    val stage = s"$root/stage"
    Files.createDirectories(Paths.get(stage))
    var fileNo = 0
    /** Write one market's pages, then move the file into its landing dir
      * in one rename so a micro-batch sees whole files. */
    def land(pages: Seq[gen.Page], m: String): String = {
      fileNo += 1
      val tmp = Paths.get(stage, s"t$fileNo-$m.json")
      Files.writeString(tmp, pages.filter(_.market == m).map(_.line).mkString("", "\n", "\n"))
      val dst = Paths.get(landing(m), s"t$fileNo.json")
      Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
      dst.toString
    }
    var queries: Seq[org.apache.spark.sql.streaming.StreamingQuery] = Nil
    /** One tick: one market at a time, land its file and wait until its
      * query has committed it. Two batches running at once would make
      * the tick wall depend on how the queries' polling happens to line
      * up, which differs from run to run. */
    def ingest(pages: Seq[gen.Page]): Seq[String] = gen.Markets.zip(queries).map { case (m, q) =>
      val f = land(pages, m)
      q.processAllAvailable()
      f
    }
    val t0 = System.nanoTime()
    gen.Markets.foreach(m => Files.createDirectories(Paths.get(landing(m))))
    val history = gen.history(HistoryBars)
    gen.Markets.foreach(m => land(history, m))
    gen.applyTick(history)
    queries = gen.Markets.map { m =>
      graft.streaming.StreamOps.streamingKlineIngest(spark, landing(m), store(m), m, "1m",
        s"$root/ckpt_$m")
    }
    queries.foreach(_.processAllAvailable())
    // the first merge ticks and reads compile their code paths (on 4
    // cpus the first tick takes about three steady ones, and the next
    // few keep getting faster): they belong to set-up, not to the loop,
    // whose median would otherwise move with how many ops fit in it
    (1 to WarmTicks).foreach { _ =>
      val pages = gen.tick(PerTick, NewBars, Overlap)
      ingest(pages)
      gen.applyTick(pages)
      // reads compile the short read (it keeps getting faster for ~20 calls)
      (1 to WarmReads).foreach(_ => hourly(spark, r, store("SPOT"), spotSymbols(pages)))
    }
    r.prep += (System.nanoTime() - t0) / 1e9
    var lastBatch = queries.map(_ => -1L)
    try {
      r.loop(spark, 3) { i =>
        val pages = gen.tick(PerTick, NewBars, Overlap)
        var files: Seq[String] = Nil
        val before = if (r.traced) gen.Markets.map(m => Main.dataFiles(store(m)).map(_.getPath).toSet) else Nil
        val touched = spotSymbols(pages)
        var bars = Array.empty[Row]
        r.op(s"tick$i", "tick") {
          r.sub("tick") {
            r.tracer.call("streamingKlineIngest/tick", "streaming") {
              files = ingest(pages)
            }
          }
          bars = r.sub("query")(hourly(spark, r, store("SPOT"), touched))
        }
        gen.applyTick(pages)
        r.check(s"tick $i hourly bars == heal")(bars.toSeq == expectedHourly(gen, touched))
        if (r.traced) {
          traceTick(spark, r, pages.size, files, before, gen.Markets.map(store), queries, lastBatch)
          Checkpoint.gauge(spark, r.tracer)
        }
        lastBatch = queries.map(q => Option(q.lastProgress).map(_.batchId).getOrElse(-1L))
      }
    } finally queries.foreach(_.stop())
    queries.foreach(q => r.check(s"query ${q.name} healthy")(q.exception.isEmpty))
    // the final store must equal the generator's heal of every landed page
    gen.Markets.foreach { m =>
      r.check(s"$m store == heal") {
        val got = spark.read.parquet(store(m))
          .select(col("symbol"), unix_millis(col("timestamp")).as("t"),
            unix_millis(col("close_time")).as("ct"), col("open"), col("high"), col("low"),
            col("close"), col("volume"), col("quote_volume"), col("trades_count"),
            col("taker_buy_volume"), col("taker_buy_quote_volume"), col("type"))
          .collect()
        val want = gen.heal.filter(_._1._1 == m)
        got.length == want.size && got.forall { row =>
          want.get((m, row.getString(0), row.getLong(1))).exists { b =>
            row.getLong(2) == b.openMs + 59999 && row.getDouble(3) == b.open.toDouble &&
            row.getDouble(4) == b.high.toDouble && row.getDouble(5) == b.low.toDouble &&
            row.getDouble(6) == b.close.toDouble && row.getDouble(7) == b.volume.toDouble &&
            row.getDouble(8) == b.quoteVolume.toDouble && row.getLong(9) == b.trades &&
            row.getDouble(10) == b.takerBuy.toDouble &&
            row.getDouble(11) == b.takerBuyQuote.toDouble && row.getString(12) == m
          }
        }
      }
    }
    // space amplification: store bytes over the same rows written once
    // (a per-layer metric, so only the traced run pays for the rewrite)
    if (a.trace) {
      val onDisk = gen.Markets.map(m => Main.du(store(m))).sum
      val once = gen.Markets.map { m =>
        val p = s"$root/once_$m"
        spark.read.parquet(store(m)).repartition(col("symbol")).write.partitionBy("symbol").parquet(p)
        Main.du(p)
      }.sum
      r.extra("space_amp") = onDisk.toDouble / once
    }
  }

  private def spotSymbols(pages: Seq[KlineGen#Page]): Seq[String] =
    pages.filter(_.market == "SPOT").map(_.symbol).distinct.sorted

  /** Hourly OHLC of `trades_count` for the given symbols, ordered. */
  private def hourly(spark: SparkSession, r: Main.Run, store: String, symbols: Seq[String]): Array[Row] = {
    val df = r.tracer.call("Graft.resampleOhlc", "ops", "construct") {
      val rows = spark.read.parquet(store).filter(col("symbol").isin(symbols: _*))
      graft.Graft.resampleOhlc(rows, "symbol", "timestamp", "close_time", "trades_count", "hour")
        .select(col("symbol"), unix_millis(col("bucket")).as("bucket"), col("open"), col("high"),
          col("low"), col("close"), col("volume"), col("n_trades"))
        .orderBy("symbol", "bucket")
    }
    if (r.traced) r.tracer.call("Graft.resampleOhlc/plan", "ops", "plan")(df.queryExecution.executedPlan)
    r.tracer.call("Graft.resampleOhlc/collect", "ops", "exec")(df.collect())
  }

  private def expectedHourly(gen: KlineGen, symbols: Seq[String]): Seq[Row] =
    gen.heal.toSeq.collect { case ((m, sym, t), b) if m == "SPOT" && symbols.contains(sym) => (sym, t, b.trades) }
      .groupBy { case (sym, t, _) => (sym, t - t % 3600000L) }.toSeq.sortBy(_._1)
      .map { case ((sym, h), xs) =>
        val byT = xs.sortBy(_._2).map(_._3)
        Row(sym, h, byT.head, byT.max, byT.min, byT.last, byT.sum, byT.size.toLong)
      }

  /** Traced-run extras for one tick: the source layer timed on the
    * tick's pages, the store's file changes, and the streaming
    * progress records of the batches the tick produced. */
  private def traceTick(spark: SparkSession, r: Main.Run, pages: Int, files: Seq[String],
                        before: Seq[Set[String]], stores: Seq[String],
                        queries: Seq[org.apache.spark.sql.streaming.StreamingQuery],
                        lastBatch: Seq[Long]): Unit = {
    val t = r.tracer
    val raw = spark.read.schema("symbol STRING, page_seq LONG, payload STRING").json(files: _*)
    val t0 = System.nanoTime()
    val parsed = graft.sources.KlineJson.parse(raw, "payload", "symbol", "SPOT", "1m",
      passthrough = Seq("page_seq")).localCheckpoint(eager = true)
    val kept = graft.sources.KlineJson.dedupKeepLast(parsed, col("page_seq")).localCheckpoint(eager = true)
    t.gauge("sources.parse_s", (System.nanoTime() - t0) / 1e9)
    val nParsed = parsed.count(); val nKept = kept.count()
    t.gauge("sources.pages", pages)
    t.gauge("sources.rows_parsed", nParsed.toDouble)
    t.gauge("sources.kept_ratio", if (nParsed == 0) 0.0 else nKept.toDouble / nParsed)
    val deltaDir = s"${r.a.work}/ingest/delta_probe"
    kept.drop("__pos", "page_seq").write.mode("overwrite").parquet(deltaDir)
    t.gauge("sinks.MergeWriter.delta_bytes", Main.du(deltaDir).toDouble)
    graft.Checkpoints.free(parsed); graft.Checkpoints.free(kept)
    var written = 0; var rewritten = 0; var maxPer = 0
    stores.zip(before).foreach { case (s, old) =>
      val now = Main.dataFiles(s)
      val fresh = now.filterNot(f => old.contains(f.getPath))
      written += fresh.size
      rewritten += fresh.map(_.getParentFile.getName).distinct.size
      val per = now.groupBy(_.getParentFile.getName).values.map(_.size)
      maxPer = math.max(maxPer, if (per.isEmpty) 0 else per.max)
    }
    t.gauge("sinks.MergeWriter.files_written", written)
    t.gauge("sinks.MergeWriter.partitions_rewritten", rewritten)
    t.gauge("sinks.MergeWriter.files_per_partition_max", maxPer)
    queries.zip(lastBatch).foreach { case (q, last) =>
      q.recentProgress.filter(_.batchId > last).foreach { p =>
        val d = p.durationMs
        def g(k: String) = Option(d.get(k)).map(_.doubleValue / 1e3).getOrElse(0.0)
        t.gauge("streaming.trigger_s", g("triggerExecution"))
        t.gauge("streaming.add_batch_s", g("addBatch"))
        t.gauge("streaming.query_planning_s", g("queryPlanning"))
        t.gauge("streaming.wal_commit_s", g("walCommit"))
        t.gauge("streaming.latest_offset_s", g("latestOffset"))
      }
    }
  }
}

/** A live graph-ANN index. Set-up builds it (landing 0) and then runs
  * its one maintenance op: an `annIndexTick` that inserts a batch and
  * deletes live ids, `annIndexCompact`, and a re-read of the index
  * pinned for the readers. The loop's ops each search five query
  * vectors with `Graft.annGraph` over that index. A tick costs ~16 s
  * on 4 cpus, so a run holds one; in the loop it would be the run's
  * only sample, and its wall moves by more than the largest bound from
  * run to run on a shared host. In set-up it shows in `setup_s`, whose
  * spread is not bounded, and the loop's figures are medians of many
  * searches. The reference embeddings (sf0.1) are 64-dimensional; the
  * counts are cut from their tick (build from 1600, then 200 inserts
  * and 200 deletes) to fit the benchmark's time (perfbench/METRICS.md). */
object AnnLive {
  val Dim = 64
  val Initial = 1000
  val Batch = 100
  val Deletes = 100
  val RecallSearches = 4
  val QueriesPerSearch = 5
  val R = 8; val Beam = 4; val Hops = 3; val K = 10; val AnchorMod = 64

  private val schema = StructType(Seq(StructField("vec_id", LongType, false),
    StructField("v", ArrayType(DoubleType, false), false)))

  def run(spark: SparkSession, r: Main.Run): Unit = {
    val a = r.a
    val gen = new VecGen(a.seed, Dim)
    val live = mutable.LinkedHashMap.empty[Long, Array[Double]]
    val deleted = mutable.Set.empty[Long]
    var nextId = 0L
    def frame(vs: Seq[(Long, Array[Double])]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(vs.map { case (i, v) => Row(i, v.toSeq) }: _*), schema)
    def fresh(n: Int): Seq[(Long, Array[Double])] =
      (0 until n).map { _ => val id = nextId; nextId += 1; id -> gen.vector() }

    val store = s"${a.work}/ann"
    val t0 = System.nanoTime()
    // a traced run traces the maintenance op too
    if (a.trace) r.trace(spark, on = true)
    val init = fresh(Initial)
    graft.streaming.StreamOps.annIndexTick(spark, store, frame(init), "vec_id", "v",
      R, Beam, Hops, landingId = 0L, anchorMod = AnchorMod)
    init.foreach { case (i, v) => live(i) = v }

    val batch = fresh(Batch)
    val dels = gen.pick(live.keys.toIndexedSeq, Deletes)
    val before = Main.dataFiles(store).map(_.getPath).toSet
    var corpus: DataFrame = null; var edges: DataFrame = null
    r.setupOp("tick1", "tick") {
      r.sub("tick") {
        r.tracer.call("annIndexTick", "streaming") {
          graft.streaming.StreamOps.annIndexTick(spark, store, frame(batch), "vec_id", "v",
            R, Beam, Hops, landingId = 1L, anchorMod = AnchorMod,
            deletes = frame(dels.map(d => d -> live(d))))
        }
      }
      r.tracer.gauge("streaming.outstanding_landings", landings(store).toDouble)
      r.sub("compact") {
        r.tracer.call("annIndexCompact", "streaming")(
          graft.streaming.StreamOps.annIndexCompact(spark, store, upTo = 2L))
      }
      // the index as of the latest landing, read once and pinned for the
      // searches (Graft.annGraph references it per hop)
      r.sub("view") {
        r.tracer.call("annLiveVectors+annIndexReport", "sinks.AnnStore", "view") {
          corpus = graft.streaming.StreamOps.annLiveVectors(spark, store).localCheckpoint(eager = true)
          edges = graft.streaming.StreamOps.annIndexReport(spark, store).localCheckpoint(eager = true)
        }
      }
    }
    dels.foreach { d => live.remove(d); deleted += d }
    batch.foreach { case (id, v) => live(id) = v }
    r.tracer.gauge("sinks.AnnStore.files_written",
      Main.dataFiles(store).count(f => !before.contains(f.getPath)).toDouble)
    Checkpoint.gauge(spark, r.tracer)
    // an untimed search of a loop-sized batch compiles the read path
    // before the loop
    search(r, corpus, edges, frame((1 to QueriesPerSearch).map(j => -j.toLong -> gen.vector())))
    r.prep += (System.nanoTime() - t0) / 1e9

    // recall covers the first searches only, so it repeats for a seed
    // whatever the loop length
    var recallSum = 0.0; var recallN = 0
    var qid = 1000000000L
    try r.loop(spark, RecallSearches) { i =>
      val q = (0 until QueriesPerSearch).map { _ => qid += 1; qid -> gen.vector() }
      var res = Array.empty[Row]
      r.op(s"search$i", "search") {
        res = r.sub("query")(search(r, corpus, edges, frame(q)))
      }
      if (i < RecallSearches) q.foreach { case (id, v) =>
        val want = exactTop(live, v).toSet
        val got = res.filter(_.getLong(0) == id).map(_.getLong(2)).toSet
        recallSum += got.intersect(want).size.toDouble / K; recallN += 1
      }
      if (r.traced) Checkpoint.gauge(spark, r.tracer)
    } finally { graft.Checkpoints.free(corpus); graft.Checkpoints.free(edges) }
    r.extra("ann_delta_rows") = Batch + Deletes
    r.extra("recall_at_10") = if (recallN == 0) 0.0 else recallSum / recallN
    val edgeList = graft.streaming.StreamOps.annIndexReport(spark, store)
      .select(col("src"), col("dst")).collect().map(x => (x.getLong(0), x.getLong(1)))
    r.check("no edge touches a deleted id")(edgeList.forall { case (s, d) => !deleted(s) && !deleted(d) })
    r.check(s"every live vector has 1..$R out-edges") {
      val deg = edgeList.groupBy(_._1).view.mapValues(_.length).toMap
      live.keys.forall(id => deg.get(id).exists(n => n >= 1 && n <= R)) &&
        deg.keys.forall(live.contains)
    }
    if (a.trace) {
      val onDisk = Main.du(store)
      val once = s"${a.work}/ann_once"
      graft.streaming.StreamOps.annLiveVectors(spark, store).write.parquet(s"$once/vectors")
      graft.streaming.StreamOps.annIndexReport(spark, store).write.parquet(s"$once/edges")
      r.extra("space_amp") = onDisk.toDouble / Main.du(once)
    }
    graft.sinks.AnnStore.dropTables(spark, store)
  }

  /** One 5-query search. */
  private def search(r: Main.Run, corpus: DataFrame, edges: DataFrame, q: DataFrame): Array[Row] = {
    val anchors = corpus.filter(pmod(col("vec_id"), lit(AnchorMod.toLong)) === 0)
    val df = r.tracer.call("Graft.annGraph", "ops.SimOps", "construct")(
      graft.Graft.annGraph(corpus, q, anchors, edges, "vec_id", "v", K, Beam, Hops))
    r.tracer.call("Graft.annGraph/collect", "ops.SimOps", "exec")(df.collect())
  }

  private def landings(store: String): Int =
    Seq("vectors", "edges", "asg", "deletes").map { s =>
      Option(new java.io.File(s"$store/$s").listFiles()).map(_.count(_.getName.startsWith("__landing="))).getOrElse(0)
    }.sum

  /** Exact cosine top-K over the live set (ties → smaller id). */
  private def exactTop(live: collection.Map[Long, Array[Double]], q: Array[Double]): Seq[Long] = {
    val qn = math.sqrt(q.map(x => x * x).sum)
    live.toSeq.map { case (id, v) =>
      var dot = 0.0; var n = 0.0; var j = 0
      while (j < v.length) { dot += v(j) * q(j); n += v(j) * v(j); j += 1 }
      (id, dot / (math.sqrt(n) * qn))
    }.sortBy { case (id, c) => (-c, id) }.take(K).map(_._1)
  }
}
