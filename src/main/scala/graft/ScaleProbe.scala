package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Volume-probe main (the SURVEY §6 scale evidence, reproducible in one
  * command): replicate the testdata tables ×N with key spread — ids and
  * users offset per replica so key cardinality grows with volume, the
  * shape a bigger corpus actually has — then time a set of queries
  * against the replicated dir through the `noop` sink (full compute,
  * nothing written, same contract as [[Bench]]).
  *
  *   sbt "runMain graft.ScaleProbe"                    # ×10, default query set
  *   sbt "runMain graft.ScaleProbe 20 q50_funnel ..."  # ×20, chosen queries
  *
  * Emits one JSON line (`"metric":"probe_total"`) with per-query wall
  * seconds, so a probe claim in SURVEY §6 can be replayed and diffed
  * like a Bench artifact. Replicas are built once per (factor, source)
  * under /tmp and reused; delete the dir to regenerate.
  *
  * Why this exists: the round-7 ×10 probe caught an uncapped
  * fingerprint self-join running away quadratically — every new
  * pairing operator gets probed here before it is called done. */
object ScaleProbe {
  private val DefaultQueries = Seq(
    "q50_funnel", "q51_retention", "t11_bm25", "t12_bpe_train",
    "ds12_weighted_sample", "ds13_quality_prune", "q49_quantile_bins",
    "ds10_profile", "ds11_checks", "st05_stream_quality")

  /** The probe session: [[Sessions.cpus]] local cores, WARN logging. */
  private def session(): SparkSession = {
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Wall seconds of one run of `f`. */
  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Seconds rounded to the millisecond, for the JSON line. */
  private def ms(v: Double): Double = math.rint(v * 1000) / 1000

  /** Bytes as megabytes with two decimals, for the JSON line. */
  private def mb(v: Long): Double = math.rint(v / 1e4) / 100

  /** GC hint, then a 2 s sleep. Local mode keeps every job's shuffle
    * files until the driver GCs the RDD references; at 600k+ corpora a
    * probe's ~40 jobs otherwise fill the machine's scratch disk before
    * the cleaner runs (probe-only concern: a cluster has per-executor
    * scratch and spark.cleaner.periodicGC). The sleep also drains the
    * listener bus before [[Counters]] are read. */
  private def reap(): Unit = { System.gc(); Thread.sleep(2000) }

  /** `n` synthetic 16-dim (vec_id, v) vectors with ids from `off`: a
    * pure function of the id, so every probe run builds the same
    * corpus. */
  private def vecsOf(spark: SparkSession, n: Long, off: Long): DataFrame = spark.range(n)
    .select((col("id") + off).as("vec_id"),
      array((0 until 16).map(d =>
        sin((col("id") + off) * (0.37 + d * 0.11))): _*).as("v"))

  /** The probes' one listener: shuffle write bytes of completed stages
    * and started jobs, summed since the last [[measure]]. */
  private final class Counters(spark: SparkSession) {
    private val shuffleBytes = new AtomicLong(0L)
    private val jobs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        shuffleBytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten); ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })

    /** (wall seconds, shuffle write bytes, jobs) of one run of `f`;
      * [[reap]] drains the listener bus before the counters are read. */
    def measure(f: => Unit): (Double, Long, Long) = {
      shuffleBytes.set(0L); jobs.set(0L)
      val t = time(f)
      reap()
      (t, shuffleBytes.get, jobs.get)
    }
  }

  /** `runMain graft.ScaleProbe hotbucket [H]` — the d02/d05 hot-bucket
    * probe: plant H copies of one boilerplate doc on top of the sf0.1
    * documents table (the pathological bucket d01 would normally kill,
    * reproduced deliberately), then time the minhash pair pipeline
    * uncapped vs maxBucket=1000. Uncapped pays H²/2 pairs for the one
    * degenerate key; capped stays at the corpus' organic pair cost.
    * Emits one JSON line with both times and pair counts. */
  private def hotBucketProbe(h: Int): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    val boiler = "click here to accept cookies and continue to the site " +
      "all rights reserved terms of service privacy policy"
    val docs = Tables.t(spark, src, "documents").select(col("doc_id"), col("text"))
      .union(spark.range(h).select((col("id") + 50000000L).as("doc_id"),
        lit(boiler).as("text")))
    def pairs(maxBucket: Int): (Double, Long) = {
      // warm pass then timed pass (the Bench protocol): JIT/codegen and
      // parquet-footer warmup would otherwise bias whichever mode runs
      // first, and the guard's win must not hide behind it
      def once(): (Double, Long) = {
        var n = 0L
        val t = time {
          n = ops.DedupOps.minhashPairsOf(docs, "doc_id", "text",
            shingleN = 3, k = 8, bands = 4, maxBucket = maxBucket).count()
        }
        (t, n)
      }
      once(); once()
    }
    val (tCap, nCap) = pairs(1000)
    val (tRaw, nRaw) = pairs(Int.MaxValue)
    println(s"""{"probe":"hotbucket","planted":$h,"src":"$src","capped_sec":${ms(tCap)},"capped_pairs":$nCap,"uncapped_sec":${ms(tRaw)},"uncapped_pairs":$nRaw,"metric":"hotbucket_ratio","value":${ms(tRaw / math.max(tCap, 1e-9))},"unit":"x"}""")
    spark.stop()
  }

  /** `runMain graft.ScaleProbe monster [N]` — the round-11 monster-
    * series probe: ONE key with N rows (default 10M), the case the
    * sequential segmented scan serializes into a single task no matter
    * the core count. Times the bit-exact sequential EWMA/MACD scans
    * against the parallel-prefix alternates (ops.ParScanOps) at 32
    * slices, and cross-checks max |Δ| on a deterministic row sample so
    * the speed claim can't silently trade away correctness. */
  private def monsterProbe(n: Long): Unit = {
    val spark = session()
    val df = spark.range(n).selectExpr(
      "'HOT' AS sym",
      "timestamp_millis(1700000000000 + id * 100) AS t",
      "id AS seq",
      "sin(id * 0.7) * 40 + 60 AS px")
      .repartition(32) // arrive unsorted/spread, as a real scan would
    df.write.mode("overwrite").parquet("/tmp/graft_monster.parquet")
    val in = spark.read.parquet("/tmp/graft_monster.parquet")
    def noop(d: org.apache.spark.sql.DataFrame): Unit =
      d.write.format("noop").mode("overwrite").save()
    // warm + timed (the Bench protocol). seq_* MUST go through the
    // *SeqOf variants: the public wrappers auto-dispatch, and at 10M
    // rows on one key they would route every "sequential" timing to
    // the parallel path (round-12 advice).
    def twice(f: => Unit): Double = { time(f); time(f) }
    val seqEwma = twice(noop(ops.ScanOps.ewmaExactSeqOf(in, "sym", "t", "seq", "px", 0.25)))
    val parEwma = twice(noop(ops.ParScanOps.ewmaExactParOf(in, "sym", "t", "seq", "px", 0.25, 32)))
    val seqMacd = twice(noop(ops.ScanOps.macdSeqOf(in, "sym", "t", "seq", "px")))
    val parMacd = twice(noop(ops.ParScanOps.macdParOf(in, "sym", "t", "seq", "px", slices = 32)))
    val seqKal = twice(noop(ops.ScanOps.kalmanSeqOf(in, "sym", "t", "seq", "px", 0.1, 1.0)))
    val parKal = twice(noop(ops.ParScanOps.kalmanParOf(in, "sym", "t", "seq", "px", 0.1, 1.0, 32)))
    val seqTrix = twice(noop(ops.ScanOps.trixSeqOf(in, "sym", "t", "seq", "px")))
    val parTrix = twice(noop(ops.ParScanOps.trixParOf(in, "sym", "t", "seq", "px", slices = 32)))
    val seqHolt = twice(noop(ops.ScanOps.holtSeqOf(in, "sym", "t", "seq", "px")))
    val parHolt = twice(noop(ops.ParScanOps.holtParOf(in, "sym", "t", "seq", "px", slices = 32)))
    // the dispatcher itself, through the PUBLIC entry point, no flags:
    // at 10M rows on one key it must pick the parallel path (counters
    // prove it) and its wall must sit near par_ewma, not seq_ewma.
    val par0 = ops.ScanOps.parDispatches.get()
    val seq0 = ops.ScanOps.seqDispatches.get()
    val autoEwma = twice(noop(ops.ScanOps.ewmaExactOf(in, "sym", "t", "seq", "px", 0.25)))
    val autoPar = ops.ScanOps.parDispatches.get() - par0
    val autoSeq = ops.ScanOps.seqDispatches.get() - seq0
    // correctness cross-check on a deterministic 1/1000 row sample:
    // the SEQUENTIAL scan is the baseline, the dispatched public entry
    // (which routes parallel here) is the candidate.
    val s = ops.ScanOps.ewmaExactSeqOf(in, "sym", "t", "seq", "px", 0.25)
      .filter(col("seq") % 1000 === 0)
    val p = ops.ScanOps.ewmaExactOf(in, "sym", "t", "seq", "px", 0.25)
      .filter(col("seq") % 1000 === 0)
    val maxDelta = s.as("s").join(p.as("p"), Seq("sym", "ts_ms", "seq"))
      .agg(max(abs(col("s.ewma") - col("p.ewma")))).collect()(0).getDouble(0)
    println(s"""{"probe":"monster","rows":$n,"slices":32,"seq_ewma_sec":${ms(seqEwma)},"par_ewma_sec":${ms(parEwma)},"auto_ewma_sec":${ms(autoEwma)},"auto_par_dispatches":$autoPar,"auto_seq_dispatches":$autoSeq,"seq_macd_sec":${ms(seqMacd)},"par_macd_sec":${ms(parMacd)},"seq_kalman_sec":${ms(seqKal)},"par_kalman_sec":${ms(parKal)},"seq_trix_sec":${ms(seqTrix)},"par_trix_sec":${ms(parTrix)},"seq_holt_sec":${ms(seqHolt)},"par_holt_sec":${ms(parHolt)},"max_delta_ewma":$maxDelta,"metric":"monster_speedup","value":${ms(seqEwma / math.max(parEwma, 1e-9))},"unit":"x"}""")
    spark.stop()
  }

  /** `runMain graft.ScaleProbe chain [N]` — the pathological-diameter
    * connected-components probe: an N-node chain graph (default 100k),
    * the worst case for min-label propagation (O(diameter) rounds —
    * 100k joins). componentsStar (large-star/small-star) must converge
    * in O(log n) alternating rounds; the label-prop baseline runs on a
    * 200-node chain only (running it at N would BE the pathology).
    * Emits rounds + wall seconds for both, plus a label checksum
    * proving the star labels are the chain minimum. */
  private def chainProbe(n: Long): Unit = {
    val spark = session()
    val chain = spark.range(n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    var bad = 0L
    val starSec = time {
      bad = ops.DedupOps.componentsStar(chain, "doc_a", "doc_b")
        .filter(col("label") =!= 0L || col("cluster_size") =!= n).count()
    }
    val starRounds = ops.DedupOps.ccRounds.get()
    val m = 200L
    val chainSmall = spark.range(m - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val lpSec = time(ops.DedupOps.components(chainSmall, "doc_a", "doc_b").count())
    val lpRounds = ops.DedupOps.ccRounds.get()
    println(s"""{"probe":"chain","n":$n,"star_rounds":$starRounds,"star_sec":${ms(starSec)},"bad_labels":$bad,"labelprop_n":$m,"labelprop_rounds":$lpRounds,"labelprop_sec":${ms(lpSec)},"metric":"chain_star_rounds","value":$starRounds,"unit":"rounds"}""")
    spark.stop()
  }

  /** `runMain graft.ScaleProbe zorder [N]` — the READ-side proof for
    * [[graft.sinks.ZOrderWriter]]: N rows (default 20M) with two
    * uniform dimensions written 64-file three ways — natural
    * (round-robin), single-column sorted, z-ordered — then a selective
    * 2-D box predicate (1/16 of each dimension) scanned over each.
    * Each file is one parquet row group here, so footer min/max
    * skipping IS file skipping; the scan's numOutputRows metric counts
    * rows surviving pushdown (Spark applies no record-level parquet
    * filter by default, so surviving row groups return whole). Natural
    * layout must read ~everything, x-sorted ~1/16 (one dimension
    * prunes), z-ordered ~1/256 + boundary — the claim the writer's
    * scaladoc makes, measured. */
  private def zorderProbe(n: Long): Unit = {
    val spark = session()
    val base = "/tmp/graft_zorder_probe"
    val df = spark.range(n).select(
      col("id"),
      (pmod(col("id") * 48271L, lit(1000003L)) / 1000003.0).as("x"),
      (pmod(col("id") * 69621L, lit(999983L)) / 999983.0).as("y"))
    val nFiles = 64
    df.repartition(nFiles).write.mode("overwrite").parquet(s"$base/natural")
    df.repartitionByRange(nFiles, col("x")).sortWithinPartitions("x")
      .write.mode("overwrite").parquet(s"$base/xsorted")
    graft.sinks.ZOrderWriter.writeZOrdered(df, s"$base/zorder", "x", "y",
      numFiles = nFiles, bits = 12, tieBreak = Seq("id"))
    def probe(path: String): (Double, Long, Long, Long) = {
      def once(): (Double, Long, Long, Long) = {
        val q = spark.read.parquet(path)
          .filter(col("x").between(0.50, 0.5625) && col("y").between(0.25, 0.3125))
          .agg(count(lit(1)), sum(col("id")))
        val sec = time(q.collect())
        // AQE query stages have no children — unwrap them explicitly or
        // collect() never reaches the scan node
        def scans(p: org.apache.spark.sql.execution.SparkPlan):
            Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            scans(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            scans(s.plan)
          case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
          case other => other.children.flatMap(scans)
        }
        val scan = scans(q.queryExecution.executedPlan).head
        (sec, scan.metrics("numOutputRows").value,
          scan.metrics("numFiles").value, scan.metrics("filesSize").value)
      }
      once(); once() // warm then timed (Bench protocol)
    }
    val (tn, rn, fn, _) = probe(s"$base/natural")
    val (tx, rx, fx, _) = probe(s"$base/xsorted")
    val (tz, rz, fz, _) = probe(s"$base/zorder")
    println(s"""{"probe":"zorder","rows":$n,"files":$nFiles,"natural_scan_rows":$rn,"natural_files":$fn,"natural_sec":${ms(tn)},"xsorted_scan_rows":$rx,"xsorted_files":$fx,"xsorted_sec":${ms(tx)},"zorder_scan_rows":$rz,"zorder_files":$fz,"zorder_sec":${ms(tz)},"metric":"zorder_scan_reduction","value":${ms(rn.toDouble / math.max(rz, 1L))},"unit":"x"}""")
    spark.stop()
  }

  /** `runMain graft.ScaleProbe p05tick [F]` — the p05 tick-cost probe:
    * does a micro-batch tick stay FLAT as the funding store grows?
    * Builds two symbol-partitioned stores (200 and 200·F symbols, 240
    * hourly rows each), then times (a) one [[graft.streaming.StreamOps
    * .marketTick]] with a FIXED 5-symbol delta and (b) the pre-round-14
    * full [[ops.IngestOps.marketReportOf]] recompute, on both stores.
    * The tick reads only the delta's symbol partitions plus the
    * bounded candidate table, so its wall must not scale with F; the
    * full recompute is the linear-growth control the delta-bounding
    * replaced. */
  private def p05TickProbe(factor: Int): Unit = {
    val spark = session()
    val t0ms = 1704067200000L // 2024-01-01T00:00:00Z
    def symbols(n: Int) = spark.range(n)
      .select(concat(lit("SYM"), col("id"), lit("USDT")).as("symbol"))
    def store(n: Int, path: String): Unit = {
      if (new java.io.File(path).exists()) return
      symbols(n)
        .crossJoin(spark.range(240).select(col("id").as("h")))
        .select(col("symbol"),
          timestamp_millis(lit(t0ms) + col("h") * 3600000L).as("fundingTime"),
          lit(1e-4).as("fundingRate"),
          // a premium jump at h=120 so candidate partitions exist and
          // the tick's stale/overwrite paths both run
          (lit(1.0) + when(col("h") >= 120, 4.0).otherwise(0.0)).as("markPrice"),
          lit(1L).as("page_seq"))
        .repartition(col("symbol"))
        .write.mode("overwrite").partitionBy("symbol").parquet(path)
    }
    def spotOf(n: Int) = symbols(n)
      .select(col("symbol"), timestamp_millis(lit(t0ms)).as("ts"), lit(1.0).as("spot"))
    def delta(seq: Long) = spark.range(5)
      .select(concat(lit("SYM"), col("id"), lit("USDT")).as("symbol"))
      .crossJoin(spark.range(6).select(col("id").as("h")))
      .select(col("symbol"),
        timestamp_millis(lit(t0ms) + (lit(240L) + col("h") + (lit(seq) - 2L) * 6L) * 3600000L)
          .as("fundingTime"),
        lit(1e-4).as("fundingRate"), lit(5.2).as("markPrice"), lit(seq).as("page_seq"))
    def run(n: Int, tag: String): (Double, Double) = {
      val base = s"/tmp/graft_p05tick_${tag}_$n"
      store(n, s"$base/store")
      val spot = spotOf(n)
      // warm tick (JIT + listing warmup, and it seeds the candidate table)
      graft.streaming.StreamOps.marketTick(spark, s"$base/store", s"$base/cands",
        s"$base/report", spot, delta(2L))
      val tick = time(graft.streaming.StreamOps.marketTick(spark, s"$base/store",
        s"$base/cands", s"$base/report", spot, delta(3L)))
      val full = time(ops.IngestOps.marketReportOf(
        spark.read.parquet(s"$base/store")
          .select(col("symbol").cast("string").as("symbol"),
            col("fundingTime").as("ts"), col("fundingRate"), col("markPrice")),
        spot).write.format("noop").mode("overwrite").save())
      (tick, full)
    }
    val (tickS, fullS) = run(200, "s")
    val (tickB, fullB) = run(200 * factor, "b")
    println(s"""{"probe":"p05tick","factor":$factor,"symbols_small":200,"symbols_big":${200 * factor},"tick_small_sec":${ms(tickS)},"tick_big_sec":${ms(tickB)},"full_small_sec":${ms(fullS)},"full_big_sec":${ms(fullB)},"metric":"p05tick_growth","value":${ms(tickB / math.max(tickS, 1e-9))},"unit":"x"}""")
    spark.stop()
  }

  /** `runMain graft.ScaleProbe landings [N]` — the sketch-store
    * landing-count probe (the OTHER growth axis the ×100 volume probes
    * don't exercise): land N daily HLL-state landings (one sf0.1
    * events day-slice each, ids offset per landing so cardinality
    * grows), then time the merged estimate at N/10 and N landings and
    * count store files both ways. State rows grow ≤ m·keys per
    * landing and files O(landings) (one partition each, compacted at
    * the MergeWriter threshold) — the merged read is state-sized ×
    * landings, NEVER raw-history-sized; this probe names that curve. */
  private def landingsProbe(n: Int): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    val keys = Seq("event_type")
    val ev = Checkpoints.stabilize(Tables.t(spark, src, "events")
      .select(col("event_type"), col("user_id")))
    val store = java.nio.file.Files.createTempDirectory("graft_landings_").toString
    def fileCount(): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(store))
    }
    def mergedSec(): Double = time(graft.sinks.SketchStore.hllEstimate(
      graft.sinks.SketchStore.mergedHll(spark, store, keys), keys)
      .write.format("noop").mode("overwrite").save())
    var low = (0.0, 0)
    (0 until n).foreach { l =>
      graft.sinks.SketchStore.land(spark, store,
        graft.sinks.SketchStore.hllState(
          ev.select(col("event_type"),
            (col("user_id") + lit(l.toLong * 10000000L)).as("user_id")),
          keys, "user_id"), l.toLong)
      if (l + 1 == math.max(1, n / 10)) low = (mergedSec(), fileCount())
    }
    val (secN, filesN) = (mergedSec(), fileCount())
    println(s"""{"probe":"landings","landings":$n,"merged_sec_at_${math.max(1, n / 10)}":${ms(low._1)},"files_at_${math.max(1, n / 10)}":${low._2},"merged_sec_at_$n":${ms(secN)},"files_at_$n":$filesN,"metric":"landings_growth","value":${ms(secN / math.max(low._1, 1e-9))},"unit":"x"}""")
    spark.stop()
  }

  /** `runMain graft.ScaleProbe anntick [F]` — the st16/st17 tick-cost
    * probe (the round-15 verdict's ask): does absorbing a FIXED
    * 200-vector delta stay delta-bounded as the stored index grows ×F?
    * Builds two [[graft.streaming.StreamOps.annIndexTick]] stores
    * (12k and 12k·F vectors), then times one insert tick and one
    * delete+insert tick with the same fixed delta on both, and counts
    * the rows the tick LANDED vs the index size. The landing must stay
    * ~delta-sized at any F (the round-15 tick re-landed the whole
    * index); the wall has an O(index-read) floor — the merged-view
    * window and the per-hop edge joins scan the index, which is what
    * searching an index means — so the ratio to watch is landed rows,
    * with the wall reported honestly alongside. */
  private def annTickProbe(factor: Int): Unit = {
    val spark = session()
    import graft.streaming.StreamOps
    def tick(base: String, b: org.apache.spark.sql.DataFrame, l: Long,
             del: org.apache.spark.sql.DataFrame = null): Unit =
      StreamOps.annIndexTick(spark, base, b, "vec_id", "v",
        r = 8, beam = 4, hops = 3, landingId = l, deletes = del)
    // round-17 ask: prove the tick's SHUFFLE BYTES delta-bounded, not
    // just its wall flat
    val counters = new Counters(spark)
    def run(n: Long, tag: String): (Double, Double, Long, Long, Long, Long) = {
      // _bk suffix: the bucketed AnnStore format cannot append to a
      // pre-round-17 path-format store, so probe stores get a new root
      val base = s"/tmp/graft_anntick_bk_${tag}_$n"
      if (!new java.io.File(base).exists()) tick(base, vecsOf(spark, n, 0L), 0L)
      reap()
      tick(base, vecsOf(spark, 200, n), 1L) // warm (JIT + listing)
      reap()
      val (tIns, shIns, _) = counters.measure(
        tick(base, vecsOf(spark, 200, n + 1000000L), 2L))
      val (tDel, shDel, _) = counters.measure(
        tick(base, vecsOf(spark, 200, n + 2000000L), 3L, del = vecsOf(spark, 200, n)))
      val landed = spark.read.parquet(s"$base/edges")
        .filter(col("__landing").cast("long") === 2L).count()
      val index = StreamOps.annIndexReport(spark, base).count()
      (tIns, tDel, landed, index, shIns, shDel)
    }
    val (insS, delS, landS, idxS, shInsS, shDelS) = run(12000L, "s")
    val (insB, delB, landB, idxB, shInsB, shDelB) = run(12000L * factor, "b")
    println(s"""{"probe":"anntick","factor":$factor,"vectors_small":12000,"vectors_big":${12000L * factor},"insert_small_sec":${ms(insS)},"insert_big_sec":${ms(insB)},"delins_small_sec":${ms(delS)},"delins_big_sec":${ms(delB)},"landed_small":$landS,"landed_big":$landB,"index_small":$idxS,"index_big":$idxB,"insert_small_shuffle_mb":${mb(shInsS)},"insert_big_shuffle_mb":${mb(shInsB)},"delins_small_shuffle_mb":${mb(shDelS)},"delins_big_shuffle_mb":${mb(shDelB)},"metric":"anntick_landed_share","value":${ms(landB.toDouble / math.max(idxB, 1L))},"unit":"share"}""")
    spark.stop()
  }

  /** `runMain graft.ScaleProbe annsearch [F]` — the SEARCH-path scale
    * probe (the round-17 verdict's ask: the sf0.1 bench is stage-count
    * bound and structurally cannot show whether graphAnnOf's §2 claims
    * hold, so the shuffle-bytes evidence lives here). Builds two
    * knnGraphOf indexes (12k and 12k·F vectors) OUTSIDE the measured
    * window (stabilized edges — the same contract the s20
    * query and the tick give the search), then runs graphAnnOf with the
    * SAME 5 local queries/beam/hops on both: one warm-up, then 5 timed
    * searches, reporting the median wall and, from the median search,
    * its shuffle write bytes and job count (construction included: the
    * search executes while it is built). The claim under test: only
    * the entry's top-anchor window shuffles — ids and cosines on the
    * query id, at most one row per query and map partition, whatever
    * n/64 is — so shuffle bytes must not grow with the index (×1). Each
    * hop is two scans, of the edge list and of the corpus, under an
    * id-set filter, never joined or exchanged; the driver scores and
    * ranks what they return, so the job count is 3 + 2·hops at both
    * sizes and the wall grows only with the two scans. */
  private def annSearchProbe(factor: Int): Unit = {
    val spark = session()
    import graft.ops.SimOps
    val counters = new Counters(spark)
    // (median wall, its search's shuffle bytes, its search's jobs, edges)
    def run(n: Long): (Double, Long, Long, Long) = {
      val corpus = Checkpoints.stabilize(vecsOf(spark, n, 0L))
      val anchors = corpus.filter(pmod(col("vec_id"), lit(64L)) === 0)
      val edges = Checkpoints.stabilize(SimOps.knnGraphOf(corpus, anchors, "vec_id", "v",
        "vec_id", "v", r = 8, cellProbes = 2, descentRounds = 1))
      val nEdges = edges.count()
      // the same 5 query vectors at both sizes, held as a local
      // relation as a serving loop holds them
      val q = vecsOf(spark, 5L, 0L)
      val queries = spark.createDataFrame(java.util.Arrays.asList(q.collect(): _*), q.schema)
      def search(): Unit = SimOps.graphAnnOf(corpus, queries, anchors, edges,
        "vec_id", "v", k = 10, beam = 4, hops = 3).collect()
      search() // warm (JIT + codegen)
      reap()
      val timed = (1 to 5).map(_ => counters.measure(search())).sortBy(_._1)
      val (t, sh, nj) = timed(timed.size / 2)
      (t, sh, nj, nEdges)
    }
    val (tS, shS, jS, eS) = run(12000L)
    val (tB, shB, jB, eB) = run(12000L * factor)
    println(s"""{"probe":"annsearch","factor":$factor,"vectors_small":12000,"vectors_big":${12000L * factor},"edges_small":$eS,"edges_big":$eB,"search_small_sec":${ms(tS)},"search_big_sec":${ms(tB)},"search_small_jobs":$jS,"search_big_jobs":$jB,"search_small_shuffle_mb":${mb(shS)},"search_big_shuffle_mb":${mb(shB)},"metric":"annsearch_shuffle_growth","value":${ms(shB.toDouble / math.max(shS, 1L))},"unit":"x"}""")
    spark.stop()
  }

  /** `runMain graft.ScaleProbe anncompact [N]` — the compaction-value
    * probe: build a 12k-vector index, land N insert ticks (200 fresh
    * vectors each), time the merged index+live reads at N landings,
    * COMPACT, re-time. The merged views are latest-per-src windows
    * whose input grows with landing count; compaction rewrites them as
    * one baseline landing, so the post-compaction read must fall back
    * to baseline-sized cost and the store to a single landing. */
  private def annCompactProbe(n: Int): Unit = {
    val spark = session()
    import graft.streaming.StreamOps
    val base = s"/tmp/graft_anncompact_$n"
    // Always rebuild: a leftover store from a COMPLETED probe run is
    // already compacted (landings_before = 1), so reusing it silently
    // reports a ~1x read ratio instead of the compaction value
    // (round-16 advice).
    locally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      val d = new java.io.File(base)
      if (d.exists()) rm(d)
    }
    if (!new java.io.File(base).exists()) {
      StreamOps.annIndexTick(spark, base, vecsOf(spark, 12000L, 0L), "vec_id", "v",
        r = 8, beam = 4, hops = 3, landingId = 0L)
      (1 to n).foreach { i =>
        StreamOps.annIndexTick(spark, base, vecsOf(spark, 200L, 12000L + i * 1000L),
          "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = i.toLong)
        if (i % 10 == 0) reap()
      }
    }
    reap()
    def readAll(): Unit = {
      StreamOps.annIndexReport(spark, base).write.format("noop").mode("overwrite").save()
      StreamOps.annLiveVectors(spark, base).write.format("noop").mode("overwrite").save()
    }
    readAll() // warm (JIT + file listing)
    val tBefore = time(readAll())
    val landingsBefore = spark.read.parquet(s"$base/edges")
      .select(col("__landing")).distinct().count()
    val idx = Checkpoints.stabilize(StreamOps.annIndexReport(spark, base)).count()
    val tCompact = time(StreamOps.annIndexCompact(spark, base, upTo = n + 1L))
    reap()
    readAll()
    val tAfter = time(readAll())
    val landingsAfter = spark.read.parquet(s"$base/edges")
      .select(col("__landing")).distinct().count()
    println(s"""{"probe":"anncompact","ticks":$n,"index_rows":$idx,"landings_before":$landingsBefore,"landings_after":$landingsAfter,"read_before_sec":${ms(tBefore)},"read_after_sec":${ms(tAfter)},"compact_sec":${ms(tCompact)},"metric":"anncompact_read_ratio","value":${ms(tBefore / math.max(tAfter, 0.001))},"unit":"x"}""")
    spark.stop()
  }

  /** `runMain graft.ScaleProbe loghist [N]` — the landings-axis probe
    * for the a11 RELATIVE-error quantile store (the HLL `landings`
    * probe's twin the round-15 verdict asked for): land N daily
    * logHist landings (one sf0.1 events day-slice each, values scaled
    * per landing so the magnitude span grows), then time the merged
    * p50/p95/p99 read at N/10 and N landings. State rows per landing
    * are ≤ ~1800 per key group per sign-decade span regardless of raw
    * volume, so the merged read must stay state-sized × landings. */
  private def logHistLandingsProbe(n: Int): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    val keys = Seq("event_type")
    val ev = Checkpoints.stabilize(Tables.t(spark, src, "events")
      .select(col("event_type"), col("value")))
    val store = java.nio.file.Files.createTempDirectory("graft_loghist_land_").toString
    def mergedSec(): Double = time(graft.sinks.SketchStore.logHistQuantiles(
      graft.sinks.SketchStore.mergedLogHist(spark, store, keys),
      keys, Seq(0.5 -> "p50", 0.95 -> "p95", 0.99 -> "p99"))
      .write.format("noop").mode("overwrite").save())
    var low = 0.0
    (0 until n).foreach { l =>
      graft.sinks.SketchStore.land(spark, store,
        graft.sinks.SketchStore.logHistState(
          ev.select(col("event_type"),
            (col("value") * math.pow(1.1, l % 40)).as("value")),
          keys, "value"), l.toLong)
      if (l + 1 == math.max(1, n / 10)) low = mergedSec()
    }
    val secN = mergedSec()
    println(s"""{"probe":"loghist_landings","landings":$n,"merged_sec_at_${math.max(1, n / 10)}":${ms(low)},"merged_sec_at_$n":${ms(secN)},"metric":"loghist_landings_growth","value":${ms(secN / math.max(low, 1e-9))},"unit":"x"}""")
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("loghist")) {
      logHistLandingsProbe(args.lift(1).map(_.toInt).getOrElse(100))
      return
    }
    if (args.headOption.contains("anntick")) {
      annTickProbe(args.lift(1).map(_.toInt).getOrElse(10))
      return
    }
    if (args.headOption.contains("annsearch")) {
      annSearchProbe(args.lift(1).map(_.toInt).getOrElse(50))
      return
    }
    if (args.headOption.contains("anncompact")) {
      annCompactProbe(args.lift(1).map(_.toInt).getOrElse(30))
      return
    }
    if (args.headOption.contains("landings")) {
      landingsProbe(args.lift(1).map(_.toInt).getOrElse(100))
      return
    }
    if (args.headOption.contains("p05tick")) {
      p05TickProbe(args.lift(1).map(_.toInt).getOrElse(10))
      return
    }
    if (args.headOption.contains("zorder")) {
      zorderProbe(args.lift(1).map(_.toLong).getOrElse(20000000L))
      return
    }
    if (args.headOption.contains("chain")) {
      chainProbe(args.lift(1).map(_.toLong).getOrElse(100000L))
      return
    }
    if (args.headOption.contains("hotbucket")) {
      hotBucketProbe(args.lift(1).map(_.toInt).getOrElse(20000))
      return
    }
    if (args.headOption.contains("monster")) {
      monsterProbe(args.lift(1).map(_.toLong).getOrElse(10000000L))
      return
    }
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val queries = if (args.length > 1) args.drop(1).toSeq else DefaultQueries
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = s"/tmp/graft_x${factor}_${src.replaceAll("[^A-Za-z0-9.]", "_")}"
    val spark = session()

    if (!new java.io.File(out).exists()) {
      val r = spark.range(factor).toDF("r")
      Tables.t(spark, src, "events").crossJoin(r)
        .select((col("event_id") + col("r") * 10000000L).as("event_id"),
          col("ts"), (col("user_id") + col("r") * 1000000L).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .write.mode("overwrite").parquet(s"$out/events.parquet")
      Tables.t(spark, src, "documents").crossJoin(r)
        .select((col("doc_id") + col("r") * 10000000L).as("doc_id"),
          col("text"), col("lang"),
          concat(col("source"), lit("_"), col("r")).as("source"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      // embeddings replicate with id offset + a deterministic per-replica
      // per-dim perturbation (cos of id*dim — no rand()), so replicas are
      // NEAR-duplicates: vector volume grows ×N while the ANN/dedup paths
      // see realistic near-copy structure instead of exact clones
      Tables.t(spark, src, "embeddings").crossJoin(r)
        .select((col("vec_id") + col("r") * 10000000L).as("vec_id"),
          expr("transform(embedding, (x, i) -> CAST(x + 0.001 * r * cos(vec_id * (i + 1)) AS FLOAT))")
            .as("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem")
        .foreach(t => Tables.t(spark, src, t)
          .write.mode("overwrite").parquet(s"$out/$t.parquet"))
    }

    val results = queries.map { q =>
      var ok = true
      val t = time {
        try SparkEntry.queries(q)(spark, out).write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          // a silent -1 cost round 14 a diagnosis round-trip: name the failure
          System.err.println(s"[probe] $q failed: ${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}")
          ok = false
        }
      }
      q -> (if (ok) t else -1.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    println(s"""{"probe":$qs,"factor":$factor,"src":"$src","metric":"probe_total","value":${ms(total)},"unit":"sec"}""")
    spark.stop()
  }
}
