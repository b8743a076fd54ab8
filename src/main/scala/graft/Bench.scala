package graft
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Benchmark main: one JSON line with per-query wall seconds at
  * SPARK_GRAFT_SF_DIR.
  *
  * Round-7 postmortem: running all ~112 queries × 2 passes in ONE JVM
  * produced phantom regressions — a consecutive alphabetical cluster
  * (q30–q34) read 2.4–6.7× slower than the same queries re-timed in
  * isolation, because hundreds of whole-stage-codegen classes pile up
  * in a single JIT code cache even at -XX:ReservedCodeCacheSize=1g.
  * The engine hadn't regressed; the measurement had. So this harness:
  *
  *   1. splits the query list (sorted, so families stay together) into
  *      chunks of ≤[[ChunkSize]] and runs each chunk in a FRESH child
  *      JVM (same flags + classpath as this one) — bounding the codegen
  *      population any one code cache ever sees;
  *   2. cross-checks each result against the newest committed
  *      BENCH_r*.json and re-times any query that drifted >2× (and
  *      >0.5 s absolute) alone in its own JVM, keeping the min — a
  *      real regression survives the re-run, a JIT/neighbour artifact
  *      does not. Re-runs are reported in a `reruns` map so the
  *      artifact records its own provenance.
  *
  * Within a chunk each query is executed twice — the first pass warms
  * JIT/codegen/file-footer caches (a cluster's steady state), the
  * second is timed. Queries are evaluated through the `noop` sink:
  * every output column and the final presentation sort are fully
  * computed (unlike `count()`, which lets Catalyst prune unconsumed
  * projections and eliminate the sort), but nothing is written. A
  * failing query reports value -1 and its error in an `errors` map
  * instead of masquerading as a fast success. If spawning child JVMs
  * fails (no java binary / classpath oddity) the harness falls back to
  * the old single-JVM in-process mode rather than producing nothing.
  */
object Bench {
  private val ChunkSize = 16
  // Round-10: 2.0 → 1.5 — t01_lang_id drifted 1.57× in round 9 and
  // escaped the 2× bar; anything ≥1.5× now earns an isolated re-run
  // (the min of the runs is kept, so a true regression still shows).
  private[graft] val DriftFactor = 1.5
  private val DriftFloorSec = 0.5
  // 16 was sized for the ~112-query suite; at 247 queries a suite-wide
  // host drift needs more solo confirmations (each ~30 s of harness
  // time — bounded either way)
  private val MaxReruns = 24
  private val NewQueryRerunSec = 5.0
  private val ChunkTimeoutMin = 30L
  /** Self-written complete artifact (committed per round): the driver's
    * BENCH_r*.json keeps only a bounded tail of stdout — round 9's
    * artifact lost per-query times for everything alphabetically before
    * q46, blinding the next round's drift guard for half the suite.
    * Bench now also writes its full JSON line here itself. */
  private[graft] val FullArtifact = "BENCH_FULL.json"

  def main(args: Array[String]): Unit = args.toList match {
    case "--chunk" :: csv :: Nil => chunkWorker(csv.split(',').toSeq)
    case _                       => orchestrate()
  }

  // ---------------------------------------------------------------- worker

  /** Child-JVM mode: bench the given queries in-process and print one
    * machine-parseable line per query (`BENCHQ name sec` /
    * `BENCHE name err`), then `BENCHDONE`. */
  private def chunkWorker(names: Seq[String]): Unit = {
    val (times, errors) = benchInProcess(names)
    times.foreach { case (n, s) => println(s"BENCHQ $n $s") }
    errors.foreach { case (n, e) => println(s"BENCHE $n $e") }
    println("BENCHDONE")
  }

  /** Warm pass + timed pass over `names` in this JVM. Error strings come
    * back JSON-safe (control chars, quotes and backslashes stripped). */
  private def benchInProcess(names: Seq[String]): (Seq[(String, Double)], Map[String, String]) = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def run(name: String, record: Boolean): Double = {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          if (record) {
            val msg = e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)
            errors(name) = msg.replaceAll("""[\p{Cntrl}"\\ ]""", "_").take(200)
          }
          -1.0
      }
    }
    names.foreach(run(_, record = false)) // warm-up pass
    val timed = names.map(n => n -> run(n, record = true))
    spark.stop()
    (timed, errors.toMap)
  }

  // ----------------------------------------------------------- orchestrator

  /** Run-scoped probe-weight cache dir shared by all chunk JVMs of ONE
    * bench run (see SimOps.fitLinearProbe): s09/s11/s14 landing in
    * different chunks pay one GD fit total instead of one per JVM.
    * Fresh per orchestrate() call, so it cannot go stale across runs. */
  private var probeCache: Option[String] = None

  private def orchestrate(): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    probeCache = try {
      Some(java.nio.file.Files.createTempDirectory("graft_probe_cache_").toString)
    } catch { case _: Exception => None }
    val names = SparkEntry.queries.keys.toSeq.sorted
    val chunks = names.grouped(ChunkSize).toSeq

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    chunks.foreach { chunk =>
      runChunkInChildJvm(chunk) match {
        case Some((times, errs)) =>
          times.foreach { case (n, s) => results(n) = s }
          errs.foreach { case (n, e) => errors(n) = e }
        case None => // spawn failed — degrade to in-process for this chunk
          System.err.println(s"[bench] child JVM failed for chunk ${chunk.head}..${chunk.last}; running in-process")
          val (times, errs) = benchInProcess(chunk)
          times.foreach { case (n, s) => results(n) = s }
          errs.foreach { case (n, e) => errors(n) = e }
      }
    }

    // Drift assertion: any query >[[DriftFactor]]× (1.5×) its previous-
    // round time gets one isolated re-measurement; the min of the two is
    // the honest number.
    // Only comparable when the previous artifact ran at the same SF dir.
    // Queries ABSENT from the previous artifact (this round's additions)
    // have no baseline for the ratio test, so any of them reading over
    // [[NewQueryRerunSec]] is solo-re-run too — the round-9 postmortem:
    // a new query landed 12.6s inside a heavy-codegen chunk vs 1.7s
    // alone, and the guard had nothing to compare it against.
    val prev = previousRoundTimes(sfDir)
    // Re-runs are a bounded budget: spend it on the LARGEST inflations
    // first (seconds over baseline), not alphabetically — the round-17
    // baseline run drifted suite-wide and the alphabetical take()
    // exhausted all 16 re-runs on a01..d05 (~2 s queries) while
    // q61_anomaly sat at 73.9 s recorded vs 2.3 s solo. Measurement fix
    // only: the guard's trigger rule and the kept-min rule are
    // unchanged.
    val drifted = names.filter { n =>
      val cur = results.getOrElse(n, -1.0)
      prev.get(n) match {
        case Some(p) => p > 0 && cur > DriftFloorSec && cur > DriftFactor * p
        case None    => cur > NewQueryRerunSec
      }
    }.sortBy(n => -(results.getOrElse(n, -1.0) - prev.getOrElse(n, 0.0)))
      .take(MaxReruns)
    val reruns = scala.collection.mutable.LinkedHashMap[String, Double]()
    drifted.foreach { n =>
      runChunkInChildJvm(Seq(n)).foreach { case (times, _) =>
        times.collect { case (`n`, s) if s >= 0 =>
          reruns(n) = s
          if (s < results(n)) results(n) = s
        }
      }
    }

    def ms(v: Double): Double = math.rint(v * 1000) / 1000
    val ordered = names.map(n => n -> results.getOrElse(n, -1.0))
    val qs = ordered.map { case (k, v) => "\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
    val errs = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    val rr = reruns.map { case (k, v) => "\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
    val total = ordered.map(_._2).filter(_ >= 0).sum
    // Provenance stamp (round-14 postmortem: the committed artifact and
    // GATE.json cited DIFFERENT same-evening runs, so cross-round
    // per-query diffs overstated regressions ~31%): run_id names this
    // run in every artifact derived from it, and the canary trio —
    // untouched pure-compute queries that move only with HOST state —
    // lets a reader normalize cross-round ratios before calling
    // anything a regression (the graft-host-variance rule).
    val runId = s"${sys.env.getOrElse("HOSTNAME", "local")}_${System.currentTimeMillis / 1000}"
    val canaries = Seq("s07_pca_cov", "q92_adf", "q50_funnel")
      .map(n => "\"" + n + "\":" + ms(results.getOrElse(n, -1.0)))
      .mkString("{", ",", "}")
    // ms precision, and the headline metric/value/unit keys LAST: the
    // harness that consumes this line keeps only a bounded tail of the
    // output, so with ~112 queries the head of the line is what gets
    // truncated — the totals must live at the end to survive.
    val line = s"""{"queries":$qs,"errors":$errs,"reruns":$rr,"jvm_chunks":${chunks.size},"run_id":"$runId","canaries":$canaries,"sf":"$sfDir","n":${names.size},"metric":"total","value":${ms(total)},"unit":"sec"}"""
    println(line)
    // The complete self-written artifact (see FullArtifact doc): the
    // stdout line may be tail-truncated by the harness that records it,
    // this file never is. sf rides inside, so a dev run at another SF
    // can't poison the guard (previousRoundTimes checks sf first).
    try java.nio.file.Files.write(java.nio.file.Paths.get(FullArtifact),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $FullArtifact: $e") }
    // The recorder keeps only a ~2000-char TAIL of stdout, so the full
    // line above arrives head-truncated and unparseable (round-12
    // `parsed: null`). Print a LAST line compact enough to survive the
    // tail whole: headline totals + the slowest queries; the complete
    // per-query map lives in the committed BENCH_FULL.json.
    val slowest = ordered.filter(_._2 >= 0).sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
    println(s"""{"slowest":$slowest,"reruns":$rr,"error_count":${errors.size},"jvm_chunks":${chunks.size},"full":"$FullArtifact","run_id":"$runId","canaries":$canaries,"sf":"$sfDir","n":${names.size},"metric":"total","value":${ms(total)},"unit":"sec"}""")
    // the run-scoped probe cache has served every chunk: sweep it so
    // repeated bench cycles don't accumulate /tmp dirs
    probeCache.foreach { dir =>
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
      }
      try rm(new java.io.File(dir)) catch { case _: Exception => }
    }
  }

  /** Spawn `java <same flags> -cp <same classpath> graft.Bench --chunk …`
    * and parse its marker lines. None on spawn failure, timeout, or a
    * child that died before printing BENCHDONE. */
  private def runChunkInChildJvm(names: Seq[String]): Option[(Seq[(String, Double)], Map[String, String])] =
    try {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val inherited = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      // Inheritance is not enough when the orchestrator itself was
      // launched without the build.sbt fork flags (a bare `java -cp`
      // invocation): guarantee the two perf-critical ones. The JIT
      // code cache especially — once the default ~240m fills, the last
      // codegen'd stages run INTERPRETED and random queries go 10-20×
      // slower (the round-8 bench postmortem in build.sbt).
      // heap fallback: 8g unless the host can't carry it — a chunk JVM
      // pushed into swap/OOM is worse than one that runs smaller; cap
      // at half the physical memory, floor 1g, overridable via
      // -Dgraft.bench.heap.mb
      val heapMb = sys.props.get("graft.bench.heap.mb").map(_.toLong).getOrElse {
        val physMb = try {
          ManagementFactory.getOperatingSystemMXBean match {
            case os: com.sun.management.OperatingSystemMXBean =>
              os.getTotalMemorySize / (1024L * 1024L)
            case _ => 16384L
          }
        } catch { case _: Throwable => 16384L }
        math.max(1024L, math.min(8192L, physMb / 2))
      }
      val guaranteed = Seq(
        "-XX:ReservedCodeCacheSize=" -> "-XX:ReservedCodeCacheSize=1g",
        "-Xmx" -> s"-Xmx${heapMb}m").collect {
        case (prefix, flag) if !inherited.exists(_.startsWith(prefix)) => flag
      }
      val cmd = (Seq(javaBin) ++ inherited ++ guaranteed ++
        probeCache.map(d => s"-Dgraft.probe.cache=$d").toSeq ++
        Seq("-cp", System.getProperty("java.class.path"), "graft.Bench", "--chunk", names.mkString(","))).asJava
      val pb = new ProcessBuilder(cmd)
      pb.redirectErrorStream(true)
      val p = pb.start()
      val lines = scala.collection.mutable.ArrayBuffer[String]()
      val reader = new Thread(() => {
        val br = new java.io.BufferedReader(new java.io.InputStreamReader(p.getInputStream))
        var l = br.readLine()
        while (l != null) { lines.synchronized(lines += l); l = br.readLine() }
      })
      reader.setDaemon(true)
      reader.start()
      val finished = p.waitFor(ChunkTimeoutMin, java.util.concurrent.TimeUnit.MINUTES)
      if (!finished) p.destroyForcibly()
      reader.join(10000)
      val got = lines.synchronized(lines.toSeq)
      if (!got.contains("BENCHDONE")) None
      else {
        val times = got.collect { case s if s.startsWith("BENCHQ ") =>
          val Array(_, n, v) = s.split(" ", 3); n -> v.toDouble
        }
        val errs = got.collect { case s if s.startsWith("BENCHE ") =>
          val Array(_, n, e) = s.split(" ", 3); n -> e
        }.toMap
        Some((times, errs))
      }
    } catch { case _: Exception => None }

  /** Per-query baseline seconds for the drift guard: the newest
    * committed BENCH_r*.json (regex-parsed; no JSON dep) MERGED with
    * the self-written [[FullArtifact]], which wins on conflict — the
    * round artifact is a bounded stdout tail and can be truncated
    * (round-9: per-query times lost for everything before q46), the
    * full artifact never is. Empty if neither exists, and any file
    * measured at a different SF dir is ignored — sf0.01 dev runs must
    * not drift-compare against the sf0.1 round record. */
  private[graft] def previousRoundTimes(sfDir: String, dir: java.io.File = new java.io.File(".")): Map[String, Double] = {
    val newestRoundFile = try {
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.matches("BENCH_r\\d+\\.json"))
        .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
        .lastOption
    } catch { case _: Exception => None }
    val newestRound = newestRoundFile.map(parseArtifact(_, sfDir))
      .getOrElse(Map.empty[String, Double])
    // The full artifact only wins when it is at least as new as the
    // round artifact (mtime): a stale BENCH_FULL.json left over from an
    // earlier round at the same SF must not override newer per-query
    // baselines that the driver has since recorded.
    val full = new java.io.File(dir, FullArtifact)
    val fullIsCurrent = full.isFile &&
      newestRoundFile.forall(r => full.lastModified() >= r.lastModified())
    if (fullIsCurrent) newestRound ++ parseArtifact(full, sfDir)
    else parseArtifact(full, sfDir) ++ newestRound
  }

  /** Parse one bench artifact into per-query seconds. Handles both our
    * own raw JSON line and the driver's tail-wrapped artifact, whose
    * "tail" string carries our line with escaped quotes (\"q01\":0.588)
    * — the round-8 postmortem: without the unescape the regexes never
    * matched and the drift guard silently no-opped. */
  private def parseArtifact(f: java.io.File, sfDir: String): Map[String, Double] =
    try {
      if (!f.isFile) Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath))
          .replace("\\\"", "\"")
        val sameSf = """"sf":"([^"]*)"""".r.findFirstMatchIn(txt).exists(_.group(1) == sfDir)
        if (!sameSf) Map.empty
        else {
          val qsect = txt.indexOf("\"queries\"")
          val body = if (qsect >= 0) txt.substring(qsect) else txt
          val re = """"([A-Za-z0-9_]+)":(-?\d+(?:\.\d+)?)""".r
          re.findAllMatchIn(body)
            .map(m => m.group(1) -> m.group(2).toDouble)
            .filterNot { case (k, _) =>
              Set("value", "n", "sf", "jvm_chunks", "rc", "cpus").contains(k) }
            .toMap
        }
      }
    } catch { case _: Exception => Map.empty }
}
