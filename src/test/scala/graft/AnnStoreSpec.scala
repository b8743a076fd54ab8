package graft

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Round-17 contract: the ANN store's merged-view SERVE path is
  * partition-local over the bucketed landing tables — ZERO shuffles
  * for annLiveVectors / annIndexReport (round-16 verdict finding 2:
  * the path-based store paid one full-store exchange per view per
  * read). Also pins the cross-session re-register path, the
  * legacy-store refusal, the tables' own dynamic overwrite (no land
  * touches the session conf) and landMany's failure contract. */
class AnnStoreSpec extends SparkSpec {
  import graft.streaming.StreamOps
  import graft.sinks.AnnStore

  private def shuffles(df: DataFrame): Int = {
    df.count()
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    var n = 0
    plan.foreach { case _: ShuffleExchangeLike => n += 1; case _ => () }
    n
  }

  private def vecsOf(dir: String): DataFrame =
    Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), F.asDouble(col("embedding")).as("v"))

  private def noBroadcast[T](body: => T): T = {
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prior = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(spark.conf.set(_, "-1"))
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def buildStore(): String = {
    val all = vecsOf(sfDir)
    val store = java.nio.file.Files.createTempDirectory("graft_annstore_").toString
    StreamOps.annIndexTick(spark, store, all.filter(col("vec_id") % 10 < 8),
      "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 0L)
    StreamOps.annIndexTick(spark, store, all.filter(col("vec_id") % 10 === 8),
      "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 1L,
      deletes = all.filter(col("vec_id") % 20 === 3))
    store
  }

  test("the merged-view serve path runs ZERO shuffles over the bucketed " +
    "store: live vectors, index report, and their windows/joins are " +
    "partition-local and co-located") {
    val store = buildStore()
    noBroadcast {
      assert(shuffles(StreamOps.annLiveVectors(spark, store)) == 0,
        "annLiveVectors: latest-insert window + latest-delete agg + " +
          "outer join must all be partition-local")
      assert(shuffles(StreamOps.annIndexReport(spark, store)) == 0,
        "annIndexReport: latest-per-src window + live semi join must " +
          "be partition-local")
    }
    // and the views are CORRECT (deleted ids gone, live ids present)
    val live = StreamOps.annLiveVectors(spark, store)
    assert(live.filter(col("vec_id") % 20 === 3).isEmpty, "deleted ids gone")
    assert(live.filter(col("vec_id") % 10 === 8).count() > 0, "tick-1 ids live")
    val report = StreamOps.annIndexReport(spark, store)
    assert(report.join(live.select(col("vec_id").as("src")), Seq("src"),
      "left_anti").isEmpty, "every report src is live")
  }

  test("a fresh session re-registers the store over its files (catalog " +
    "entry dropped): reads stay correct AND bucketed") {
    val store = buildStore()
    val before = StreamOps.annIndexReport(spark, store)
      .localCheckpoint(eager = true)
    AnnStore.dropTables(spark, store) // simulate a new session's empty catalog
    val after = StreamOps.annIndexReport(spark, store)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty,
      "re-registered store serves the identical index")
    noBroadcast {
      assert(shuffles(StreamOps.annIndexReport(spark, store)) == 0,
        "re-registered tables keep the bucketed distribution")
    }
  }

  test("a delete tick after a compaction that retired every deletes " +
    "landing re-creates the deletes store and serves the expected live set") {
    import spark.implicits._
    val all = vecsOf(sfDir).filter(col("vec_id") < 300)
    val store = java.nio.file.Files.createTempDirectory("graft_anncompact_").toString
    def tick(lo: Long, hi: Long, landingId: Long, deletes: DataFrame): Unit =
      StreamOps.annIndexTick(spark, store,
        all.filter(col("vec_id") >= lo && col("vec_id") < hi),
        "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = landingId,
        deletes = deletes)
    tick(0L, 200L, 0L, null)
    tick(200L, 250L, 1L, all.filter(col("vec_id") < 200 && col("vec_id") % 10 === 3))
    StreamOps.annIndexCompact(spark, store, upTo = 2L)
    assert(AnnStore.readOpt(spark, store, "deletes", "vec_id").isEmpty,
      "the compaction retires every deletes landing")
    tick(250L, 300L, 2L, all.filter(col("vec_id") < 250 && col("vec_id") % 10 === 7))
    val expect = all.select(col("vec_id")).as[Long].collect().toSet
      .filterNot(id => (id < 200 && id % 10 == 3) || (id < 250 && id % 10 == 7))
    val live = StreamOps.annLiveVectors(spark, store).select(col("vec_id")).as[Long].collect()
    assert(live.length == expect.size && live.toSet == expect)
  }

  test("a LEGACY (pre-bucketing) store is served read-only via the plain " +
    "path fallback; landing into it fails loudly") {
    import graft.sinks.SketchStore
    val all = vecsOf(sfDir).limit(50)
    val store = java.nio.file.Files.createTempDirectory("graft_annlegacy_").toString
    SketchStore.land(spark, s"$store/vectors", all, 0L)
    // read falls back (no catalog table, files unbucketed) and is correct
    assert(StreamOps.annLiveVectors(spark, store).count() == 50)
    val ex = intercept[IllegalStateException] {
      AnnStore.land(spark, store, "vectors", all, 1L, "vec_id")
    }
    assert(ex.getMessage.contains("pre-bucketing"),
      s"must refuse to mix bucketed landings into legacy files: ${ex.getMessage}")
  }

  private def tempStore(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Row count per landing of a sub-store frame. */
  private def perLanding(df: DataFrame): Map[Long, Long] =
    df.groupBy("__landing").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Run `body` with the session's partition overwrite mode `static`. */
  private def staticSession[T](body: => T): T = {
    val prior = spark.conf.getOption(AnnStoreSpec.ModeKey)
    spark.conf.set(AnnStoreSpec.ModeKey, "static")
    try body
    finally prior match {
      case Some(v) => spark.conf.set(AnnStoreSpec.ModeKey, v)
      case None => spark.conf.unset(AnnStoreSpec.ModeKey)
    }
  }

  test("landMany rethrows a failed land only after its sibling lands " +
    "finished writing: the slow land's files are committed and no job runs") {
    val store = tempStore("graft_annlandmany_")
    val boom = udf { (id: Long) =>
      if (id >= 0L) throw new IllegalStateException("injected land failure") else id
    }.asNondeterministic()
    val slow = udf { (id: Long) => Thread.sleep(2000); id }.asNondeterministic()
    // one task per land: the slow one leaves the failing one a free core
    val rows = spark.range(0, 4, 1, numPartitions = 1)
    val ex = intercept[Exception] {
      AnnStore.landMany(spark, store, 5L, Seq(
        ("vectors", rows.select(boom(col("id")).as("vec_id")), "vec_id"),
        ("edges", rows.limit(1).select(slow(col("id")).as("src")), "src")))
    }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("injected land failure")),
      s"the failed land's error propagates: $ex")
    val slowDir = new java.io.File(s"$store/edges/__landing=5")
    assert(slowDir.isDirectory && slowDir.listFiles().exists(_.getName.startsWith("part-")),
      "the slow land finished writing before landMany threw")
    // the status tracker is fed by the listener bus, asynchronously:
    // give it the moment it takes to see the finished job end
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 1000000000L
    while (sc.statusTracker.getActiveJobIds.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(sc.statusTracker.getActiveJobIds.isEmpty, "no land job still runs")
  }

  test("no land changes the session's partition overwrite mode: a static " +
    "session stays static while every write job runs, and other landings survive") {
    staticSession {
      AnnStoreSpec.seenModes.clear()
      val probe = udf { (id: Long) =>
        AnnStoreSpec.seenModes.add(SparkSpec.session.conf.get(AnnStoreSpec.ModeKey)); id
      }.asNondeterministic()
      def probed(c: String, lo: Long, hi: Long): DataFrame =
        spark.range(lo, hi).select(probe(col("id")).as(c))
      val store = tempStore("graft_annstatic_")
      AnnStore.land(spark, store, "vectors", spark.range(0, 40).select(col("id").as("vec_id")),
        0L, "vec_id")
      AnnStore.land(spark, store, "vectors", probed("vec_id", 0, 20), 1L, "vec_id")
      AnnStore.land(spark, store, "edges", spark.range(0, 30).select(col("id").as("src")),
        0L, "src")
      AnnStore.landMany(spark, store, 2L, Seq(
        ("vectors", probed("vec_id", 0, 10), "vec_id"),
        ("edges", probed("src", 0, 10), "src"),
        ("asg", probed("vec_id", 0, 10), "vec_id")))
      import scala.jdk.CollectionConverters._
      val seen = AnnStoreSpec.seenModes.asScala.toList
      assert(seen.size >= 50, s"the probe ran in every probed write: ${seen.size} rows")
      assert(seen.toSet == Set("static"), s"a land changed the session's mode: ${seen.toSet}")
      def counts(sub: String, key: String) = perLanding(AnnStore.read(spark, store, sub, key))
      assert(counts("vectors", "vec_id") == Map(0L -> 40L, 1L -> 20L, 2L -> 10L))
      assert(counts("edges", "src") == Map(0L -> 30L, 2L -> 10L))
      assert(counts("asg", "vec_id") == Map(2L -> 10L))
    }
  }

  test("the store's tables are dynamic themselves: a plain static-session " +
    "overwrite of one landing keeps every other landing, before and after " +
    "re-registration") {
    val store = buildStore()
    def vectorsTable(): String = spark.catalog.listTables().collect().map(_.name)
      .filter(_.endsWith("_vectors")).find { n =>
        spark.sql(s"DESCRIBE TABLE EXTENDED $n").filter(col("col_name") === "Location")
          .collect().exists(_.getString(1).endsWith(s"$store/vectors"))
      }.getOrElse(fail(s"no catalog table over $store/vectors"))
    def overwriteOneLanding(): Unit = {
      val t = vectorsTable()
      val props = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
        .filter(col("col_name") === "Storage Properties").collect().map(_.getString(1))
      assert(props.exists(_.contains("partitionOverwriteMode=dynamic")),
        s"the table declares dynamic overwrite: ${props.mkString}")
      val before = perLanding(spark.table(t))
      assert(before.size >= 2, s"two landings to tell the modes apart: $before")
      val last = before.keys.max
      val replay = spark.table(t).filter(col("__landing") === last).localCheckpoint()
      staticSession(replay.write.mode("overwrite").insertInto(t))
      spark.catalog.refreshTable(t)
      assert(perLanding(spark.table(t)) == before, "the static-session overwrite kept the other landings")
    }
    overwriteOneLanding()
    AnnStore.dropTables(spark, store)
    AnnStore.read(spark, store, "vectors", "vec_id") // re-registers over the files
    overwriteOneLanding()
  }

  // ---- one bucket count per store, fixed by the session that lands it first

  /** The catalog bucket count of each sub-store of `store` that has a table. */
  private def catalogBuckets(s: SparkSession, store: String): Map[String, Int] =
    Seq("vectors", "edges", "asg", "deletes").flatMap { sub =>
      s.catalog.listTables().collect().map(_.name).filter(_.endsWith(s"_$sub"))
        .map(t => s.sql(s"DESCRIBE TABLE EXTENDED $t").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap)
        .find(_.get("Location").exists(_.endsWith(s"$store/$sub")))
        .map(meta => sub -> meta("Num Buckets").trim.toInt)
    }.toMap

  /** The bucket ids in the file names of one landing, over every sub-store. */
  private def bucketIdsOf(store: String, landing: Long): Set[Int] =
    Seq("vectors", "edges", "asg", "deletes").flatMap { sub =>
      Option(new java.io.File(s"$store/$sub/__landing=$landing").listFiles()).toSeq.flatten
        .flatMap(f => """_(\d{5})\.c000""".r.findFirstMatchIn(f.getName).map(_.group(1).toInt))
    }.toSet

  private def rowStrings(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a store has ONE bucket count, the shuffle parallelism of the session that " +
    "landed it first, kept when a session of other parallelism re-registers and lands it") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val store = buildStore()
    assert(catalogBuckets(spark, store) == Map("vectors" -> parts, "edges" -> parts,
      "asg" -> parts, "deletes" -> parts), "every sub-store is bucketed by the writing session")
    val live = rowStrings(StreamOps.annLiveVectors(spark, store))
    val report = rowStrings(StreamOps.annIndexReport(spark, store))
    AnnStore.dropTables(spark, store)
    val other = spark.newSession()
    other.conf.set("spark.sql.shuffle.partitions", (parts / 2).toString)
    Seq("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .foreach(other.conf.set(_, "-1"))
    try {
      assert(rowStrings(StreamOps.annLiveVectors(other, store)) == live, "live vectors re-read")
      assert(rowStrings(StreamOps.annIndexReport(other, store)) == report, "index re-read")
      // the serve views re-register the three stores they read
      assert(catalogBuckets(other, store) == Map("vectors" -> parts, "edges" -> parts,
        "deletes" -> parts), s"re-registered at the recorded count, not the session's ${parts / 2}")
      assert(shuffles(StreamOps.annLiveVectors(other, store)) == 0, "annLiveVectors co-located")
      assert(shuffles(StreamOps.annIndexReport(other, store)) == 0, "annIndexReport co-located")
      val all = Tables.t(other, sfDir, "embeddings")
        .select(col("vec_id"), F.asDouble(col("embedding")).as("v"))
      StreamOps.annIndexTick(other, store, all.filter(col("vec_id") % 10 === 9),
        "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 2L,
        deletes = all.filter(col("vec_id") % 20 === 7))
      assert(bucketIdsOf(store, 2L) == (0 until parts).toSet,
        s"the other session's tick wrote ${parts}-bucket files: ${bucketIdsOf(store, 2L)}")
      assert(catalogBuckets(other, store) == Map("vectors" -> parts, "edges" -> parts,
        "asg" -> parts, "deletes" -> parts), "the tick registers asg at the recorded count too")
    } finally AnnStore.dropTables(other, store)
  }

  test("a 5-query beam-4 3-hop search over the pinned views of a tick-built store runs " +
    "9 jobs of at most spark.sql.shuffle.partitions tasks per pinned-view scan") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val store = buildStore()
    val corpus = StreamOps.annLiveVectors(spark, store).localCheckpoint(eager = true)
    val edges = StreamOps.annIndexReport(spark, store).localCheckpoint(eager = true)
    try {
      assert(corpus.rdd.getNumPartitions == parts && edges.rdd.getNumPartitions == parts,
        s"pinned views: ${corpus.rdd.getNumPartitions} and ${edges.rdd.getNumPartitions} partitions")
      val anchors = corpus.filter(pmod(col("vec_id"), lit(64L)) === 0)
      // the queries as a local relation, as a serving loop holds them
      val q = spark.createDataFrame(corpus.orderBy("vec_id").limit(5).collect().toSeq.asJava,
        corpus.schema)
      def search(): Int =
        Graft.annGraph(corpus, q, anchors, edges, "vec_id", "v", 10, 4, 3).collect().length
      search() // warm: codegen
      val group = "annstore-search"
      val stageJob = TrieMap.empty[Int, Int]
      val tasks = TrieMap.empty[Int, Int]
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group) {
            tasks(j.jobId) = 0
            j.stageIds.foreach(stageJob(_) = j.jobId)
          }
        override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
          stageJob.get(t.stageId).foreach(id => tasks(id) = tasks(id) + 1)
      }
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup(group, "graph search over the pinned views")
        try assert(search() == 50) finally sc.clearJobGroup()
        var (last, polls) = ("", 0) // listener events arrive async
        while (tasks.toString != last && polls < 20) { last = tasks.toString; Thread.sleep(500); polls += 1 }
      } finally sc.removeSparkListener(listener)
      val perJob = tasks.toSeq.sorted.map(_._2)
      info(s"tasks per job: ${perJob.mkString(" ")}")
      assert(perJob.size == 9, s"the search ran ${perJob.size} jobs, not 9")
      // one task per partition of what a job scans: each hop's edge job
      // scans the pinned edges twice (both directions, a union), every
      // other job one pinned view, the local queries or a shuffle
      assert(perJob.count(_ > parts) == 3 && perJob.max <= 2 * parts,
        s"more than $parts tasks per scan: ${perJob.mkString(" ")}")
    } finally { Checkpoints.free(corpus); Checkpoints.free(edges); AnnStore.dropTables(spark, store) }
  }

  test("a store with bucketed landings but no bucket record predates the record: it is " +
    "served as a plain parquet read, and land refuses it") {
    val store = buildStore()
    val live = rowStrings(StreamOps.annLiveVectors(spark, store))
    AnnStore.dropTables(spark, store)
    Seq("_buckets", "._buckets.crc").foreach(f => new java.io.File(s"$store/$f").delete())
    assert(rowStrings(StreamOps.annLiveVectors(spark, store)) == live,
      "the plain read serves the same live set")
    noBroadcast(assert(shuffles(StreamOps.annLiveVectors(spark, store)) > 0,
      "no bucketed table was declared over the files"))
    val ex = intercept[IllegalStateException] {
      AnnStore.land(spark, store, "vectors", vecsOf(sfDir).limit(5), 2L, "vec_id")
    }
    assert(ex.getMessage.contains("pre-bucketing"), ex.getMessage)
  }
}

object AnnStoreSpec {
  val ModeKey = "spark.sql.sources.partitionOverwriteMode"
  /** Modes the land probe read while its write tasks ran (local mode:
    * tasks share the driver JVM and its session). */
  val seenModes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
