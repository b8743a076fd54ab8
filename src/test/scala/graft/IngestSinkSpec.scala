package graft

import graft.sources.KlineJson
import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The kline ingest micro-batch (`StreamOps.ingestBatch`, the body of
  * every `ingestSink` stream): its Spark-job budget, and the cases its
  * old store and emptiness probes guarded — a batch with no bars, a
  * first batch into a missing store, and a first batch retried over a
  * failed write's `_temporary` leftovers. */
class IngestSinkSpec extends SparkSpec {
  import spark.implicits._

  private val landingSchema = "symbol STRING, page_seq LONG, payload STRING"

  private def bars(close: String, minutes: Range): String =
    minutes.map { m =>
      val ms = m * 60000L
      s"""[$ms, "1.0", "2.0", "0.5", "$close", "10.0", ${ms + 59999}, "15.0", 7, "4.0", "6.0", "0"]"""
    }.mkString("[", ",", "]")

  /** Write `pages` as one JSON file at `dir/name.json`. */
  private def writePages(root: String, dir: String, name: String,
                         pages: Seq[(String, Long, String)]): Unit = {
    val tmp = s"$root/tmp_$name"
    pages.toDF("symbol", "page_seq", "payload").coalesce(1).write.json(tmp)
    new java.io.File(dir).mkdirs()
    new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".json"))
      .foreach(f => java.nio.file.Files.move(f.toPath, java.nio.file.Paths.get(dir, s"$name.json")))
  }

  /** (symbol, minute) -> close of every stored bar. */
  private def stored(store: String): Map[(String, Long), Double] =
    spark.read.parquet(store)
      .select(col("symbol"), (unix_millis(col("timestamp")) / 60000).cast("long"), col("close"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap

  private def expect(close: Double, sym: String, minutes: Range): Map[(String, Long), Double] =
    minutes.map(m => (sym, m.toLong) -> close).toMap

  test("a kline micro-batch merged into an existing store runs at most six Spark jobs") {
    val root = java.nio.file.Files.createTempDirectory("ingest_jobs").toString
    val store = s"$root/store"
    /** Land `pages` and return them as a batch, like a stream's micro-batch. */
    def landed(name: String, pages: Seq[(String, Long, String)]): DataFrame = {
      writePages(root, s"$root/in_$name", name, pages)
      KlineJson.parse(spark.read.schema(landingSchema).json(s"$root/in_$name"),
        "payload", "symbol", "SPOT", "1m", passthrough = Seq("page_seq"))
    }
    def ingest(batch: DataFrame): Unit =
      StreamOps.ingestBatch(spark, batch, store,
        KlineJson.dedupKeepLast(_: DataFrame, col("page_seq")),
        Seq("symbol", "timestamp"), "symbol")
    ingest(landed("b0", Seq(("BTCUSDT", 1L, bars("1.0", 0 until 4)), ("ETHUSDT", 1L, bars("2.0", 0 until 4)))))
    val b1 = landed("b1", Seq(("BTCUSDT", 1L, bars("1.5", 2 until 6)), ("BTCUSDT", 2L, bars("1.6", 5 until 7))))

    val group = "ingest-batch-job-budget"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add(j.stageInfos.map(_.name).mkString(" + "))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "one kline micro-batch")
      try ingest(b1) finally spark.sparkContext.clearJobGroup()
      Thread.sleep(1000) // listener bus is async; let any events drain
      // the delta checkpoint (2), the impacted-partition collect (1),
      // the merge checkpoint (2) and the write (1)
      assert(jobs.size > 0 && jobs.size <= 6,
        s"a merged micro-batch ran ${jobs.size} Spark jobs, budget 6:\n${jobs.asScala.mkString("\n")}")
    } finally spark.sparkContext.removeSparkListener(listener)

    assert(stored(store) == expect(1.0, "BTCUSDT", 0 until 2) ++ expect(1.5, "BTCUSDT", 2 until 5) ++
      expect(1.6, "BTCUSDT", 5 until 7) ++ expect(2.0, "ETHUSDT", 0 until 4))
  }

  test("a landed file with no bars leaves the store unchanged and the query healthy") {
    val root = java.nio.file.Files.createTempDirectory("ingest_empty").toString
    val landing = s"$root/landing"; val store = s"$root/store"
    new java.io.File(landing).mkdirs()
    val q = StreamOps.streamingKlineIngest(spark, landing, store, "SPOT", "1m", s"$root/ckpt")
    try {
      writePages(root, landing, "b0", Seq(("BTCUSDT", 1L, bars("1.0", 0 until 3))))
      q.processAllAvailable()
      def files(): Set[String] = {
        val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(store))
        try walk.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSet
        finally walk.close()
      }
      val (rowsBefore, filesBefore) = (stored(store), files())

      writePages(root, landing, "b1", Seq(("BTCUSDT", 2L, "[]"), ("ETHUSDT", 1L, "[]")))
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty)
      assert(q.recentProgress.exists(_.numInputRows == 2), "the pages were consumed")
      assert(files() == filesBefore, "a batch without bars must write nothing")
      assert(stored(store) == rowsBefore)

      writePages(root, landing, "b2", Seq(("BTCUSDT", 3L, bars("1.5", 2 until 4))))
      q.processAllAvailable()
      assert(stored(store) == expect(1.0, "BTCUSDT", 0 until 2) ++ expect(1.5, "BTCUSDT", 2 until 4))
    } finally q.stop()
  }

  /** Land a first batch after `prepare(store)`, then a second batch
    * that revises one bar and adds a symbol, in one running query. */
  private def firstBatchThenMerge(prefix: String)(prepare: String => Unit): Unit = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    val landing = s"$root/landing"; val store = s"$root/store"
    new java.io.File(landing).mkdirs()
    prepare(store)
    writePages(root, landing, "b0", Seq(("BTCUSDT", 1L, bars("1.0", 0 until 3))))
    val q = StreamOps.streamingKlineIngest(spark, landing, store, "SPOT", "1m", s"$root/ckpt")
    try {
      q.processAllAvailable()
      assert(stored(store) == expect(1.0, "BTCUSDT", 0 until 3))

      writePages(root, landing, "b1", Seq(("BTCUSDT", 2L, bars("1.5", 2 until 4)),
        ("ETHUSDT", 1L, bars("9.0", 0 until 2))))
      q.processAllAvailable()
      assert(q.isActive && q.exception.isEmpty)
      assert(stored(store) == expect(1.0, "BTCUSDT", 0 until 2) ++ expect(1.5, "BTCUSDT", 2 until 4) ++
        expect(9.0, "ETHUSDT", 0 until 2))
    } finally q.stop()
  }

  test("a first batch lands into a missing store, and the next batch merges into it") {
    firstBatchThenMerge("ingest_missing") { store =>
      assert(!new java.io.File(store).exists())
    }
  }

  test("a first batch retried over a failed write's _temporary leftovers lands, and the next merges") {
    firstBatchThenMerge("ingest_retry") { store =>
      // a batch-0 write that died before its job commit: task output
      // (here a stale close of 7.0) sits only under the root's _temporary
      val stale = KlineJson.parse(
        Seq(("BTCUSDT", 1L, bars("7.0", 0 until 3))).toDF("symbol", "page_seq", "payload"),
        "payload", "symbol", "SPOT", "1m")
      stale.write.partitionBy("symbol").parquet(s"$store/_temporary/0/task_0")
      assert(new java.io.File(store).list().toSeq == Seq("_temporary"))
    }
  }
}
