package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Round-17 contract: the ANN store's merged-view SERVE path is
  * partition-local over the bucketed landing tables — ZERO shuffles
  * for annLiveVectors / annIndexReport (round-16 verdict finding 2:
  * the path-based store paid one full-store exchange per view per
  * read). Also pins the cross-session re-register path and the
  * legacy-store refusal. */
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
}
