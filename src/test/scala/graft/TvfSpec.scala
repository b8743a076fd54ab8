package graft

import org.apache.spark.sql.functions._

/** SQL TVF surface (functions/GraftTvfs): the table facades reachable
  * from plain `spark.sql(...)` — one implementation, two surfaces, so
  * each test pins the TVF result EQUAL to the Scala facade call on the
  * same inputs, plus plan-transparency (a filter over the TVF reaches
  * the underlying scan) and literal-argument validation. */
class TvfSpec extends SparkSpec {
  import spark.implicits._

  private lazy val events = Tables.t(spark, sfDir, "events")

  test("graft_resample_ohlc from SQL equals the Scala facade") {
    events.createOrReplaceTempView("tvf_events")
    val sqlOut = spark.sql(
      "SELECT * FROM graft_resample_ohlc('tvf_events', 'event_type', 'ts', 'event_id', 'value', 'hour')")
      .orderBy("event_type", "bucket").collect().toSeq
    val apiOut = Graft.resampleOhlc(events, "event_type", "ts", "event_id", "value", "hour")
      .orderBy("event_type", "bucket").collect().toSeq
    assert(sqlOut.nonEmpty && sqlOut == apiOut)
  }

  test("graft_asof_join from SQL equals the Scala facade, composes in a bigger query") {
    val perp = events.filter(col("event_id") % 29 === 0)
      .select(col("event_type").as("sym"), col("ts"), col("value").as("mark"))
    val spot = events.filter(col("event_id") % 7 === 0)
      .groupBy(col("event_type").as("sym"), col("ts"))
      .agg(max_by(col("value"), col("event_id")).as("spot"))
    perp.createOrReplaceTempView("tvf_perp")
    spot.createOrReplaceTempView("tvf_spot")
    val sqlOut = spark.sql(
      """SELECT sym, ts, mark, spot, mark / spot - 1.0 AS premium
        |FROM graft_asof_join('tvf_perp', 'tvf_spot', 'sym', 'ts', 'spot')
        |WHERE spot IS NOT NULL""".stripMargin)
      .orderBy("sym", "ts").collect().toSeq
    val apiOut = Graft.asofJoin(perp, spot, "sym", "ts", Seq("spot"))
      .filter(col("spot").isNotNull)
      .select(col("sym"), col("ts"), col("mark"), col("spot"),
        (col("mark") / col("spot") - 1.0).as("premium"))
      .orderBy("sym", "ts").collect().toSeq
    assert(sqlOut.nonEmpty && sqlOut == apiOut)
  }

  test("graft_minhash_pairs and graft_components chain from SQL") {
    Tables.t(spark, sfDir, "documents").createOrReplaceTempView("tvf_docs")
    val pairs = spark.sql(
      "SELECT * FROM graft_minhash_pairs('tvf_docs', 'doc_id', 'text', 3, 8, 4)")
    val apiPairs = Graft.minhashPairs(Tables.t(spark, sfDir, "documents"),
      "doc_id", "text", 3, 8, 4)
    assert(pairs.orderBy("doc_a", "doc_b").collect().toSeq ==
      apiPairs.orderBy("doc_a", "doc_b").collect().toSeq)
    // chain: the TVF output registered as a view feeds the next TVF
    pairs.filter(col("est_sim") >= 0.5).createOrReplaceTempView("tvf_pairs")
    val clusters = spark.sql(
      "SELECT * FROM graft_components('tvf_pairs', 'doc_a', 'doc_b')")
      .orderBy("id").collect().toSeq
    val apiClusters = Graft.connectedComponents(
      apiPairs.filter(col("est_sim") >= 0.5), "doc_a", "doc_b")
      .orderBy("id").collect().toSeq
    assert(clusters.nonEmpty && clusters == apiClusters)
  }

  test("graft_ewma_exact and graft_winsorize from SQL equal their facades") {
    events.createOrReplaceTempView("tvf_events")
    val e = spark.sql(
      "SELECT * FROM graft_ewma_exact('tvf_events', 'user_id', 'ts', 'event_id', 'value', 0.25)")
      .orderBy("user_id", "ts_ms", "event_id").collect().toSeq
    val eApi = Graft.ewmaExact(events, "user_id", "ts", "event_id", "value", 0.25)
      .orderBy("user_id", "ts_ms", "event_id").collect().toSeq
    assert(e.nonEmpty && e == eApi)
    val w = spark.sql(
      "SELECT * FROM graft_winsorize('tvf_events', 'event_type', 'value', 0.01D, 0.99D)")
      .orderBy("event_type", "event_id").collect().toSeq
    val wApi = ops.CoreOps.winsorizeOf(events, "event_type", "value", 0.01, 0.99)
      .orderBy("event_type", "event_id").collect().toSeq
    assert(w.nonEmpty && w == wApi)
  }

  test("the remaining TVFs (fill_gaps, dedup_keep_last, quantile_bins, wma) equal their facades") {
    events.createOrReplaceTempView("tvf_events")
    val bars = Graft.resampleOhlc(events, "event_type", "ts", "event_id", "value", "hour")
      .select(col("event_type"), col("bucket"), col("close"))
    bars.createOrReplaceTempView("tvf_bars")
    val fg = spark.sql(
      "SELECT * FROM graft_fill_gaps('tvf_bars', 'event_type', 'bucket', 'close', 'interval 1 hour', 'ffill')")
      .orderBy("event_type", "bucket").collect().toSeq
    val fgApi = Graft.fillGaps(bars, "event_type", "bucket", "close")
      .orderBy("event_type", "bucket").collect().toSeq
    assert(fg.nonEmpty && fg == fgApi)
    val dk = spark.sql(
      "SELECT * FROM graft_dedup_keep_last('tvf_events', 'user_id,event_type', 'ts,event_id')")
      .orderBy("user_id", "event_type").collect().toSeq
    val dkApi = Graft.dedupKeepLast(events, Seq("user_id", "event_type"),
      Seq(col("ts"), col("event_id")))
      .orderBy("user_id", "event_type").collect().toSeq
    assert(dk.nonEmpty && dk == dkApi)
    val qb = spark.sql(
      "SELECT * FROM graft_quantile_bins('tvf_events', 'event_type', 'value', 4)")
      .orderBy("event_type", "event_id").collect().toSeq
    val qbApi = ops.CoreOps.quantileBinsOf(events, "event_type", "value", 4)
      .orderBy("event_type", "event_id").collect().toSeq
    assert(qb.nonEmpty && qb == qbApi)
    val wm = spark.sql(
      "SELECT * FROM graft_wma('tvf_events', 'event_type', 'ts', 'event_id', 'value', 5)")
      .orderBy("event_type", "ts", "event_id").collect().toSeq
    val wmApi = Graft.wma(events, "event_type", "ts", "event_id", "value", 5)
      .orderBy("event_type", "ts", "event_id").collect().toSeq
    assert(wm.nonEmpty && wm == wmApi)
  }

  test("graft_ann_ivf / graft_ann_graph / graft_decontaminate equal their facades") {
    val emb = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), F.asDouble(col("embedding")).as("v"))
    emb.createOrReplaceTempView("tvf_emb")
    emb.filter(col("vec_id") < 5).createOrReplaceTempView("tvf_q")
    emb.filter(col("vec_id") % 64 === 0).createOrReplaceTempView("tvf_anchors")
    val ivfSql = spark.sql(
      "SELECT * FROM graft_ann_ivf('tvf_emb', 'tvf_q', 'tvf_anchors', 'vec_id', 'v', 'vec_id', 'v', 10, 2)")
      .orderBy("q_id", "rank").collect().toSeq
    val ivfApi = Graft.annIvf(emb, emb.filter(col("vec_id") < 5),
        emb.filter(col("vec_id") % 64 === 0), "vec_id", "v", "vec_id", "v", 10, 2)
      .orderBy("q_id", "rank").collect().toSeq
    assert(ivfSql.nonEmpty && ivfSql == ivfApi)
    val gSql = spark.sql(
      "SELECT * FROM graft_ann_graph('tvf_emb', 'tvf_q', 'tvf_anchors', 'vec_id', 'v', 10)")
      .orderBy("q_id", "rank").collect().toSeq
    val anchors = emb.filter(col("vec_id") % 64 === 0)
    val gApi = Graft.annGraph(emb, emb.filter(col("vec_id") < 5), anchors,
        Graft.knnGraph(emb, anchors, "vec_id", "v", "vec_id", "v", r = 8),
        "vec_id", "v", 10)
      .orderBy("q_id", "rank").collect().toSeq
    assert(gSql.nonEmpty && gSql == gApi)
    val docs = Tables.t(spark, sfDir, "documents").select(col("doc_id"), col("text"))
    docs.filter(col("doc_id") % 10 =!= 0).createOrReplaceTempView("tvf_train")
    docs.filter(col("doc_id") % 10 === 0).createOrReplaceTempView("tvf_bench")
    val dSql = spark.sql(
      "SELECT * FROM graft_decontaminate('tvf_train', 'tvf_bench', 'doc_id', 'text', 8)")
      .orderBy("doc_id").collect().toSeq
    val dApi = Graft.decontaminate(docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", 8)
      .orderBy("doc_id").collect().toSeq
    assert(dSql.nonEmpty && dSql == dApi)
  }

  test("TVF plans are transparent to Catalyst: outer filter reaches the scan") {
    events.createOrReplaceTempView("tvf_events")
    val q = spark.sql(
      "SELECT * FROM graft_resample_ohlc('tvf_events', 'event_type', 'ts', 'event_id', 'value', 'hour') " +
        "WHERE event_type = 'click'")
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    // the event_type predicate must be pushed to the parquet scan, not
    // evaluated post-aggregation — the TVF inlines like a view
    assert(plan.contains("PushedFilters") &&
      plan.replaceAll("\\s+", " ").matches("(?s).*PushedFilters: \\[[^\\]]*EqualTo\\(event_type,click\\).*"),
      s"expected pushed event_type filter in:\n$plan")
  }

  test("graft_wma rejects a window length below 1") {
    events.createOrReplaceTempView("tvf_events")
    Seq(0, -3).foreach { n =>
      intercept[IllegalArgumentException] {
        spark.sql(
          s"SELECT * FROM graft_wma('tvf_events', 'event_type', 'ts', 'event_id', 'value', $n)")
          .collect()
      }
    }
  }

  test("TVF argument validation fails loudly") {
    events.createOrReplaceTempView("tvf_events")
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM graft_resample_ohlc('tvf_events', 'event_type')").collect()
    }
    assert(ex.getMessage.contains("missing argument") ||
      ex.getMessage.toLowerCase.contains("argument"))
  }
}
