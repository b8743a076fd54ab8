package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-17 contracts: the annIndexTick UPDATE-form guard (a live id
  * must be re-embedded as delete + insert in one tick, never batch
  * alone) and the CTE-materialization rewrite's anchoring. */
class Round17Spec extends SparkSpec {
  import graft.streaming.StreamOps

  private def vecsOf(dir: String): DataFrame =
    Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), F.asDouble(col("embedding")).as("v"))

  test("annIndexTick FAILS LOUDLY when a live id arrives in `batch` alone, " +
    "and the error names the sanctioned delete+insert form") {
    val all = vecsOf("/root/testdata/sf0.001")
    val store = java.nio.file.Files.createTempDirectory("graft_r17_guard_").toString
    StreamOps.annIndexTick(spark, store, all.filter(col("vec_id") < 400),
      "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 0L)
    // re-embed vec_id 7 (live) by batch alone: must throw, and must not
    // have landed anything for tick 1
    val tweaked = all.filter(col("vec_id") === 7)
      .select(col("vec_id"), transform(col("v"), x => x * 2.0).as("v"))
    val ex = intercept[IllegalArgumentException] {
      StreamOps.annIndexTick(spark, store, tweaked,
        "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 1L)
    }
    assert(ex.getMessage.contains("delete + insert in ONE tick"),
      s"error must name the sanctioned update form, got: ${ex.getMessage}")
    assert(ex.getMessage.contains("7"), "error must name the offending id")
    // the guard ran BEFORE any landing: tick 1 left no state, so the
    // next tick's crashed-tick manifest check stays quiet
    assert(spark.read.parquet(s"$store/vectors")
      .filter(col("__landing").cast("long") === 1L).isEmpty,
      "a guarded tick must not land vectors")
    // the sanctioned form (same tick: delete the id AND insert its new
    // vector) is accepted and the NEW vector wins everywhere
    StreamOps.annIndexTick(spark, store, tweaked,
      "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 1L,
      deletes = all.filter(col("vec_id") === 7))
    val lived = StreamOps.annLiveVectors(spark, store)
      .filter(col("vec_id") === 7).collect()
    assert(lived.length == 1, "the re-embedded id stays live")
    val v0 = all.filter(col("vec_id") === 7).select("v")
      .collect()(0).getSeq[Double](0)
    val v1 = lived(0).getSeq[Double](1)
    assert(v1 == v0.map(_ * 2.0), "the NEW embedding is the live vector")
  }

  test("a dead id (never inserted) and a deleted id pass the guard — only " +
    "LIVE ids are rejected from a batch-only arrival") {
    val all = vecsOf("/root/testdata/sf0.001")
    val store = java.nio.file.Files.createTempDirectory("graft_r17_guard2_").toString
    StreamOps.annIndexTick(spark, store, all.filter(col("vec_id") < 300),
      "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 0L)
    // delete 5, then re-insert 5 batch-only in a LATER tick: 5 is not
    // live any more, so the plain insert path (resurrection) is fine
    StreamOps.annIndexTick(spark, store,
      all.filter(col("vec_id") >= 300 && col("vec_id") < 320),
      "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 1L,
      deletes = all.filter(col("vec_id") === 5))
    StreamOps.annIndexTick(spark, store, all.filter(col("vec_id") === 5),
      "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 2L)
    assert(StreamOps.annLiveVectors(spark, store)
      .filter(col("vec_id") === 5).count() == 1L,
      "a deleted id re-inserted batch-only is a legal resurrection")
  }

  test("AtomicReport: a reader resolves only COMMITTED versions — a " +
    "partial (uncommitted) publish is invisible, and pruning keeps a " +
    "grace version") {
    import spark.implicits._
    import graft.sinks.AtomicReport
    val dir = java.nio.file.Files.createTempDirectory("graft_r17_rep_").toString
    AtomicReport.publish(Seq((1L, "a")).toDF("k", "s"), dir, 0L)
    assert(AtomicReport.read(spark, dir).collect().map(_.getString(1)).toSeq == Seq("a"))
    // a crashed/in-flight publish: directory exists, no _SUCCESS
    val partial = new java.io.File(s"$dir/v=1")
    assert(partial.mkdirs())
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/v=1/part-junk"),
      Array[Byte](1, 2, 3))
    assert(AtomicReport.versions(spark, dir) == Seq(0L),
      "an uncommitted version must be invisible")
    assert(AtomicReport.read(spark, dir).collect().map(_.getString(1)).toSeq == Seq("a"),
      "the reader keeps resolving the last committed version")
    AtomicReport.publish(Seq((2L, "b")).toDF("k", "s"), dir, 1L)
    assert(AtomicReport.read(spark, dir).collect().map(_.getString(1)).toSeq == Seq("b"))
    AtomicReport.publish(Seq((3L, "c")).toDF("k", "s"), dir, 2L)
    AtomicReport.publish(Seq((4L, "d")).toDF("k", "s"), dir, 3L)
    assert(AtomicReport.versions(spark, dir) == Seq(2L, 3L),
      "prune keeps the newest two committed versions (one tick of grace)")
    assert(AtomicReport.read(spark, dir).collect().map(_.getString(1)).toSeq == Seq("d"))
  }

  test("ohlcState(decimalVolume = true): the volume merge law is BITWISE " +
    "through the store at any landing grouping — not exact-up-to-ulps") {
    import spark.implicits._
    import graft.sinks.SketchStore
    // 0.1/0.2/0.3… are non-dyadic: double summation order moves the low
    // bits, decimal summation cannot
    val rows = (0 until 90).map { i =>
      ("s" + (i % 2),
        java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z")
          .plusSeconds(i * 300L)),
        i.toLong, 0.1 + (i % 7) * 0.1)
    }
    val all = rows.toDF("sym", "ts", "id", "v")
    val store = java.nio.file.Files.createTempDirectory("graft_r17_dvol_").toString
    // three interleaved landings (every bucket's rows split across them)
    (0 until 3).foreach { t =>
      StreamOps.ohlcTick(spark, store, all.filter(col("id") % 3 === t),
        Seq("sym"), "ts", "id", "v", "hour", t.toLong, decimalVolume = true)
    }
    val merged = SketchStore.mergedOhlc(spark, store, Seq("sym"))
    val oneShot = SketchStore.ohlcState(all, Seq("sym"), "ts", "id", "v",
      "hour", decimalVolume = true)
    assert(merged.exceptAll(oneShot).isEmpty && oneShot.exceptAll(merged).isEmpty,
      "EVERY column, volume included, must merge bitwise under the knob")
    assert(merged.schema("volume").dataType.isInstanceOf[
      org.apache.spark.sql.types.DecimalType], "volume landed as decimal")
  }

  test("anchor drift: deleting anchors drifts the stored assignments; " +
    "annIndexCompact(reassignAnchorMod) resets drift to ZERO and a " +
    "subsequent insert tick proposes exactly what a never-drifted store " +
    "would") {
    import graft.ops.SimOps
    val all = vecsOf("/root/testdata/sf0.001")
    val store = java.nio.file.Files.createTempDirectory("graft_r17_drift_").toString
    StreamOps.annIndexTick(spark, store, all.filter(col("vec_id") < 400),
      "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 0L)
    // tick 1 deletes HALF the anchors (vec_id % 128 == 0 ⊂ % 64 == 0)
    // and inserts fresh ids — the stored cells now point at retired
    // anchors for much of the corpus
    StreamOps.annIndexTick(spark, store,
      all.filter(col("vec_id") >= 400 && col("vec_id") < 440),
      "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 1L,
      deletes = all.filter(col("vec_id") < 400 && col("vec_id") % 128 === 0))
    val before = StreamOps.annAsgDrift(spark, store).collect()(0)
    assert(before.getDouble(2) > 0.0, s"anchor deletion must drift: $before")
    StreamOps.annIndexCompact(spark, store, upTo = 2L, reassignAnchorMod = 64)
    val after = StreamOps.annAsgDrift(spark, store).collect()(0)
    assert(after.getDouble(2) == 0.0, s"reassign-compact must reset drift: $after")
    assert(after.getLong(0) == before.getLong(0), "live corpus unchanged")
    // a subsequent tick on the repaired store lands bit-identically to
    // the delta computed with a FRESH internal assignment (corpusAsg =
    // null) — the repaired store behaves like one that never drifted
    val liveC = graft.Checkpoints.fresh(
      StreamOps.annLiveVectors(spark, store))
    val edgesC = graft.Checkpoints.fresh(
      StreamOps.annIndexReport(spark, store))
    val anc = liveC.filter(pmod(col("vec_id"), lit(64)) === 0)
    val b2 = all.filter(col("vec_id") >= 440 && col("vec_id") < 480)
    val expect = SimOps.graphInsertDeltaOf(liveC, b2, edgesC, anc, anc,
      "vec_id", "v", r = 8, beam = 4, hops = 3)
      .select(col("src"), col("dst"), col("cos"))
    StreamOps.annIndexTick(spark, store, b2, "vec_id", "v",
      r = 8, beam = 4, hops = 3, landingId = 2L)
    val landed = spark.read.parquet(s"$store/edges")
      .filter(col("__landing").cast("long") === 2L)
      .select(col("src"), col("dst"), col("cos"))
    assert(landed.exceptAll(expect).isEmpty && expect.exceptAll(landed).isEmpty,
      "post-repair tick == fresh-assignment delta, bit-identical")
  }

  test("labeledGraphOf slice law: restricted to one label, the one-pass " +
    "multi-label build is BIT-identical to knnGraphOf on that label's " +
    "slice with the same per-label anchors — for EVERY label") {
    import graft.ops.SimOps
    val all = Tables.t(spark, sfDir, "embeddings")
      .select(col("vec_id"), F.asDouble(col("embedding")).as("v"), col("label"))
    val onePass = SimOps.labeledGraphOf(all, "vec_id", "v", "label",
      r = 8, cellProbes = 2, descentRounds = 1)
      .localCheckpoint(eager = true)
    val labels = all.select("label").distinct().collect().map(_.getInt(0)).sorted
    assert(labels.length >= 5, "the gate corpus carries many labels")
    labels.foreach { lb =>
      val slice = all.filter(col("label") === lb)
        .select(col("vec_id"), col("v"), col("label").as("__lbl"))
      val anchors = SimOps.labelAnchorsOf(slice, 64)
        .select(col("vec_id"), col("v"))
      val direct = SimOps.knnGraphOf(
        slice.select(col("vec_id"), col("v")), anchors,
        "vec_id", "v", "vec_id", "v", r = 8, cellProbes = 2, descentRounds = 1)
      val sliced = onePass.filter(col("label") === lb)
        .select(col("src"), col("dst"), col("cos"))
      assert(sliced.exceptAll(direct).isEmpty && direct.exceptAll(sliced).isEmpty,
        s"label $lb slice must equal the slice-only build bit-identically")
    }
    // every label got at least one anchor (the min-id fallback), so no
    // label is edgeless
    labels.foreach { lb =>
      assert(onePass.filter(col("label") === lb).count() > 0L,
        s"label $lb must hold edges")
    }
  }

  test("s29: label-partitioned search at the PLAIN beam returns only " +
    "target-label results with full k — the low-selectivity regime where " +
    "s28's over-fetch budget explodes") {
    val df = graft.ops.SimOps.queries("s29_ann_label")(spark, sfDir)
      .localCheckpoint(eager = true)
    assert(df.count() > 0)
    val lbl = Tables.t(spark, sfDir, "embeddings").select(col("vec_id"), col("label"))
    assert(df.join(lbl, "vec_id").filter(col("label") =!= 1).isEmpty,
      "every result carries the target label")
    // full k for every query (the slice holds >> k nodes)
    val ks = df.groupBy("q_id").count().select(min("count")).collect()(0).getLong(0)
    assert(ks == 10L, s"min per-query results $ks (gate k = 10)")
  }

  test("materializeCtes anchors to CTE definition sites: column-list CTEs " +
    "are rewritten, mid-line ` AS (` text is left alone") {
    import graft.ops.SimOps.materializeCtes
    val sql =
      """WITH base AS (SELECT 1 AS x),
        |w(a, b) AS (SELECT x, x + 1 FROM base),
        |lit AS (SELECT 'this AS (text)' AS s, CAST(x AS INT) AS y FROM base)
        |SELECT * FROM w JOIN lit ON TRUE""".stripMargin
    val out = materializeCtes(sql)
    assert(out.contains("WITH base AS MATERIALIZED (SELECT 1 AS x)"),
      "WITH-leading CTE rewritten")
    assert(out.contains("w(a, b) AS MATERIALIZED ("),
      "column-list CTE rewritten")
    assert(out.contains("lit AS MATERIALIZED (SELECT"),
      "line-start CTE rewritten")
    assert(out.contains("'this AS (text)'"),
      "string literal untouched")
    assert(!out.contains("x AS MATERIALIZED"), "expression alias untouched")
    // idempotent enough for today's call sites: a second pass must not
    // double-rewrite an already-materialized CTE
    assert(materializeCtes(out) == out, "second pass is a no-op")
  }
}
