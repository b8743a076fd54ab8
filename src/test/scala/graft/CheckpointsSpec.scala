package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `Checkpoints` is the one way `src/main` materializes a frame:
  * every `stabilize` registers with the enclosing `scoped` block (so a
  * scope leaves no pinned blocks behind), every site honours the
  * reliable key, and no other source file calls `localCheckpoint` or
  * `checkpoint` itself. In the same style: no source file mutates the
  * session conf it is handed. */
class CheckpointsSpec extends SparkSpec {
  import graft.streaming.StreamOps

  private def vecsOf(dir: String): DataFrame =
    Tables.t(spark, dir, "embeddings")
      .select(col("vec_id"), F.asDouble(col("embedding")).as("v"))

  /** The persistent RDDs `body` leaves behind when run inside one
    * `scoped` block (ids present before it are not counted: an earlier
    * spec's frames may be collected meanwhile). */
  private def leftAfterScope(body: => Unit): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    Checkpoints.scoped(body)
    sc.getPersistentRDDs.keySet.toSet -- before
  }

  test("a scoped block frees the checkpoints of operators that " +
    "materialize internally: pairCorr's grid, minhashPairsOf's " +
    "signatures and aucOf's result") {
    import spark.implicits._
    val grid = (for (k <- Seq("a", "b", "c"); bk <- 0 until 6)
      yield (k, bk.toLong, (k.hashCode % 7 + bk * bk).toDouble)).toDF("k", "bk", "x")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "an entirely different sentence about markets")).toDF("id", "text")
    val scores = (0 until 40).map(i => (i.toDouble / 40, i % 3 == 0, i.toLong))
      .toDF("s", "y", "id")
    val left = leftAfterScope {
      assert(Graft.pairCorr(grid, "k", "bk", "x").collect().length == 3)
      graft.ops.DedupOps.minhashPairsOf(docs, "id", "text",
        shingleN = 3, k = 8, bands = 4).collect()
      assert(graft.ops.SimOps.aucOf(scores, "s", "y", "id").collect().length == 1)
    }
    assert(left.isEmpty, s"persistent RDDs left pinned after the scope: $left")
  }

  test("regression inputs: sketchOverlapOf's tagged state, p07's entropy " +
    "frame and knnGraphOf's withV are released by the scope") {
    import spark.implicits._
    val a = Seq(("x", 1L), ("x", 2L), ("y", 3L)).toDF("g", "u")
    val b = Seq(("x", 2L), ("x", 4L), ("y", 3L)).toDF("g", "u")
    val left = leftAfterScope {
      graft.ops.DataOps.sketchOverlapOf(a, b, Seq("g"), "u").collect()
      graft.ops.MultiOps.queries("p07_media_pipeline")(spark, sfDir).collect()
      val all = vecsOf(sfDir)
      graft.ops.SimOps.knnGraphOf(all, all.filter(pmod(col("vec_id"), lit(64)) === 0),
        "vec_id", "v", "vec_id", "v", r = 8).collect()
      // and tfidfTopTerms' persisted (doc_id, term, tf) frame
      Graft.tfidfTopTerms(Tables.t(spark, sfDir, "documents"), "doc_id", "text", 5).collect()
    }
    assert(left.isEmpty, s"persistent RDDs left pinned after the scope: $left")
  }

  test("`stabilize` and `fresh` return a frame that has already run") {
    val n = 50L
    def check(mode: String): Unit = {
      val rows = spark.sparkContext.longAccumulator(s"rows_$mode")
      val counted = udf { (id: Long) => rows.add(1L); id * 2L }.asNondeterministic()
      def frame: DataFrame =
        spark.range(0L, n, 1L, 4).select(col("id"), counted(col("id")).as("x"))
      Seq[(String, DataFrame => DataFrame)](
        "stabilize" -> (df => Checkpoints.stabilize(df)),
        "fresh" -> (df => Checkpoints.fresh(df))).foreach { case (name, materialize) =>
        rows.reset()
        Checkpoints.scoped {
          val ck = materialize(frame)
          assert(rows.sum == n,
            s"$mode $name: ${rows.sum} of $n rows ran before the call returned")
          assert(ck.collect().length == n && ck.collect().map(_.getLong(1)).sum == n * (n - 1))
          assert(rows.sum == n, s"$mode $name: collecting the result re-ran the frame")
        }
      }
    }
    check("local")
    val dir = java.nio.file.Files.createTempDirectory("graft_ck_ran_").toFile
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Checkpoints.ReliableKey, "true")
    try check("reliable")
    finally spark.conf.set(Checkpoints.ReliableKey, "false")
  }

  test("reliable mode reaches the ANN tick and compaction: the same " +
    "build tick, delete+insert tick and compaction serve bit-equal views " +
    "and write reliable checkpoint data") {
    val all = vecsOf(sfDir)
    def run(): (Seq[String], Seq[String]) = {
      val store = java.nio.file.Files.createTempDirectory("graft_ck_tick_").toString
      StreamOps.annIndexTick(spark, store, all.filter(col("vec_id") % 10 < 8),
        "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 0L)
      StreamOps.annIndexTick(spark, store, all.filter(col("vec_id") % 10 === 8),
        "vec_id", "v", r = 8, beam = 4, hops = 3, landingId = 1L,
        deletes = all.filter(col("vec_id") % 20 === 3))
      StreamOps.annIndexCompact(spark, store, upTo = 2L)
      val report = StreamOps.annIndexReport(spark, store)
        .orderBy("src", "dst").collect().map(_.toString).toSeq
      val live = StreamOps.annLiveVectors(spark, store)
        .orderBy("vec_id").collect().map(_.toString).toSeq
      graft.sinks.AnnStore.dropTables(spark, store)
      (report, live)
    }
    val local = run()
    assert(local._1.nonEmpty && local._2.nonEmpty)
    val dir = java.nio.file.Files.createTempDirectory("graft_reliable_tick_").toFile
    spark.sparkContext.setCheckpointDir(dir.toString)
    spark.conf.set(Checkpoints.ReliableKey, "true")
    try {
      val reliable = run()
      assert(reliable._1 == local._1, "annIndexReport differs in reliable mode")
      assert(reliable._2 == local._2, "annLiveVectors differs in reliable mode")
      def rddDirs(f: java.io.File): Seq[java.io.File] =
        if (!f.isDirectory) Nil
        else f.listFiles().toSeq.flatMap(c =>
          (if (c.isDirectory && c.getName.startsWith("rdd-")) Seq(c) else Nil) ++ rddDirs(c))
      assert(rddDirs(dir).exists(_.listFiles().nonEmpty),
        "reliable mode must write the tick's checkpoints under the checkpoint dir")
    } finally spark.conf.set(Checkpoints.ReliableKey, "false")
  }

  test("no source file in src/main/scala materializes a frame except " +
    "Checkpoints.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val call = """\.localCheckpoint\(|\.checkpoint\(""".r
    val hits = files(root).filter(_.getName != "Checkpoints.scala").flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).isDefined => s"${f.getPath}:${i + 1}: ${line.trim}"
      }.toList
      finally src.close()
    }
    if (hits.nonEmpty)
      fail("materialize through graft.Checkpoints.stabilize/fresh:\n" + hits.mkString("\n"))
  }

  test("no source file in src/main/scala mutates the session conf it is " +
    "handed") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val call = """\.conf\.(set|unset)\(""".r
    val hits = files(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).isDefined => s"${f.getPath}:${i + 1}: ${line.trim}"
      }.toList
      finally src.close()
    }
    if (hits.nonEmpty)
      fail("library code reads the session conf, never sets it (declare a " +
        "per-table or per-write setting instead):\n" + hits.mkString("\n"))
  }
}
