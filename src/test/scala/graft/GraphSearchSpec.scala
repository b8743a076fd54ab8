package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.execution.{FilterExec, LocalTableScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.ops.SimOps

/** The graph search's execution contract ([[SimOps.beamScoredByHop]]):
  * the queries are read once, each hop is two scans under an id-set
  * filter, and the driver scores and ranks what they return, so a
  * search pins no storage, stays within a job budget, shuffles only the
  * entry's top-anchor window (ids and cosines, at most one row per query
  * and map partition), and ranks exactly as the relational beam does —
  * NaN cosines first, NULL cosines last, ties to the smaller id, for
  * any orderable id type. */
class GraphSearchSpec extends SparkSpec {

  /** 2000 seeded Gaussian 16-dim vectors (fixed partitioning, so the
    * same rows every run), dealt round-robin so no partitioning of the
    * corpus clusters the queries by id, pinned. */
  private lazy val corpus = spark.range(0L, 2000L, 1L, 4)
    .select(col("id").as("vec_id"), array((1 to 16).map(d => randn(d)): _*).as("v"))
    .repartition(4).localCheckpoint(eager = true)
  private lazy val edges = SimOps.knnGraphOf(corpus, anchors,
    "vec_id", "v", "vec_id", "v", r = 8, cellProbes = 2, descentRounds = 1)
    .localCheckpoint(eager = true)
  private def anchors: DataFrame = corpus.filter(pmod(col("vec_id"), lit(64L)) === 0)
  private def search(): DataFrame = SimOps.graphAnnOf(corpus, corpus.filter(col("vec_id") < 5),
    anchors, edges, "vec_id", "v", k = 10, beam = 4, hops = 3)

  /** Polls until `n` stops changing: listener events arrive async. */
  private def settle(n: => Int): Unit = {
    var last = -1; var polls = 0
    while (n != last && polls < 20) { last = n; Thread.sleep(500); polls += 1 }
  }

  test("a graph search outside any Checkpoints.scoped block pins no storage") {
    edges.count()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(search().collect().length == 50)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "the search left blocks pinned: " +
        (spark.sparkContext.getPersistentRDDs.keySet -- before).mkString(", "))
  }

  test("a 5-query beam-4 3-hop search runs <= 9 jobs and its queries' plan once, shuffles " +
    "only the entry's top-anchor window, and each hop collect is one scan under an InSet filter") {
    edges.count()
    // the queries as a local relation, as a serving loop holds them
    val local = spark.createDataFrame(corpus.filter(col("vec_id") < 5).collect().toSeq.asJava,
      corpus.schema)
    def searchOf(queries: DataFrame): DataFrame = SimOps.graphAnnOf(corpus, queries,
      anchors, edges, "vec_id", "v", k = 10, beam = 4, hops = 3)
    searchOf(local).collect() // warm: codegen
    val build = "graph-search-build"
    val rank = "graph-search-rank"
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = if (j.properties == null) null else j.properties.getProperty("spark.jobGroup.id")
        if (g == build || g == rank) jobs.add(g)
      }
    }
    val plans = new ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]()
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p })
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
    try {
      sc.setJobGroup(build, "graph search construction")
      val df = try searchOf(local) finally sc.clearJobGroup()
      settle(plans.size)
      val buildPlans = plans.asScala.toList
      spark.listenerManager.unregister(qel)
      sc.setJobGroup(rank, "graph search final rank")
      try assert(df.collect().length == 50) finally sc.clearJobGroup()
      settle(jobs.size)
      val report = s"${jobs.size} jobs (${jobs.asScala.count(_ == build)} at construction)"
      info(report)
      // entry 3 (a broadcast, the window's map and result stages) +
      // 2 scans per hop; the rank runs none
      assert(jobs.size <= 9, s"the search ran $report, budget 9")
      assert(!jobs.contains(rank), s"the final rank or the collect ran a job: $report")
      // the helper's collect descends into AQE query stages
      object stages extends AdaptiveSparkPlanHelper
      def exchanges(p: SparkPlan) = stages.collect(p) { case x: ShuffleExchangeExec => x }
      val (entry, rest) = buildPlans.partition(exchanges(_).nonEmpty)
      assert(entry.size == 1, "one collect must exchange, the entry's:\n" + buildPlans.mkString("\n----\n"))
      val xs = exchanges(entry.head)
      assert(xs.size == 1, s"the entry exchanges more than once:\n${entry.head}")
      // the entry ships at most one row per query and map partition
      assert(stages.collect(xs.head) {
        case g: WindowGroupLimitExec if g.mode == Partial && g.limit == 1 => g }.nonEmpty,
        s"no partial top-1 below the entry's exchange:\n${entry.head}")
      assert(xs.head.outputPartitioning.asInstanceOf[HashPartitioning].expressions
        .map(_.references.map(_.name).toSeq) == Seq(Seq("q_id")), s"not on q_id:\n${xs.head}")
      assert(!xs.head.child.output.exists(_.dataType.isInstanceOf[ArrayType]), s"shuffles a vector:\n${xs.head}")
      // the queries' collect and the ranks read local relations only
      val hopPlans = rest.filterNot(_.collectLeaves().forall(_.isInstanceOf[LocalTableScanExec]))
      assert(hopPlans.size == 6, s"expected 2 scans per hop, saw ${hopPlans.size}:\n" +
        hopPlans.mkString("\n----\n"))
      hopPlans.foreach { p =>
        assert(stages.collect(p) {
          case j: BaseJoinExec => j; case b: BroadcastExchangeExec => b }.isEmpty, s"a join or broadcast in\n$p")
        // every scan sits under an id-set filter
        def filtered(n: SparkPlan, inSet: Boolean): Boolean = n match {
          case f: FilterExec => f.children.forall(filtered(_, inSet ||
            f.condition.exists(_.isInstanceOf[InSet])))
          case leaf if leaf.children.isEmpty => inSet
          case other => other.children.forall(filtered(_, inSet))
        }
        assert(filtered(p, inSet = false), s"a scan without an InSet filter in\n$p")
      }
    } finally {
      spark.listenerManager.unregister(qel)
      sc.removeSparkListener(listener)
    }
    // a queries plan the search must read exactly once: each of its 5
    // rows passes the counting UDF once per run of the plan
    val counted = udf { (id: Long) => GraphSearchSpec.queryRowReads.incrementAndGet(); id }
      .asNondeterministic()
    GraphSearchSpec.queryRowReads.set(0L)
    assert(searchOf(corpus.filter(col("vec_id") < 5).withColumn("vec_id", counted(col("vec_id"))))
      .collect().length == 50)
    assert(GraphSearchSpec.queryRowReads.get == 5L,
      s"the queries' plan read ${GraphSearchSpec.queryRowReads.get} rows, not 5 once")
  }

  // ---- ranking vs the relational beam: ties, NaN and NULL cosines

  private val dims: Seq[(Int, Seq[Double])] = Seq(
    0 -> Seq(1.0, 0.0, 0.0), 1 -> Seq(1.0, 0.0, 0.0), // exact ties
    2 -> Seq(0.0, 1.0, 0.0), 3 -> Seq(0.0, 1.0, 0.0),
    4 -> Seq(0.0, 0.0, 0.0), 10 -> Seq(0.0, 0.0, 0.0), // zero: NaN cosine
    5 -> Seq(1.0, 1.0), 11 -> Seq(1.0, 2.0), // length mismatch: NULL cosine
    6 -> Seq(1.0, 1.0, 0.0), 7 -> Seq(1.0, 1.0, 0.0),
    8 -> Seq(0.0, 1.0, 1.0), 9 -> Seq(1.0, 0.0, 1.0),
    12 -> Seq(-1.0, 0.0, 0.0), 13 -> Seq(0.0, 0.0, 1.0))
  private val queryVecs: Seq[(Int, Seq[Double])] = Seq(
    100 -> Seq(1.0, 0.0, 0.0), 101 -> Seq(0.0, 0.0, 0.0),
    102 -> Seq(1.0, 1.0), 103 -> Seq(0.5, 1.0, 0.0), 9 -> Seq(1.0, 0.0, 1.0))

  private def frame(idType: DataType, rows: Seq[(Int, Seq[Double])]): DataFrame =
    spark.createDataFrame(rows.map { case (i, v) => Row(i, v) }.asJava,
      StructType(Seq(StructField("vec_id", IntegerType), StructField("v", ArrayType(DoubleType)))))
      .select(col("vec_id").cast(idType).as("vec_id"), col("v"))

  /** A ring with chords over the 14 ids: every node has out-degree 2. */
  private def ringEdges(idType: DataType): DataFrame = {
    val ids = dims.map(_._1).sorted
    val n = ids.length
    val pairs = ids.indices.flatMap(i => Seq(ids(i) -> ids((i + 1) % n), ids(i) -> ids((i + 5) % n)))
    spark.createDataFrame(pairs.map { case (s, d) => Row(s, d, 0.0) }.asJava,
      StructType(Seq(StructField("src", IntegerType), StructField("dst", IntegerType),
        StructField("cos", DoubleType))))
      .select(col("src").cast(idType).as("src"), col("dst").cast(idType).as("dst"), col("cos"))
  }

  /** The relational beam of the lineage-cut implementation, replayed
    * without checkpoints or hints: the same joins, distinct, anti join
    * and row_number windows. */
  private def relationalBeam(corpus: DataFrame, queries: DataFrame, anc: DataFrame,
                             edges: DataFrame, beam: Int, hops: Int): Seq[DataFrame] = {
    val v = corpus.select(col("vec_id"), col("v"))
    val q = queries.select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val entry = q.crossJoin(anc.select(col("vec_id"), col("v").as("av")))
      .withColumn("cos", expr("graft_cosine(qv, av)"))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("q_id"), col("vec_id"), col("cos"))
    val ed = edges.select(col("src").as("vec_id"), col("dst"))
      .union(edges.select(col("dst").as("vec_id"), col("src").as("dst")))
    (1 to hops).scanLeft((entry, entry.select(col("q_id"), col("vec_id")))) {
      case ((scored, frontier), _) =>
        val proposed = frontier.join(ed, "vec_id")
          .select(col("q_id"), col("dst").as("vec_id")).distinct()
          .join(scored.select(col("q_id"), col("vec_id")), Seq("q_id", "vec_id"), "left_anti")
        val fresh = proposed.join(v, "vec_id").join(q, "q_id")
          .withColumn("cos", expr("graft_cosine(qv, v)"))
          .select(col("q_id"), col("vec_id"), col("cos"))
        (scored.union(fresh), fresh.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= beam).select(col("q_id"), col("vec_id")))
    }.map(_._1)
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted

  for (idType <- Seq(LongType, IntegerType, StringType)) {
    test(s"the beam ranks as the relational beam does on ties, NaN and NULL cosines (${idType.simpleString} ids)") {
      val corpus = frame(idType, dims)
      val queries = frame(idType, queryVecs)
      val anc = corpus.filter(col("vec_id").isin(0, 1, 4, 5, 13))
      val edges = ringEdges(idType)
      val (beam, hops) = (2, 3)
      val got = SimOps.beamScoredByHop(corpus, queries, anc, edges, "vec_id", "v", beam, hops)
      val want = relationalBeam(corpus, queries, anc, edges, beam, hops)
      assert(got.length == hops + 1)
      got.zip(want).zipWithIndex.foreach { case ((g, w), h) =>
        assert(g.schema.map(_.dataType) == w.schema.map(_.dataType), s"depth $h schema")
        assert(rows(g) == rows(w), s"scored set at depth $h")
      }
      val cosines = rows(got.last)
      assert(cosines.exists(_.endsWith("|NaN")) && cosines.exists(_.endsWith("|null")),
        "the corpus must put NaN and NULL cosines into the scored set")
      for (k <- Seq(3, 100)) {
        val wRank = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
        val wantRank = want.last.filter(col("vec_id") =!= col("q_id"))
          .withColumn("rank", row_number().over(wRank).cast("long"))
          .filter(col("rank") <= k).select(col("q_id"), col("rank"), col("vec_id"), col("cos"))
        assert(rows(SimOps.graphAnnOf(corpus, queries, anc, edges, "vec_id", "v",
          k = k, beam = beam, hops = hops)) == rows(wantRank), s"ranks at k=$k")
      }
    }
  }
}

object GraphSearchSpec {
  /** Rows the counting queries' plan has read, across runs. */
  val queryRowReads = new java.util.concurrent.atomic.AtomicLong(0L)
}
