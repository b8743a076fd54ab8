package graft.ops

import graft.{F, Tables}
import graft.functions.CosineSim
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending,
  InSet, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.sql.functions._

/** Similarity search (SURVEY.md §2 #25-26) over the `embeddings` table.
  *
  * s01 is the exact baseline: brute-force cosine top-k. The query set is
  * tiny (vec_id < 5) and broadcast, so the plan is one scan of the
  * corpus with a per-query rank — at 100 TB this is a single
  * map+partial-topK pass, no corpus shuffle.
  *
  * s02 is the scale path: IVF-style ANN. A deterministic centroid set
  * (vec_id < 8) partitions the corpus into cells by nearest centroid;
  * queries probe their 2 nearest cells only. Both centroid assignment
  * and probing broadcast the small side; the corpus is scanned once.
  */
object SimOps {
  type Q = (SparkSession, String) => DataFrame
  import Tables.t
  import F._

  private val K = 10

  private def vecs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").select(col("vec_id"), asDouble(col("embedding")).as("v"))

  /** DuckDB cosine with the exact fold order of the native
    * [[graft.functions.CosineSim]] loop. */
  private def duckCos(a: String, b: String): String = graft.OracleSql.seqCosine(a, b, 64)

  /** #25 brute-force cosine top-k (k=10) for query vectors vec_id < 5;
    * ties broken by vec_id so ranks are total-ordered. */
  private val s01: Q = (s, dir) => {
    val all = vecs(s, dir)
    graft.Graft.knnBrute(all, all.filter(col("vec_id") < 5), "vec_id", "v", K)
      .select(col("q_id"), col("rank"), col("vec_id"), r6(col("cos_sim")).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  private val s01Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |c AS (SELECT q.q_id, e.vec_id, ${duckCos("qv", "v")} AS cos
       |  FROM q JOIN e ON e.vec_id <> q.q_id),
       |r AS (SELECT q_id, vec_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
       |  FROM c)
       |SELECT q_id, rank, vec_id, round(cos, 6) AS cos_sim
       |FROM r WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin

  /** IVF-style ANN over ANY (id, vector) corpus/query/centroid tables
    * (public operator behind [[graft.Graft.annIvf]]; the s02 scale
    * path as a library op). Every corpus vector is assigned to its
    * max-cosine centroid cell (tie → min centroid id); each query
    * probes its `probes` nearest cells and exact cosine ranks top-`k`
    * within them. Recall < 1 by design — the IVF trade. Centroids
    * (typically [[kmeansOf]] output, k·dims doubles) BROADCAST for
    * both the assignment and probe passes, so the corpus is scanned
    * once and shuffles only on the cell join key. Returns
    * (q_id, rank, vec_id, cell, cos_sim). The assignment window ranks
    * the k× amplified (row, centroid) pairs per corpus id; for large
    * k the [[kmeansOf]] shape — centroids collected to driver state
    * and the argmin emitted as one `least(struct…)` expression —
    * avoids that k× pass entirely (map-only assignment) and is the
    * documented upgrade path.
    *
    * Query-side contract: the probed query set (queries × `probes`
    * rows, INCLUDING the full query vectors) is broadcast to every
    * executor — that is what keeps the corpus shuffle-free. It is the
    * right trade for the ANN shape (queries ≪ corpus); a corpus-sized
    * query table would blow the broadcast threshold/driver memory.
    * For bulk all-vs-all jobs use [[lshAnnOf]] (both sides shuffle on
    * the bucket key) or batch the queries. */
  def ivfAnnOf(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
               idCol: String, vecCol: String, cidCol: String, cvecCol: String,
               k: Int, probes: Int, excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1 && probes >= 1, s"k >= 1 and probes >= 1 required, got k=$k probes=$probes")
    val cents = broadcast(centroids
      .select(col(cidCol).as("c_id"), col(cvecCol).cast("array<double>").as("cv")))
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("c_id"))
    val cells = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
      .crossJoin(cents)
      .withColumn("ccos", expr("graft_cosine(v, cv)"))
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("v"), col("c_id").as("cell"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).cast("array<double>").as("qv"))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("c_id"))
    val probed = broadcast(q.crossJoin(cents)
      .withColumn("qcos", expr("graft_cosine(qv, cv)"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= probes)
      .select(col("q_id"), col("qv"), col("c_id").as("cell")))
    val wRank = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    cells.join(probed, "cell")
      .filter(if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true))
      .withColumn("cos", expr("graft_cosine(qv, v)"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cell"), col("cos"))
  }

  /** #26 IVF ANN: centroids = vec_id < 8; every vector is assigned to its
    * max-cosine centroid (cell); each query probes its 2 nearest cells
    * and ranks top-k within them. Recall < 1 by design — that is the IVF
    * trade; the oracle replays the identical pipeline. */
  private val s02: Q = (s, dir) => {
    val all = vecs(s, dir)
    ivfAnnOf(all, all.filter(col("vec_id") < 5),
        all.filter(col("vec_id") < 8), "vec_id", "v", "vec_id", "v",
        k = K, probes = 2)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cell"), r6(col("cos")).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  private val s02Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
       |asg AS (SELECT e.vec_id, e.v, c_id, ${duckCos("v", "cv")} AS ccos,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${duckCos("v", "cv")} DESC, c_id) AS arn
       |  FROM e CROSS JOIN cents),
       |cells AS (SELECT vec_id, v, c_id AS cell FROM asg WHERE arn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |pr AS (SELECT q_id, qv, c_id AS cell,
       |    row_number() OVER (PARTITION BY q_id ORDER BY ${duckCos("qv", "cv")} DESC, c_id) AS prn
       |  FROM q CROSS JOIN cents),
       |probes AS (SELECT q_id, qv, cell FROM pr WHERE prn <= 2),
       |c AS (SELECT p.q_id, cells.vec_id, cells.cell, ${duckCos("qv", "v")} AS cos
       |  FROM cells JOIN probes p USING (cell)
       |  WHERE cells.vec_id <> p.q_id),
       |r AS (SELECT q_id, vec_id, cell, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
       |  FROM c)
       |SELECT q_id, rank, vec_id, cell, round(cos, 6) AS cos_sim
       |FROM r WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin

  /** LSH-bucketed ANN over ANY (id, vector) corpus/query tables
    * (public operator behind [[graft.Graft.annLsh]]; the s03 scale
    * path as a library op). The `sketchBits`-bit random-hyperplane
    * sign sketch (shared deterministic planes, [[DedupOps.planesFor]])
    * buckets the corpus in `bands` bit-slices — a pure map index, no
    * training pass; a query's candidates are the corpus rows sharing
    * any band value, deduped across bands, exact cosine top-`k`. At
    * 100 TB the corpus is scanned once, shuffled once on (band,
    * bucket), and the per-bucket joins never go cross-bucket; band
    * bits should grow with log(corpus) ([[DedupOps.lshBandBits]]).
    * Returns (q_id, rank, vec_id, cos_sim).
    *
    * Shared-subtree note: when `queries` derives from `corpus` (the
    * self-ANN shape, e.g. s03's `corpus.filter(...)`), Spark has no
    * cross-join-side common-subtree elimination, so the scan + sketch
    * projection evaluates once per side. The query side is pruned to
    * the query subset by predicate pushdown, so the duplicated work is
    * query-sized, not corpus-sized — and the kernel is deterministic,
    * so results are unaffected. If the corpus side itself is an
    * expensive derivation, pass it in localCheckpoint'd. */
  def lshAnnOf(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
               k: Int, sketchBits: Int, bands: Int, dims: Int,
               excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(sketchBits % bands == 0, "sketchBits must divide evenly into bands")
    val cb = sketchBits / bands
    val mask = (1L << cb) - 1
    // native single-pass sketch kernel (see DedupOps.embeddingNearDupOf)
    def banded(df: DataFrame, ida: String, va: String): DataFrame = df
      .select(col(idCol).as(ida), col(vecCol).cast("array<double>").as(va))
      .withColumn("__sk", expr(s"graft_signsketch($va, $sketchBits, $dims)"))
      .select(col(ida), col(va), col("__sk"),
        explode(sequence(lit(0), lit(bands - 1))).as("c"))
      .withColumn("chunk", expr(s"shiftright(__sk, CAST($cb * c AS INT)) & $mask"))
      .select(col(ida), col(va), col("c"), col("chunk"))
    val cs = banded(corpus, "vec_id", "v")
    val qs = banded(queries, "q_id", "qv")
    val wRank = Window.partitionBy(col("q_id")).orderBy(col("cosv").desc, col("vec_id"))
    cs.join(qs, Seq("c", "chunk"))
      .filter(if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true))
      .withColumn("cos", expr("graft_cosine(qv, v)"))
      // groupBy dedups candidates found in several bands AND keeps the
      // cosine out of the join condition (see d05's barrier note)
      .groupBy(col("q_id"), col("vec_id")).agg(max(col("cos")).as("cosv"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cosv"))
  }

  /** Deterministic k-NN GRAPH build over ANY (id, vector) corpus — the
    * index half of the graph-ANN family (s20; DiskANN/NSG lineage,
    * Subramanya 2019, arXiv:1907.09524 — re-expressed as bounded
    * relational rounds instead of a sequential in-memory build):
    *
    *   seed    candidate pairs from shared `cellProbes`-nearest-
    *           centroid cells (the cluster-join build of Dong 2011 §5
    *           — nodes assigned to the same broadcast-centroid cell
    *           pair up). The per-node fan-out is
    *           (corpus/cells)·cellProbes, so the CALLER keeps cells
    *           proportional to the corpus (the s20 gate derives
    *           centroids as `vec_id % 64 == 0` — cell size ~64·probes
    *           at ANY corpus size, no count pass, no quadratic seed);
    *           HOT cells — skew the density rule can't see, near-dup
    *           families crowding one centroid — are bounded by
    *           `maxCellOcc`: the b side of the cell self-join keeps
    *           only that many hash-selected representatives, so seed
    *           pair volume is ≤ n·cellProbes·maxCellOcc (corpus-
    *           linear at any skew) instead of Σ occ²;
    *   descent `descentRounds` NN-descent rounds (Dong 2011,
    *           WWW '11): each round proposes neighbors-of-neighbors
    *           of the current top-`r` graph — a self-join of an
    *           r-bounded edge list, so the proposal fan-out is r² per
    *           node, never corpus² — and supplies the cross-cell
    *           edges the cell blocking alone would miss;
    *   prune   every round re-ranks ALL proposed pairs and keeps the
    *           top-`r` by cosine per source (ties → smaller dst).
    *
    * Returns the directed edge list (src, dst, cos), ≤ r rows per
    * src. Everything is a pure function of the corpus + centroids
    * (total-order ranks), so the DuckDB oracle replays the build
    * verbatim. At 100 TB the state is the edge list itself —
    * r×corpus rows, distributed, never driver-side. */
  /** Dispatch counters for the [[knnGraphOf]] assignment path (the
    * ScanOps counter convention): specs assert the route taken, not
    * just the result. */
  val graphBruteAsg = new java.util.concurrent.atomic.AtomicLong(0)
  val graphHierAsg = new java.util.concurrent.atomic.AtomicLong(0)

  /** Above this centroid count the build's cell assignment goes
    * HIERARCHICAL (two-level, FAISS-IMI shape) instead of brute
    * node×centroid. Brute cost is n·|C| cosines AND an n·|C|-row
    * window shuffle — with the density-scaled seed rule (|C| = n/64)
    * that is O(n²/64), the stage the round-14 ×100 probe caught
    * falling over (5.6G-row shuffle at 600k vectors). Hierarchical:
    * pick every ⌈√|C|⌉-th centroid (by id rank) as a COARSE centroid,
    * map each centroid to its nearest coarse cell (|C|·√|C|), route
    * each node to its `cellProbes` nearest coarse cells (n·√|C|), and
    * rank only the centroids of those cells (n·2√|C|) — n·3√|C|
    * total, ~30× less at ×100, still every rank total-ordered (ties →
    * smaller id) so the build stays deterministic. The assignment is
    * approximate at cell boundaries (a node's true nearest centroid
    * can sit in an unprobed coarse cell); the seed graph is a
    * blocking structure NN-descent repairs, and GraphAnnSpec pins the
    * search-recall parity of the two routes. 256 keeps every gate
    * corpus (94 centroids at sf0.01, ~940 at ×10) on the EXACT brute
    * path — oracle hashes are unaffected by construction. (var: the
    * route-parity spec pins both paths on one corpus by moving it.) */
  private[graft] var HierAsgThreshold = 256

  /** Shared cell-assignment kernel of [[knnGraphOf]] and
    * [[graphInsertOf]]: each node of `v` → its `cellProbes` nearest
    * centroid cells (exact brute rank under [[HierAsgThreshold]]
    * centroids, the √|C| hierarchical route above it). Returns
    * (vec_id, cell) rows. `cents` comes in unhinted: the brute route
    * broadcasts it into its cross join, and the count below reads it
    * outside any join. */
  private[graft] def cellAsgOf(v: DataFrame, cents: DataFrame,
                               cellProbes: Int): DataFrame = {
    // one count action, bounded by the centroid table (k·dims driver
    // state is already the IVF contract; a long is cheaper)
    val nCents = cents.count()
    val wAsg = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("c_id"))
    if (nCents <= HierAsgThreshold) {
      graphBruteAsg.incrementAndGet()
      v.crossJoin(broadcast(cents))
        .withColumn("ccos", expr("graft_cosine(v, cv)"))
        .withColumn("__rn", row_number().over(wAsg))
        .filter(col("__rn") <= cellProbes)
        .select(col("vec_id"), col("c_id").as("cell"))
    } else {
      graphHierAsg.incrementAndGet()
      val fan = math.ceil(math.sqrt(nCents.toDouble)).toLong
      // coarse slice: every fan-th centroid by id rank (|L1| ≈ √|C|);
      // the window runs over the centroid table only
      val wC = Window.orderBy(col("c_id"))
      val ranked = cents.withColumn("__crn", row_number().over(wC))
      val coarse = broadcast(ranked.filter((col("__crn") - 1) % fan === 0)
        .select(col("c_id").as("l1_id"), col("cv").as("l1v")))
      // centroid → its nearest coarse cell (|C|·√|C| cosines)
      val wCent = Window.partitionBy(col("c_id")).orderBy(col("lcos").desc, col("l1_id"))
      val centL1 = broadcast(cents.crossJoin(coarse)
        .withColumn("lcos", expr("graft_cosine(cv, l1v)"))
        .withColumn("__rn", row_number().over(wCent))
        .filter(col("__rn") === 1)
        .select(col("c_id"), col("cv"), col("l1_id")))
      // node → its cellProbes nearest coarse cells (n·√|C|). The
      // cosine is computed INSIDE the crossJoin stage and only the
      // NARROW (vec_id, l1_id, lcos) rows reach the window exchange —
      // carrying the vector through this shuffle measured ~35 GB of
      // transient spill at a 600k corpus (the round-16 anntick probe
      // filled the disk); narrow rows are ~10× smaller and the vector
      // is re-attached once afterwards at n·probes rows.
      val wNode = Window.partitionBy(col("vec_id")).orderBy(col("lcos").desc, col("l1_id"))
      val nodeL1 = v.crossJoin(coarse)
        .select(col("vec_id"), col("l1_id"), expr("graft_cosine(v, l1v)").as("lcos"))
        .withColumn("__rn", row_number().over(wNode))
        .filter(col("__rn") <= cellProbes)
        .select(col("vec_id"), col("l1_id"))
      // fine rank over ONLY the probed cells' centroids (n·2√|C|) —
      // same narrow-rows-to-the-window rule (the wide join+project
      // stays inside one stage; only (vec_id, c_id, ccos) shuffles)
      nodeL1.join(v, "vec_id").join(centL1, "l1_id")
        .select(col("vec_id"), col("c_id"), expr("graft_cosine(v, cv)").as("ccos"))
        .withColumn("__rn", row_number().over(wAsg))
        .filter(col("__rn") <= cellProbes)
        .select(col("vec_id"), col("c_id").as("cell"))
    }
  }

  /** Per-label anchor set for [[labeledGraphOf]]: the `anchorMod`-rule
    * ids within each label PLUS each label's minimum id — so every
    * label, however small, holds at least one anchor (a label with no
    * anchors would leave its nodes unassigned and edgeless). Pure
    * function of ids, oracle-replayable. Input/output (vec_id, v,
    * __lbl). */
  private[graft] def labelAnchorsOf(v: DataFrame, anchorMod: Int): DataFrame = {
    val wMin = Window.partitionBy(col("__lbl"))
    v.withColumn("__minid", min(col("vec_id")).over(wMin))
      .filter(pmod(col("vec_id"), lit(anchorMod.toLong)) === 0 ||
        col("vec_id") === col("__minid"))
      .drop("__minid")
  }

  /** Label-scoped cell assignment: each node ranks ONLY its own
    * label's anchors (exact brute rank, the [[cellAsgOf]] tie rule) —
    * the label dimension rides the broadcast join key, so the pass
    * stays one scan + one broadcast at any label count. (A single
    * label big enough to need the hierarchical route would take the
    * [[cellAsgOf]] √|C| ladder per label — the documented upgrade.) */
  private def labelAsgOf(v: DataFrame, cents: DataFrame,
                         cellProbes: Int): DataFrame = {
    val wAsg = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("c_id"))
    v.join(broadcast(cents.select(col("__lbl"), col("vec_id").as("c_id"),
        col("v").as("cv"))), "__lbl")
      .withColumn("ccos", expr("graft_cosine(v, cv)"))
      .withColumn("__rn", row_number().over(wAsg))
      .filter(col("__rn") <= cellProbes)
      .select(col("vec_id"), col("c_id").as("cell"))
  }

  /** LABEL-PARTITIONED k-NN graph (public operator behind
    * [[graft.Graft.labeledGraph]]) — the low-selectivity half of
    * filtered ANN (Gollapudi 2023 "Filtered-DiskANN", WWW: a
    * label-aware index instead of over-fetching): ONE build pass
    * produces every label's own sub-graph, each connected only within
    * its label. [[filteredAnnOf]]'s over-fetch budget (beam ≈
    * plain-beam / selectivity) explodes as selectivity → 0; searching
    * the target label's sub-graph restores the PLAIN beam at any
    * selectivity, at the cost of one graph per label value (the
    * standard trade — pick by predicate cardinality).
    *
    * Mechanically this IS [[knnGraphOf]] with a label-scoped cell
    * assignment fed through its `corpusAsg` hook: cell ids are anchor
    * NODE ids, so a cell is single-label by construction and every
    * downstream stage (per-cell cap, pair proposals, top-r, descent)
    * stays label-closed without ever touching the label again. The
    * law (Round17Spec, bit-identical): restricted to one label, the
    * output equals `knnGraphOf` run on that label's slice alone with
    * the same per-label anchors. Output (labelCol, src, dst, cos). */
  def labeledGraphOf(corpus: DataFrame, idCol: String, vecCol: String,
                     labelCol: String, r: Int, cellProbes: Int = 2,
                     descentRounds: Int = 1, maxCellOcc: Int = 256,
                     anchorMod: Int = 64): DataFrame = {
    val v = corpus.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"), col(labelCol).as("__lbl"))
    val anch = labelAnchorsOf(v, anchorMod)
    val asg = labelAsgOf(v, anch, cellProbes)
    knnGraphOf(v.select(col("vec_id"), col("v")),
        anch.select(col("vec_id"), col("v")), "vec_id", "v", "vec_id", "v",
        r = r, cellProbes = cellProbes, descentRounds = descentRounds,
        maxCellOcc = maxCellOcc, corpusAsg = asg)
      .join(v.select(col("vec_id").as("src"), col("__lbl").as(labelCol)), "src")
      .select(col(labelCol), col("src"), col("dst"), col("cos"))
  }

  /** `corpusAsg`, when given as (vec_id, cell) rows, replaces the cell
    * assignment the build would otherwise compute — the tick computes
    * the assignment ONCE, lands it, and passes it here, instead of
    * paying the n·√|C| hierarchical ranking twice per build. The
    * build stabilizes its intermediates, so it executes while it is
    * built (see [[graft.Checkpoints]]). */
  def knnGraphOf(corpus: DataFrame, centroids: DataFrame, idCol: String,
                 vecCol: String, cidCol: String, cvecCol: String,
                 r: Int, cellProbes: Int = 2, descentRounds: Int = 1,
                 maxCellOcc: Int = 256, corpusAsg: DataFrame = null): DataFrame = {
    require(r >= 1, s"r must be >= 1, got $r")
    require(cellProbes >= 1, s"cellProbes must be >= 1, got $cellProbes")
    require(descentRounds >= 0, s"descentRounds must be >= 0, got $descentRounds")
    require(maxCellOcc >= 1, s"maxCellOcc must be >= 1, got $maxCellOcc")
    val v = corpus.select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
    val cents = centroids
      .select(col(cidCol).as("c_id"), col(cvecCol).cast("array<double>").as("cv"))
    val asg =
      if (corpusAsg != null) corpusAsg.select(col("vec_id"), col("cell"))
      else cellAsgOf(v, cents, cellProbes)
    // Candidate pairs are scored INSIDE the per-cell self-join: each
    // side of the join carries (cell, id, vector) — n·cellProbes rows,
    // the widest thing this build ever shuffles — and the pair
    // explosion exists only AFTER the exchange, collapsing straight
    // through the cosine into narrow (src, dst, cos) rows. The first
    // shape (generate id pairs, then re-attach both vectors by two id
    // joins) shuffled ~Σ occ² pair rows WITH a vector column twice —
    // at the ×100 probe that was a ~50 GB spill that filled the disk;
    // this shape's vector traffic is corpus-linear at any scale.
    // A pair sharing both probed cells is scored twice with identical
    // bits (same vectors), so the distinct collapses it exactly.
    //
    // HOT-CELL CAP (the t10 MOSS df-cap idea applied to cells): the b
    // side of the self-join is bounded to `maxCellOcc` deterministic
    // representatives per cell (smallest md5("s20cap:"‖id), ties →
    // smaller id — the house sampling hash, never rand()). On
    // balanced cells (occupancy ≈ 64·probes with the density-scaled
    // centroid rule) the cap never triggers and the build is
    // unchanged; on a SKEWED corpus — near-dup families crowding one
    // cell, the 100 TB pre-dedup regime — pair volume per cell drops
    // from occ² to occ·cap, so total seed pairs are ≤ n·probes·cap =
    // corpus-LINEAR at any skew. Every node still seeds as a src
    // against ≥1 representative, and NN-descent supplies the
    // node↔node edges the capped seed misses (the same repair it
    // already does for cross-cell pairs). The window shares the
    // join's by-cell exchange, so the cap adds no extra shuffle.
    // withV feeds both self-join sides (the a-side scan AND the capped
    // rep window) — checkpoint so the asg⋈vector join runs once
    // (round-17; bit-identical)
    val withV = graft.Checkpoints.stabilize(asg.join(v, "vec_id"))
    val wCell = Window.partitionBy(col("cell"))
      .orderBy(graft.F.hash60(concat(lit("s20cap:"), col("vec_id").cast("string"))),
        col("vec_id"))
    val reps = withV
      .withColumn("__crn", row_number().over(wCell))
      .filter(col("__crn") <= maxCellOcc)
      .drop("__crn")
    // no inner distinct (round-17, the cellPairs/abPairs rule applied
    // to the BUILD): a pair sharing both probed cells is scored twice
    // with identical bits, and topRDedup's lag-collapse removes exactly
    // what distinct did INSIDE the rank exchange — the separate
    // (src,dst,cos) exchange of the widest intermediate is gone. The
    // descent anti join is duplicate-insensitive (semi-set semantics).
    val scored0 = withV.as("a").join(reps.as("b"), "cell")
      .filter(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        expr("graft_cosine(a.v, b.v)").as("cos"))
    // Descent rounds score only the FRESH neighbor-of-neighbor pairs
    // (anti-joined against everything already scored — the old shape
    // re-scored the ENTIRE candidate set every round): the vector
    // attach runs over ≤ n·r² new rows, never the cell pairs again.
    def scoreFresh(cand: DataFrame): DataFrame = cand
      .join(v.select(col("vec_id").as("src"), col("v").as("sv")), "src")
      .join(v.select(col("vec_id").as("dst"), col("v").as("dv")), "dst")
      .withColumn("cos", expr("graft_cosine(sv, dv)"))
      .select(col("src"), col("dst"), col("cos"))
    // scored0 (the widest compute of the build) is referenced by
    // round-0's top-r, every round's anti join and the final top-r —
    // stabilize it, each round's edges and each round's fresh scores
    // once instead of re-embedding the subtree per reference (values
    // bit-identical); each executes here, while the build is built
    var scored =
      if (descentRounds > 0) graft.Checkpoints.stabilize(scored0) else scored0
    var edges = topRDedup(scored, r)
    var round = 0
    while (round < descentRounds) {
      val ed = graft.Checkpoints.stabilize(edges)
      val non = ed.select(col("src"), col("dst").as("mid"))
        .join(ed.select(col("src").as("mid"), col("dst")), "mid")
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
        .distinct()
        .join(scored.select(col("src"), col("dst")), Seq("src", "dst"), "left_anti")
      scored = scored.union(graft.Checkpoints.stabilize(scoreFresh(non)))
      edges = topRDedup(scored, r)
      round += 1
    }
    edges
  }

  /** BEAM search over a [[knnGraphOf]] edge list — the query half of
    * the graph-ANN family (s20): per query, enter at its best
    * `anchors` row (exact cosine, ties → smaller id), then `hops`
    * expansion rounds — frontier joins the edge list, candidates not
    * yet scored get exact-cosine scored against the query, the
    * top-`beam` NEW candidates become the next frontier — and finally
    * every scored candidate is ranked (cos desc, ties → smaller id),
    * top `k` kept. Traversal is over the SYMMETRIZED edge list
    * (edges ∪ reversed — the DiskANN reverse-edge rule; a node's
    * in-neighbors are as navigable as its out-neighbors), so the
    * scored set — exactly the op's candidate BUDGET — is
    * ≤ 1 + hops·beam·(r + in-degree) rows per query, ≈ 1 + 2·hops·beam·r
    * on a balanced graph; GraphAnnSpec measures it against IVF's
    * probed-cell budget.
    *
    * The search EXECUTES WHILE IT IS BUILT ([[beamScoredByHop]]) and
    * returns a local relation: 3 + 2·hops jobs, none for the final
    * rank or the caller's collect. The driver holds the queries, ids
    * and cosines only — |q| entry rows, ≤ beam·(r + in-degree)·|q|
    * scored rows per hop — and no vector beyond the queries except,
    * during one hop, those of its ≤ min(corpus, beam·(r + in-degree)·|q|)
    * proposed ids. The edge list and corpus are scanned per hop under
    * an id-set filter, never joined or exchanged; pass `edges`
    * localCheckpoint'd when the build is expensive. */
  def graphAnnOf(corpus: DataFrame, queries: DataFrame, anchors: DataFrame,
                 edges: DataFrame, idCol: String, vecCol: String,
                 k: Int, beam: Int, hops: Int,
                 excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 0,
      s"need k >= 1, beam >= 1, hops >= 0; got k=$k beam=$beam hops=$hops")
    rankScored(beamScoredByHop(corpus, queries, anchors, edges, idCol,
      vecCol, beam, hops).last, k, excludeSelf)
  }

  /** The rank tail of [[graphAnnOf]] over a local scored set, on the
    * driver: every scored candidate ranked (cos desc, ties → smaller
    * id), top `k` kept, as one local relation. The self-exclusion
    * filter folds into the local relation, so the rank runs no job. */
  private def rankScored(scored: DataFrame, k: Int,
                         excludeSelf: Boolean): DataFrame = {
    val kept = if (excludeSelf) scored.filter(col("vec_id") =!= col("q_id")) else scored
    val s = kept.schema
    val ranked = topPerQuery(collectInternal(kept).toSeq, s, k).flatMap(_.zipWithIndex.map {
      case (r, i) => InternalRow(r.get(0, s("q_id").dataType), i + 1L,
        r.get(1, s("vec_id").dataType), r.get(2, DoubleType))
    }).toSeq
    localOf(scored.sparkSession, StructType(Seq(s("q_id"),
      StructField("rank", LongType, nullable = false), s("vec_id"), s("cos"))), ranked)
  }

  /** Each query's first `n` (q_id, vec_id, cos) rows in
    * `Window.partitionBy(q_id).orderBy(cos.desc, vec_id)` order,
    * compared by Spark's own row ordering: the windows' NaN, NULL,
    * -0.0 and id-type rules. */
  private def topPerQuery(rows: Seq[InternalRow], s: StructType, n: Int): Iterable[Seq[InternalRow]] = {
    val order = new InterpretedOrdering(Seq(
      SortOrder(BoundReference(2, s("cos").dataType, nullable = true), Descending),
      SortOrder(BoundReference(1, s("vec_id").dataType, nullable = true), Ascending)))
    rows.groupBy(_.get(0, s("q_id").dataType)).values.map(_.sorted(order).take(n))
  }

  /** `df`'s rows as Catalyst rows, in one SQL execution (`collect()`
    * without the conversion to external rows). A local relation
    * collects without a job. */
  private def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  private def localOf(s: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    GraftSqlBridge.ofRows(s, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** `df`'s rows whose first column is in `ids`: one scan under an
    * `InSet` filter (pushed below projections and unions), whatever the
    * set's size. */
  private def firstColIn(df: DataFrame, ids: Iterable[Any]): Array[InternalRow] = {
    val set = ids.iterator.filter(_ != null).toSet
    if (set.isEmpty) Array.empty
    else {
      val p = df.queryExecution.analyzed
      collectInternal(GraftSqlBridge.ofRows(df.sparkSession, Filter(InSet(p.output.head, set), p)))
    }
  }

  /** The beam chain of [[graphAnnOf]], one CUMULATIVE scored frame per
    * depth: element h is exactly the scored set a `hops = h` search
    * ends with (the chain is PREFIX-INVARIANT — hop h's frontier and
    * fresh set never depend on later hops — so s21 serves three
    * frontier points from one chain).
    *
    * The queries are collected once. The entry broadcasts that local
    * copy against the anchors and picks each query's top anchor with a
    * `row_number` window (one exchange of ids and cosines, at most one
    * row per query and map partition), so |q| rows reach the driver.
    * Each hop is then two scans, and everything else runs on the
    * driver:
    *   1. the symmetrized edges of the frontier's ids, collected under
    *      an `InSet` filter; paired with the frontier's q_ids, deduped
    *      per (q_id, id), minus the already-scored pairs;
    *   2. the vectors of the proposed ids, collected as Catalyst rows
    *      under an `InSet` filter; each proposed pair is scored by the
    *      [[graft.functions.CosineSim]] expression's own `eval`, so NaN,
    *      NULL and ragged vectors score exactly as `graft_cosine`. Only
    *      the ids and cosines outlive the hop.
    * The next frontier is each query's top-`beam` fresh rows in the
    * window order ([[topPerQuery]]). Each depth is one local relation
    * over the rows held so far (the depths share those rows), so the
    * search cuts no lineage, pins nothing, and its callers' ranks and
    * collects run no job. */
  private[graft] def beamScoredByHop(corpus: DataFrame, queries: DataFrame,
                                     anchors: DataFrame, edges: DataFrame,
                                     idCol: String, vecCol: String,
                                     beam: Int, hops: Int): IndexedSeq[DataFrame] = {
    val spark = corpus.sparkSession
    val qDf = queries.select(col(idCol).as("q_id"), col(vecCol).cast("array<double>").as("qv"))
    val qRows = collectInternal(qDf)
    val anc = broadcast(anchors.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("av")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    val entry = broadcast(localOf(spark, qDf.schema, qRows.toSeq)).crossJoin(anc)
      .select(col("q_id"), col("vec_id"), expr("graft_cosine(qv, av)").as("cos"))
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
    val schema = entry.schema
    val (qType, idType) = (schema("q_id").dataType, schema("vec_id").dataType)
    // NO distinct on the symmetrized view: a bidirectional pair appears
    // twice here, and the driver-side dedupe of each hop's candidates
    // collapses it
    val ed = edges.select(col("src").cast(idType).as("vec_id"), col("dst").cast(idType).as("dst"))
      .union(edges.select(col("dst").cast(idType).as("vec_id"), col("src").cast(idType).as("dst")))
    val v = corpus.select(col(idCol).cast(idType).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    val vecType = v.schema("v").dataType
    // a NULL q_id or id is proposed but never scored, as a NULL join key
    // matches nothing in the relational beam
    val qv = qRows.toSeq.filterNot(_.isNullAt(0)).groupBy(_.get(0, qType))
      .map { case (id, rs) => id -> rs.map(_.get(1, vecType)) }
    val cosine = CosineSim(BoundReference(0, vecType, nullable = true),
      BoundReference(1, vecType, nullable = true))
    def key(r: InternalRow): (Any, Any) = (r.get(0, qType), r.get(1, idType))
    val entryRows = collectInternal(entry).toVector
    // (cumulative scored rows, their (q_id, id) keys, frontier) after
    // each hop
    (1 to hops).scanLeft((entryRows, entryRows.map(key).toSet, entryRows: Seq[InternalRow])) {
      case ((scored, seen, frontier), _) =>
        val adj = firstColIn(ed, frontier.map(_.get(1, idType))).groupBy(_.get(0, idType))
        val proposed = frontier.flatMap { f =>
          adj.getOrElse(f.get(1, idType), Array.empty[InternalRow]).map(e => (f.get(0, qType), e.get(1, idType)))
        }.distinct.filterNot(seen)
        val vecs = firstColIn(v, proposed.map(_._2)).groupBy(_.get(0, idType))
        val fresh = for {
          (qId, id) <- proposed
          a <- qv.getOrElse(qId, Nil)
          b <- vecs.getOrElse(id, Array.empty[InternalRow])
        } yield InternalRow(qId, id, cosine.eval(InternalRow(a, b.get(1, vecType))))
        (scored ++ fresh, seen ++ proposed, topPerQuery(fresh, schema, beam).flatten.toSeq)
    }.map { case (scored, _, _) => localOf(spark, schema, scored) }
  }

  /** INCREMENTAL k-NN-graph maintenance (public operator behind
    * [[graft.Graft.graphInsert]]) — the operator a 100 TB lake runs
    * when new vectors arrive and a full [[knnGraphOf]] rebuild is off
    * the table (the DiskANN in-place insert lineage, Singh 2021
    * FreshDiskANN, arXiv:2105.09613 — search-for-neighbors, connect,
    * repair reverse edges — re-expressed as three bounded relational
    * steps over the EXISTING edge list):
    *
    *   search   beam-search every delta vector over the existing
    *            graph ([[graphAnnOf]], k = ∞ so the whole scored set
    *            is kept) — per-insert cost is the search budget,
    *            corpus-INDEPENDENT by the s21 frontier argument;
    *   connect  the delta node's out-edges = top-`r` of its scored
    *            candidates ∪ its cell candidates under the FULL
    *            build's proposal rule restricted to delta srcs:
    *            assign the delta to cells, pair each delta node
    *            against the capped per-cell representative pool drawn
    *            from corpus ∪ delta — the same md5-ordered cap as
    *            [[knnGraphOf]], so a subsequent full rebuild would
    *            propose the identical pairs (this subsumes the old
    *            delta↔delta-only seed, which missed the corpus side
    *            of the cell and cost 8 recall@10 points vs a rebuild);
    *   repair   two challenge families re-rank existing lists:
    *            (a) every new edge reversed challenges its target's
    *            list, and (b) corpus representatives sharing a cell
    *            with a delta representative score those delta reps —
    *            the full build's corpus→delta pair direction, which
    *            reverse edges alone cannot reach (a corpus node the
    *            delta did NOT select still needs its shot at the
    *            newcomer). Every challenged source re-ranks
    *            existing ∪ challenges to top-`r` (cosine desc, ties →
    *            smaller dst); nodes untouched by any challenge keep
    *            their list bit-identically (top-r of ≤ r rows).
    *            Measured (ScalaTest round-16): this closes the
    *            insert-vs-rebuild recall@10 gap to 0.000 on the gate
    *            corpus (was −0.080 with rev-only repair; an extra
    *            NN-descent round measured NEGATIVE, −0.02 — descent
    *            displaces the long navigation edges beam search
    *            needs).
    *
    * Everything is a pure function of (corpus, delta, edges,
    * centroids, anchors) with total-order ranks, so the DuckDB oracle
    * replays build AND insert verbatim; cosine symmetry makes
    * reversed scores bit-identical (the sequential dot kernel is
    * term-commutative), so the distinct collapses both directions of
    * a delta↔delta pair. Scale shape: search scans the r-bounded
    * edge list per hop and looks up only scored candidates; connect
    * pairs ≤ |delta|·probes·cap; repair challenges ≤ r·|delta| reverse
    * edges + cap²·(cells touched by the delta) corpus↔delta rep pairs
    * — delta-bounded at any skew (both sides of the challenge join
    * are capped per cell). The one corpus-sized term is the corpus
    * cell assignment (a scan + broadcast-centroid rank, no corpus
    * shuffle of vectors beyond it); the streaming tick persists
    * assignments in its store precisely to avoid repaying it
    * ([[graft.streaming.StreamOps.annIndexTick]]).
    *
    * The search step executes while this frame is built
    * ([[graphAnnOf]], 3 + 2·hops jobs): the driver holds the delta's
    * vectors, then ids and cosines only — |delta| entry rows plus
    * ≤ beam·(r + in-degree)·|delta| scored rows per hop — and, during
    * one hop, the vectors of its ≤ min(corpus, beam·(r + in-degree)·|delta|)
    * proposed ids. The search and the stabilized delta-side sets
    * execute while the result is built. */
  def graphInsertOf(corpus: DataFrame, delta: DataFrame, edges: DataFrame,
                    centroids: DataFrame, anchors: DataFrame,
                    idCol: String, vecCol: String,
                    r: Int, beam: Int, hops: Int,
                    cellProbes: Int = 2, maxCellOcc: Int = 256): DataFrame = {
    val (changed, affected, e) = insertChangedOf(corpus, delta, edges,
      centroids, anchors, idCol, vecCol, r, beam, hops, cellProbes, maxCellOcc,
      corpusAsg = null)
    // broadcast the delta-bounded affected-src set: un-hinted, the
    // untouched-list anti join sort-merge-shuffled the full edge list
    changed.unionByName(e.join(broadcast(affected), Seq("src"), "left_anti"))
  }

  /** Delta-bounded form of [[graphInsertOf]] — returns ONLY the
    * adjacency lists that CHANGE (src ∈ delta ids ∪ challenged corpus
    * srcs), omitting every untouched list. The law (spec-pinned,
    * Round16Spec): `graphInsertOf(args) ≡ graphInsertDeltaOf(args) ∪
    * edges.filter(src ∉ affected)` bit-identically — untouched lists
    * survive the full form's re-rank unchanged (top-r of their own
    * ≤ r rows), so the full output decomposes exactly. This is what a
    * CONTINUOUS maintenance tick lands: O(|delta|·r + challenge
    * fan-in) rows per tick instead of the whole index
    * ([[graft.streaming.StreamOps.annIndexTick]] serves the index as
    * latest-landing-per-src over these).
    *
    * `corpusAsg`, when given as (vec_id, cell) rows, replaces the
    * corpus cell assignment the core would otherwise recompute — the
    * continuous tick persists assignments at insert time precisely so
    * the per-tick corpus-sized assignment pass disappears (the stored
    * assignment reflects each node's insert-time anchor set; index
    * staleness under anchor drift is s25 indexDrift's contract, and
    * the stream==one-shot spec pins bit-equality while anchors are
    * stable). */
  def graphInsertDeltaOf(corpus: DataFrame, delta: DataFrame, edges: DataFrame,
                         centroids: DataFrame, anchors: DataFrame,
                         idCol: String, vecCol: String,
                         r: Int, beam: Int, hops: Int,
                         cellProbes: Int = 2, maxCellOcc: Int = 256,
                         corpusAsg: DataFrame = null): DataFrame =
    insertChangedOf(corpus, delta, edges, centroids, anchors, idCol, vecCol,
      r, beam, hops, cellProbes, maxCellOcc, corpusAsg)._1

  /** ONE-exchange dedup + top-r over (src, dst, cos) rows — the fused
    * form of `.distinct()` followed by the top-r rank window (guide
    * §2.4: operations keyed the same way share one exchange). One hash
    * exchange on src, one local sort (src, cos desc, dst); under that
    * sort exact-duplicate rows are ADJACENT, so a lag-comparison keeps
    * the first of each run — precisely what distinct collapsed (equal
    * (dst, cos) bits; a same-dst row with different cos bits stays, as
    * before) — and the rank window reuses both the partitioning and
    * the ordering, adding no exchange and no second sort. Values
    * bit-identical to distinct-then-top-r. */
  private def topRDedup(x: DataFrame, r: Int): DataFrame = {
    val wTop = Window.partitionBy(col("src")).orderBy(col("cos").desc, col("dst"))
    x.repartition(col("src"))
      .withColumn("__pd", lag(col("dst"), 1).over(wTop))
      .withColumn("__pc", lag(col("cos"), 1).over(wTop))
      .filter(col("__pd").isNull ||
        !(col("__pd") === col("dst") && col("__pc") === col("cos")))
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") <= r)
      .select(col("src"), col("dst"), col("cos"))
  }

  /** Shared core of [[graphInsertOf]]/[[graphInsertDeltaOf]]: returns
    * (changed lists, affected src set, normalized edges). */
  private def insertChangedOf(corpus: DataFrame, delta: DataFrame,
                              edges: DataFrame, centroids: DataFrame,
                              anchors: DataFrame, idCol: String, vecCol: String,
                              r: Int, beam: Int, hops: Int,
                              cellProbes: Int, maxCellOcc: Int,
                              corpusAsg: DataFrame):
      (DataFrame, DataFrame, DataFrame) = {
    require(r >= 1 && beam >= 1 && hops >= 0,
      s"need r >= 1, beam >= 1, hops >= 0; got r=$r beam=$beam hops=$hops")
    require(cellProbes >= 1 && maxCellOcc >= 1,
      s"need cellProbes >= 1, maxCellOcc >= 1; got $cellProbes, $maxCellOcc")
    val e = edges.select(col("src"), col("dst"), col("cos"))
    val vC = corpus.select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
    val vD = delta.select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
    val cents = centroids
      .select(col(idCol).as("c_id"), col(vecCol).cast("array<double>").as("cv"))
    // search: delta vectors as queries over the EXISTING graph; the
    // whole scored set (entry + every hop) is the candidate pool — one
    // local relation, so nothing below re-plans the search
    val deltaOld = beamScoredByHop(corpus, delta, anchors, edges,
        idCol, vecCol, beam = beam, hops = hops).last
      .select(col("q_id").as("src"), col("vec_id").as("dst"), col("cos"))
    // connect: the full build's cell-proposal rule restricted to the
    // delta — combined (corpus ∪ delta) per-cell rep pool, same
    // md5-ordered cap as knnGraphOf, delta nodes as srcs. Only cells
    // the delta touches can form a pair, so the corpus side is
    // pre-filtered to them (a broadcast semi join — no corpus shuffle;
    // per-cell cap ranks are unchanged by dropping whole cells)
    // asgD is referenced three times (deltaCells, the rep-pool union,
    // the cellPairs x-side) — un-checkpointed, the delta×centroid
    // cosine rank re-ran per reference (round-17; bit-identical)
    val asgD = graft.Checkpoints.fresh(
      cellAsgOf(vD, cents, cellProbes).join(vD, "vec_id"))
    val deltaCells = asgD.select(col("cell")).distinct()
    val asgCFull =
      if (corpusAsg != null) corpusAsg.select(col("vec_id"), col("cell"))
      else cellAsgOf(vC, cents, cellProbes)
    val asgC = asgCFull
      .join(broadcast(deltaCells), Seq("cell"), "left_semi")
      .join(vC, "vec_id")
      .select(col("vec_id"), col("cell"), col("v"))
    val wCell = Window.partitionBy(col("cell"))
      .orderBy(graft.F.hash60(concat(lit("s20cap:"), col("vec_id").cast("string"))),
        col("vec_id"))
    // repsAll is referenced three times (cellPairs y-side, repsD,
    // repsC) — checkpoint so the per-cell cap window and its corpus
    // semi-join input run once (round-17; bit-identical)
    val repsAll = graft.Checkpoints.fresh(
      asgC.unionByName(asgD.select(col("vec_id"), col("cell"), col("v")))
        .withColumn("__crn", row_number().over(wCell))
        .filter(col("__crn") <= maxCellOcc).drop("__crn"))
    // no inner distinct: newOut's dedup collapses duplicate pairs
    // (identical bits) — the extra (src,dst,cos) exchange bought nothing
    val cellPairs = asgD.as("x").join(repsAll.as("y"), "cell")
      .filter(col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst"),
        expr("graft_cosine(x.v, y.v)").as("cos"))
    // the delta lists are referenced by the reverse challenge, the
    // affected-src set AND the final union — checkpoint once so the
    // deep beam-search plan underneath isn't replanned per reference
    val newOut = graft.Checkpoints.fresh(
      topRDedup(deltaOld.union(cellPairs), r))
    // repair (a): reversed new edges challenge their targets' lists
    val rev = newOut.select(col("dst").as("src"), col("src").as("dst"), col("cos"))
    // repair (b): corpus reps sharing a cell with a delta rep score
    // those delta reps — both sides per-cell capped, so the challenge
    // volume is ≤ cap² per delta-touched cell at any skew
    // broadcast the delta id set (round-18, §3.1): repsAll hangs off a
    // checkpoint leaf, so un-hinted both splits sort-merge-shuffled the
    // capped rep pool instead of scanning it against a broadcast probe
    val deltaIds = broadcast(vD.select(col("vec_id")).distinct())
    val repsD = repsAll.join(deltaIds, Seq("vec_id"), "left_semi")
    val repsC = repsAll.join(deltaIds, Seq("vec_id"), "left_anti")
    // no inner distinct: `changed`'s dedup and `affected`'s distinct
    // both collapse duplicates downstream
    val abPairs = repsC.as("x").join(repsD.as("y"), "cell")
      .filter(col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("src"), col("y.vec_id").as("dst"),
        expr("graft_cosine(x.v, y.v)").as("cos"))
    val challenges = graft.Checkpoints.fresh(rev.union(abPairs))
    val affected = graft.Checkpoints.fresh(newOut.select(col("src"))
      .union(challenges.select(col("src"))).distinct())
    // broadcast the delta-bounded affected set into the re-rank base's
    // semi join — the edge list is scanned, never exchanged (§3.1)
    val changed = topRDedup(e.join(broadcast(affected), Seq("src"), "left_semi")
      .union(newOut).union(challenges), r)
    (changed, affected, e)
  }

  /** Graph-ANN DELETE consolidation (public operator behind
    * [[graft.Graft.graphDelete]]) — the other half of the FreshDiskANN
    * maintenance loop next to [[graphInsertOf]] (Singh 2021,
    * arXiv:2105.09613 §4.2 delete consolidation): when vectors leave a
    * 100 TB index (takedowns, TTL expiry, dedup removals) a full
    * rebuild is off the table, and simply dropping the deleted nodes'
    * rows would sever every path that routed THROUGH them. Two bounded
    * relational steps over the edge list:
    *
    *   drop     all edges touching a deleted node (src or dst) —
    *            two anti joins against the delete set;
    *   stitch   for every live p with a severed edge p→d, d's live
    *            out-neighbors x become candidates for p (p→d→x
    *            collapses to p→x — the FreshDiskANN rule), scored by
    *            exact cosine and re-ranked into p's list with its
    *            surviving edges (top-`r`, cos desc, ties → smaller
    *            dst). Stitch volume is ≤ r per severed edge — bounded
    *            by the edge list, never the corpus.
    *
    * Untouched nodes (no edge to a deleted node) keep their lists
    * BIT-identically (top-r of their own ≤ r surviving rows); a stitch
    * pair that already exists as a live edge scores identical bits
    * (same vectors, same kernel), so the distinct collapses it. A pure
    * function of (corpus, deleted, edges) with total-order ranks — the
    * DuckDB oracle replays build AND delete verbatim. Scale shape: the
    * delete set joins as a normal table (broadcast when small, shuffle
    * when not); vectors are touched only for the stitch pairs. The
    * delete set, the tagged edge list and the severed srcs' live lists
    * are stabilized, so those steps execute while the result is built. */
  def graphDeleteOf(corpus: DataFrame, deleted: DataFrame, edges: DataFrame,
                    idCol: String, vecCol: String, r: Int): DataFrame = {
    val (changed, sevSrcs, live) =
      deleteChangedOf(corpus, deleted, edges, idCol, vecCol, r)
    // broadcast the delete-bounded severed-src set: un-hinted, the
    // untouched-list anti join sort-merge-shuffled the live edge list
    changed.unionByName(live.join(broadcast(sevSrcs), Seq("src"), "left_anti"))
  }

  /** Delta-bounded form of [[graphDeleteOf]] — returns ONLY the
    * adjacency lists that CHANGE (src with a severed edge src→deleted,
    * re-ranked with its stitch candidates), omitting deleted srcs
    * (their lists simply cease to exist) and untouched lists. The law
    * (spec-pinned, Round16Spec): `graphDeleteOf(args) ≡
    * graphDeleteDeltaOf(args) ∪ edges.filter(src ∉ deleted ∪ severed)`
    * bit-identically — an untouched live src has NO edge to a deleted
    * node (that is what untouched means), so its original rows ARE its
    * post-delete rows. A continuous tick lands only these changed
    * lists; the deleted srcs disappear from the merged view by the
    * live-id semi-join ([[graft.streaming.StreamOps.annIndexReport]]). */
  def graphDeleteDeltaOf(corpus: DataFrame, deleted: DataFrame, edges: DataFrame,
                         idCol: String, vecCol: String, r: Int): DataFrame =
    deleteChangedOf(corpus, deleted, edges, idCol, vecCol, r)._1

  /** Shared core of [[graphDeleteOf]]/[[graphDeleteDeltaOf]]: returns
    * (changed lists, severed src set, live edges). */
  private def deleteChangedOf(corpus: DataFrame, deleted: DataFrame,
                              edges: DataFrame, idCol: String, vecCol: String,
                              r: Int): (DataFrame, DataFrame, DataFrame) = {
    require(r >= 1, s"r must be >= 1, got $r")
    val v = corpus.select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
    // the delete set feeds six anti/semi joins below — checkpoint so
    // its distinct's exchange runs once (round-17; bit-identical)
    val del = graft.Checkpoints.fresh(
      deleted.select(col(idCol).as("vec_id")).distinct())
    val e = edges.select(col("src"), col("dst"), col("cos"))
    // ONE tagged pass over the edge list (round-18, guide §1.2 step 1):
    // live / severed / outgoing are the four quadrants of (src deleted?,
    // dst deleted?), and the old per-view anti/semi joins executed the
    // SAME two delete-set probes over the full edge list once per view —
    // three full passes per delete. Two broadcast left joins against the
    // (distinct, checkpointed) delete set tag every edge once — del is
    // distinct, so join multiplicity is exactly 1 and the filters below
    // are literal anti/semi semantics — and each view is a projection of
    // the one checkpointed tagged frame (round-17's live/severed
    // checkpoints subsumed; values bit-identical).
    val tagged = graft.Checkpoints.fresh(e
      .join(del.select(col("vec_id").as("src"), lit(true).as("__sdel")),
        Seq("src"), "left")
      .join(del.select(col("vec_id").as("dst"), lit(true).as("__ddel")),
        Seq("dst"), "left"))
    val live = tagged
      .filter(col("__sdel").isNull && col("__ddel").isNull)
      .select(col("src"), col("dst"), col("cos"))
    // severed: live p → deleted d;   outgoing: deleted d → live x
    val severed = tagged
      .filter(col("__sdel").isNull && col("__ddel").isNotNull)
      .select(col("src").as("p"), col("dst").as("d"))
    val outgoing = tagged
      .filter(col("__sdel").isNotNull && col("__ddel").isNull)
      .select(col("src").as("d"), col("dst").as("x"))
    // pairs already live as edges are excluded BEFORE scoring: the
    // distinct() below would collapse them only if the caller's cos
    // bits exactly match this kernel's recomputation — true for
    // knnGraphOf output, not guaranteed for an edge list persisted
    // rounded or scored elsewhere, and a near-duplicate row would put
    // the same dst at two ranks of a node's top-r. The anti join also
    // skips their redundant cosines.
    //
    // Broadcast hints on every delete-bounded join side (round-18,
    // guide §3.1 — the annsearch-probe finding applied here): severed/
    // stitch/sevSrcs hang off checkpoint leaves Catalyst cannot size,
    // so un-hinted these joins planned SortMergeJoin and SHUFFLED the
    // live edge list and the corpus vectors — index/corpus-sized
    // exchanges for delete-bounded probes. The existing-edge exclusion
    // anti-joins against liveSev (live edges of severed srcs, ≤ r per
    // severed src — every stitch pair's src IS severed, so anti vs
    // liveSev ≡ anti vs live) instead of the full live list; liveSev is
    // checkpointed once and reused as changed's re-rank base. The
    // corpus is now only scanned, never exchanged, by the stitch
    // scoring (values unchanged — broadcast is a strategy hint).
    val sevSrcs = severed.select(col("p").as("src")).distinct()
    val liveSev = graft.Checkpoints.fresh(
      live.join(broadcast(sevSrcs), Seq("src"), "left_semi"))
    val stitch = severed.join(outgoing, "d")
      .filter(col("p") =!= col("x"))
      .select(col("p").as("src"), col("x").as("dst"))
      .distinct()
      .join(broadcast(liveSev.select(col("src"), col("dst"))),
        Seq("src", "dst"), "left_anti")
    val stitchScored = broadcast(broadcast(stitch)
      .join(v.select(col("vec_id").as("src"), col("v").as("sv")), "src"))
      .join(v.select(col("vec_id").as("dst"), col("v").as("dv")), "dst")
      .select(col("src"), col("dst"), expr("graft_cosine(sv, dv)").as("cos"))
    val changed = topRDedup(liveSev.union(stitchScored), r)
    (changed, sevSrcs, live)
  }

  /** #26b LSH-bucketed ANN — the second scale path the brief names next
    * to IVF: the d05 24-bit sketch, 4 bands × 6 bits, exact-cosine
    * rank within shared buckets; the oracle replays the identical
    * pipeline. */
  private val s03: Q = (s, dir) => {
    val all = vecs(s, dir)
    lshAnnOf(all, all.filter(col("vec_id") < 5), "vec_id", "v",
        k = K, sketchBits = 24, bands = 4, dims = 64)
      .select(col("q_id"), col("rank"), col("vec_id"), r6(col("cosv")).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  /** #26w graph ANN (`Graft.knnGraph` + `Graft.annGraph`) — the FIFTH
    * ANN representation, and the recall-at-low-budget frontier: a
    * cell-seeded, NN-descent-refined k-NN graph (r=8, 1 descent
    * round) searched by anchor-entry beam search over the symmetrized
    * edges (beam=4, 3 hops). Centroids/anchors are the `vec_id % 64
    * == 0` slice — a pure filter whose count GROWS with the corpus,
    * so cell size (and the seed fan-out per node) stays ~64·probes at
    * any scale: the ×10 probe runs the same query on 10× the corpus
    * without a quadratic seed. Measured at this corpus
    * (GraphAnnSpec): recall@10 ≥ the IVF 2-probe path while scoring
    * well under its candidate count — the graph trade stated as
    * numbers. The edge list is stabilized, so the build executes
    * where the query is built; every hop reads its rows, never the
    * build's plan. */
  private val s20: Q = (s, dir) => {
    val all = vecs(s, dir)
    val anchors = all.filter(pmod(col("vec_id"), lit(64)) === 0)
    val edges = graft.Checkpoints.stabilize(knnGraphOf(all, anchors, "vec_id", "v",
      "vec_id", "v", r = 8, cellProbes = 2, descentRounds = 1))
    graphAnnOf(all, all.filter(col("vec_id") < 5), anchors,
        edges, "vec_id", "v", k = K, beam = 4, hops = 3)
      .select(col("q_id"), col("rank"), col("vec_id"), r6(col("cos")).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  /** FILTERED graph ANN (public operator behind
    * [[graft.Graft.annFiltered]]) — metadata-constrained vector
    * search, the production hybrid-search shape (Gollapudi 2023,
    * "Filtered-DiskANN", WWW; the predicate+vector query every vector
    * store serves): top-k among vectors satisfying a predicate,
    * given as the `matching` id set. The two wrong plans: filter the
    * CORPUS first (graph connectivity collapses — a matching island
    * behind non-matching hops is unreachable, and the graph would
    * need rebuilding per predicate); filter the top-k AFTER a plain
    * search (returns < k matches under any selective predicate). The
    * moderate-selectivity plan: traverse the FULL graph — every
    * scored candidate keeps the search navigable — and rank ONLY
    * matching candidates to top-k (one semi join + one window over
    * the search's bounded scored set; nothing corpus-scaled beyond
    * the search itself). Composes existing ops, so the oracle
    * replays traversal + filter + rank verbatim.
    *
    * BUDGET RULE (measured on the gate corpus): the search must
    * over-fetch by the predicate's inverse selectivity — `beam` ≈
    * plain-beam / selectivity (label = 1 is ~9% of the corpus, so the
    * gate runs beam 40 where s20 runs 4; at beam 4 the filtered
    * recall@10 was 0.18 — the true filtered top-10 live beyond an
    * unfiltered top-78 budget). The budget is selectivity-dependent
    * but corpus-INDEPENDENT (the s21 frontier argument survives
    * filtering); very low selectivities belong on a label-partitioned
    * index instead — the d14-style honest boundary.
    *
    * The search executes while it is built ([[graphAnnOf]], 3 + 2·hops
    * jobs): the driver holds the queries, then ids and cosines only —
    * |q| entry rows plus ≤ beam·(r + in-degree)·|q| scored rows per hop —
    * and, during one hop, the vectors of its
    * ≤ min(corpus, beam·(r + in-degree)·|q|) proposed ids. The matching
    * filter and rank run in Spark over that local scored set. */
  def filteredAnnOf(corpus: DataFrame, queries: DataFrame, anchors: DataFrame,
                    edges: DataFrame, idCol: String, vecCol: String,
                    matching: DataFrame, k: Int, beam: Int, hops: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val scored = graphAnnOf(corpus, queries, anchors, edges, idCol, vecCol,
      k = Int.MaxValue, beam = beam, hops = hops)
    val wQ = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("vec_id"))
    scored
      .join(matching.select(col(idCol).as("vec_id")).distinct(), Seq("vec_id"), "left_semi")
      .withColumn("rank", row_number().over(wQ).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cos"))
  }

  /** #26f filtered ANN as a gate query: top-10 among label = 1 vectors
    * for queries vec_id < 5, traversing the s20 graph; label carried
    * back in-plan. Round16Spec pins predicate completeness and recall
    * vs the FILTERED brute truth. */
  private val s28: Q = (s, dir) => {
    val all = t(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"), col("label"))
    val corpus = all.select(col("vec_id"), col("v"))
    val anchors = corpus.filter(pmod(col("vec_id"), lit(64)) === 0)
    val edges = graft.Checkpoints.stabilize(knnGraphOf(corpus, anchors, "vec_id", "v",
      "vec_id", "v", r = 8, cellProbes = 2, descentRounds = 1))
    filteredAnnOf(corpus, corpus.filter(col("vec_id") < 5), anchors, edges,
        "vec_id", "v", all.filter(col("label") === 1), k = K, beam = 40, hops = 3)
      .join(all.select(col("vec_id"), col("label")), "vec_id")
      .select(col("q_id"), col("rank"), col("vec_id"), col("label"),
        r6(col("cos")).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  private val s28Sql: String =
    graphSearchCtes(r = 8, beam = 40, hops = 3) + s""",
lbl AS (SELECT vec_id, label FROM embeddings WHERE label = 1),
fr AS (SELECT q_id, allsc.vec_id, lbl.label, cos,
    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, allsc.vec_id) AS BIGINT) AS rank
  FROM allsc JOIN lbl ON lbl.vec_id = allsc.vec_id
  WHERE allsc.vec_id <> q_id)
SELECT q_id, rank, vec_id, label, round(cos, 6) AS cos_sim
FROM fr WHERE rank <= $K ORDER BY q_id, rank"""

  /** #26g LOW-selectivity filtered ANN through the LABEL-PARTITIONED
    * index ([[labeledGraphOf]]): one build pass makes every label's
    * sub-graph; the search runs the target label's graph at the PLAIN
    * beam (4) where s28's over-fetch budget needed beam 40 for the
    * same predicate — the Filtered-DiskANN trade as a gate row. The
    * oracle replays the label slice's build + search verbatim (the
    * slice-law makes the one-pass build's slice identical to a
    * slice-only build — Round17Spec pins the law across every label). */
  private val s29: Q = (s, dir) => {
    val all = t(s, dir, "embeddings")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"), col("label"))
    val edges = graft.Checkpoints.stabilize(labeledGraphOf(all, "vec_id", "v", "label", r = 8,
      cellProbes = 2, descentRounds = 1)
      .filter(col("label") === 1).select(col("src"), col("dst"), col("cos")))
    val slice = all.filter(col("label") === 1)
      .select(col("vec_id"), col("v"), col("label").as("__lbl"))
    val anchors = labelAnchorsOf(slice, 64).select(col("vec_id"), col("v"))
    graphAnnOf(slice.select(col("vec_id"), col("v")),
        all.filter(col("vec_id") < 5).select(col("vec_id"), col("v")),
        anchors, edges, "vec_id", "v", k = K, beam = 4, hops = 3)
      .select(col("q_id"), col("rank"), col("vec_id"),
        r6(col("cos")).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  private val s29Sql: String = {
    val lblAnchors = "vec_id % 64 = 0 OR vec_id = (SELECT min(vec_id) FROM ec)"
    graphBuildCtes(r = 8, corpusFilter = "label = 1",
      centsFilter = lblAnchors) + ",\n" +
      beamSearchCtes(beam = 4, hops = 3, queryFilter = "vec_id < 5",
        ancFilter = lblAnchors) + s""",
fr AS (SELECT q_id, vec_id, cos,
    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
  FROM allsc WHERE vec_id <> q_id)
SELECT q_id, rank, vec_id, round(cos, 6) AS cos_sim
FROM fr WHERE rank <= $K ORDER BY q_id, rank"""
  }

  /** The CTE chain shared by s20/s21/s26's oracles: graph build over
    * `ec` (the corpus slice) + beam search for `q` (the query slice)
    * at (r, beam, hops), ending at `allsc` = every scored
    * (q_id, vec_id, cos). Callers append their own final SELECT.
    * `edges` keeps cos so the s26 insert chain can re-rank it. */
  /** The graph BUILD CTE chain (cell seed + one NN-descent round →
    * `edges`), the first half of the old monolithic search tree — kept
    * separate so st17's composed oracle can run a DELETE between build
    * and search. */
  private def graphBuildCtes(r: Int, corpusFilter: String,
                             centsFilter: String = "vec_id % 64 = 0"): String =
    s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |ec AS (SELECT vec_id, v FROM e WHERE $corpusFilter),
       |cents AS (SELECT vec_id AS c_id, v AS cv FROM ec WHERE $centsFilter),
       |asg AS (SELECT vec_id, cell FROM (
       |    SELECT ec.vec_id, c_id AS cell,
       |      row_number() OVER (PARTITION BY ec.vec_id ORDER BY ${duckCos("v", "cv")} DESC, c_id) AS arn
       |    FROM ec CROSS JOIN cents) WHERE arn <= 2),
       |reps AS (SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
       |      ORDER BY CAST(('0x' || substr(md5('s20cap:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id) AS crn
       |    FROM asg) WHERE crn <= 256),
       |p0 AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM asg a JOIN reps b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |sc0 AS (SELECT src, dst, ${duckCos("es.v", "ed.v")} AS cos
       |  FROM p0 JOIN ec es ON es.vec_id = src JOIN ec ed ON ed.vec_id = dst),
       |ed0 AS (SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM sc0)
       |  WHERE rn <= $r),
       |non AS (SELECT DISTINCT x.src, y.dst FROM ed0 x JOIN ed0 y ON x.dst = y.src WHERE x.src <> y.dst),
       |cand AS (SELECT src, dst FROM p0 UNION SELECT src, dst FROM non),
       |sc1 AS (SELECT src, dst, ${duckCos("es.v", "ed.v")} AS cos
       |  FROM cand JOIN ec es ON es.vec_id = src JOIN ec ed ON ed.vec_id = dst),
       |edges AS (SELECT src, dst, cos FROM (
       |    SELECT src, dst, cos, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM sc1)
       |  WHERE rn <= $r)""".stripMargin

  /** The BEAM-SEARCH CTE chain (entry anchor + `hops` expansion rounds
    * → `allsc`, the whole scored set) over any edge-list CTE
    * (`edgesCte`) and corpus CTE (`corpusCte` supplies the anchor
    * slice) — the second half of the old monolithic tree,
    * parameterized so st17 can search the POST-DELETE edge list. */
  private def beamSearchCtes(beam: Int, hops: Int, queryFilter: String,
                             edgesCte: String = "edges",
                             corpusCte: String = "ec",
                             suffix: String = "",
                             ancFilter: String = "vec_id % 64 = 0"): String = {
    // `suffix` decorates every internal CTE name so a composed oracle
    // (st18: two insert ticks in one tree) can chain two searches; ""
    // emits byte-identical SQL to the pre-suffix form.
    val x = suffix
    val head =
      s"""edsym$x AS (SELECT src, dst FROM $edgesCte UNION SELECT dst AS src, src AS dst FROM $edgesCte),
         |q$x AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE $queryFilter),
         |anc$x AS (SELECT vec_id, v AS av FROM $corpusCte WHERE $ancFilter),
         |s${x}0 AS (SELECT q_id, vec_id, cos FROM (
         |    SELECT q$x.q_id, anc$x.vec_id, ${duckCos("qv", "av")} AS cos,
         |      row_number() OVER (PARTITION BY q$x.q_id ORDER BY ${duckCos("qv", "av")} DESC, anc$x.vec_id) AS rn
         |    FROM q$x CROSS JOIN anc$x) WHERE rn = 1),
         |f${x}0 AS (SELECT q_id, vec_id FROM s${x}0)""".stripMargin
    val hopCtes = (1 to hops).map { h =>
      val seen = (0 until h).map(i => s"SELECT q_id, vec_id FROM s$x$i").mkString(" UNION ALL ")
      s"""c$x$h AS (SELECT DISTINCT f.q_id, ed.dst AS vec_id
         |  FROM f$x${h - 1} f JOIN edsym$x ed ON ed.src = f.vec_id
         |  WHERE NOT EXISTS (SELECT 1 FROM ($seen) sv WHERE sv.q_id = f.q_id AND sv.vec_id = ed.dst)),
         |s$x$h AS (SELECT c.q_id, c.vec_id, ${duckCos("qv", "v")} AS cos
         |  FROM c$x$h c JOIN e ON e.vec_id = c.vec_id JOIN q$x ON q$x.q_id = c.q_id),
         |f$x$h AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn FROM s$x$h)
         |  WHERE rn <= $beam)""".stripMargin
    }
    val allScored = (0 to hops).map(i => s"SELECT q_id, vec_id, cos FROM s$x$i").mkString(" UNION ALL ")
    (Seq(head) ++ hopCtes :+ s"allsc$x AS ($allScored)").mkString(",\n")
  }

  private def graphSearchCtes(r: Int, beam: Int, hops: Int,
                              corpusFilter: String = "TRUE",
                              queryFilter: String = "vec_id < 5"): String =
    graphBuildCtes(r, corpusFilter) + ",\n" +
      beamSearchCtes(beam, hops, queryFilter)

  /** DuckDB inlines every CTE reference by default; the composed graph
    * oracles reference chain CTEs (edges → dfin → fin → fin2) many
    * times each, so inlining expands the tree EXPONENTIALLY in chain
    * depth — st18's two-insert tree exhausted 20k file handles
    * re-scanning the parquet behind `e`. MATERIALIZED pins each CTE to
    * one evaluation: semantics identical, cost linear in the tree.
    * Applied to every graph-family oracle (the round-15 verdict's
    * "graph-chain replay oracles are DuckDB-side outliers" caveat was
    * this same disease at survivable size).
    *
    * The rewrite is anchored to CTE definition sites only — a name
    * (with an optional column list) at the START OF A LINE, or
    * directly after the `WITH` keyword — which is where every CTE in
    * the generated oracles sits (`stripMargin` chains joined with
    * ",\n"). An ` AS (` inside an expression or a string literal is
    * mid-line in this SQL and is left alone (a blanket `\w+ AS \(`
    * rewrite would corrupt it — round-16 advice). */
  private[graft] def materializeCtes(sql: String): String =
    sql
      .replaceAll("""(?m)^(\w+(?:\s*\([\w\s,]*\))?) AS \(""",
        "$1 AS MATERIALIZED (")
      .replaceAll("""\bWITH (\w+(?:\s*\([\w\s,]*\))?) AS \(""",
        "WITH $1 AS MATERIALIZED (")

  /** The DELETE-consolidation CTE chain (drop + stitch → `dfin`, the
    * post-delete edge list) over any edge-list CTE — s27's oracle
    * parameterized for reuse inside st17's composed tick oracle. */
  private def deleteCtes(delFilter: String, edgesCte: String,
                         corpusCte: String, r: Int): String =
    s"""ddel AS (SELECT vec_id FROM e WHERE $delFilter),
       |dlive AS (SELECT src, dst, cos FROM $edgesCte
       |  WHERE src NOT IN (SELECT vec_id FROM ddel)
       |    AND dst NOT IN (SELECT vec_id FROM ddel)),
       |dsev AS (SELECT src AS p, dst AS d FROM $edgesCte
       |  WHERE dst IN (SELECT vec_id FROM ddel)
       |    AND src NOT IN (SELECT vec_id FROM ddel)),
       |doutg AS (SELECT src AS d, dst AS x FROM $edgesCte
       |  WHERE src IN (SELECT vec_id FROM ddel)
       |    AND dst NOT IN (SELECT vec_id FROM ddel)),
       |dstp AS (SELECT DISTINCT p AS src, x AS dst FROM dsev JOIN doutg USING (d) WHERE p <> x),
       |dstsc AS (SELECT dstp.src, dstp.dst, ${duckCos("es.v", "ed.v")} AS cos
       |  FROM dstp JOIN $corpusCte es ON es.vec_id = dstp.src JOIN $corpusCte ed ON ed.vec_id = dstp.dst),
       |dalle AS (SELECT src, dst, cos FROM dlive UNION SELECT src, dst, cos FROM dstsc),
       |dfin AS (SELECT src, dst, cos FROM (
       |    SELECT src, dst, cos, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM dalle)
       |  WHERE rn <= $r)""".stripMargin

  private val s20Sql: String =
    graphSearchCtes(r = 8, beam = 4, hops = 3) + s""",
r AS (SELECT q_id, vec_id, cos,
    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
  FROM allsc WHERE vec_id <> q_id)
SELECT q_id, rank, vec_id, round(cos, 6) AS cos_sim
FROM r WHERE rank <= $K
ORDER BY q_id, rank"""

  /** #26x the graph-ANN BUDGET/RECALL FRONTIER as an oracle-checked
    * artifact (the eval s05 runs for IVF, run across the beam-search
    * depth axis): for hops ∈ {1,2,3} over the SAME s20 graph, one row
    * (hops, n_queries, total_scored, hits, recall_at_10) where
    * total_scored is the exact candidate budget the search paid and
    * hits counts agreement with the brute-force top-10. This turns
    * GraphAnnSpec's measured claim — recall grows with hops while the
    * budget stays a corpus-independent constant per query — into a
    * hash-proven gate row. Integer counts + one int/int division, so
    * every cell is bit-stable at any parallelism. */
  private val s21: Q = (s, dir) => {
    val all = vecs(s, dir)
    val anchors = all.filter(pmod(col("vec_id"), lit(64)) === 0)
    val edges = graft.Checkpoints.stabilize(knnGraphOf(all, anchors, "vec_id", "v", "vec_id", "v",
      r = 8, cellProbes = 2, descentRounds = 1))
    val q = all.filter(col("vec_id") < 5)
    val brute = graft.Checkpoints.stabilize(graft.Graft.knnBrute(all, q, "vec_id", "v", K)
      .select(col("q_id"), col("vec_id")))
    // ONE beam chain serves all three frontier points (the
    // prefix-invariance the oracle already exploits): element h of
    // [[beamScoredByHop]] IS the `hops = h` search's scored set, so the
    // three arms pay 3 hop expansions + 1 entry pass instead of 6 + 3
    val byHop = beamScoredByHop(all, q, anchors, edges, "vec_id", "v",
      beam = 4, hops = 3)
    (1 to 3).map { h =>
      val scored = rankScored(byHop(h), k = Int.MaxValue, excludeSelf = true)
      val bud = scored.groupBy(col("q_id")).agg(count(lit(1)).as("__scored"))
        .agg(count(lit(1)).as("n_queries"), sum(col("__scored")).as("total_scored"))
      val hits = brute
        .join(scored.filter(col("rank") <= K).select(col("q_id"), col("vec_id")),
          Seq("q_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      bud.crossJoin(hits).select(lit(h).as("hops"), col("n_queries"),
        col("total_scored"), col("hits"),
        r6(col("hits") / (col("n_queries") * K).cast("double")).as("recall_at_10"))
    }.reduce(_ unionByName _).orderBy("hops")
  }

  private val s21Sql: String = {
    // the beam chain is PREFIX-INVARIANT: the scored set after hop h
    // does not depend on later hops, so ONE chain to hops=3 serves all
    // three frontier points — arm h reads s0..s_h only.
    def arm(h: Int): String = {
      val scoredH = (0 to h).map(i => s"SELECT q_id, vec_id, cos FROM s$i").mkString(" UNION ALL ")
      s"""filt$h AS (SELECT q_id, vec_id, cos FROM ($scoredH) WHERE vec_id <> q_id),
         |topk$h AS (SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
         |    FROM filt$h) WHERE rn <= $K),
         |hc$h AS (SELECT count(*) AS hits FROM brute b JOIN topk$h t
         |    ON b.q_id = t.q_id AND b.vec_id = t.vec_id),
         |bud$h AS (SELECT count(DISTINCT q_id) AS n_queries, count(*) AS total_scored FROM filt$h)""".stripMargin
    }
    def row(h: Int): String =
      s"""SELECT $h AS hops, CAST(n_queries AS BIGINT) AS n_queries,
         |  CAST(total_scored AS BIGINT) AS total_scored, CAST(hits AS BIGINT) AS hits,
         |  round(hits / CAST(n_queries * $K AS DOUBLE), 6) AS recall_at_10
         |FROM bud$h, hc$h""".stripMargin
    s"""${graphSearchCtes(r = 8, beam = 4, hops = 3)},
       |brute AS (SELECT q_id, vec_id FROM (
       |    SELECT q.q_id, e.vec_id,
       |      row_number() OVER (PARTITION BY q.q_id ORDER BY ${duckCos("qv", "v")} DESC, e.vec_id) AS rn
       |    FROM q JOIN e ON e.vec_id <> q.q_id) WHERE rn <= $K),
       |${(1 to 3).map(arm).mkString(",\n")}
       |SELECT * FROM (${(1 to 3).map(row).mkString(" UNION ALL ")})
       |ORDER BY hops""".stripMargin
  }

  /** #26z INCREMENTAL graph-ANN maintenance as a gate query
    * ([[graphInsertOf]] / `Graft.graphInsert`): build the s20 graph on
    * corpus A (every vec_id % 10 ≠ 9), insert the held-out delta B
    * (vec_id % 10 = 9) via search-connect-repair, and hash the ENTIRE
    * resulting edge list — old nodes' repaired lists included — so the
    * oracle replays build AND insert verbatim (one CTE tree: the s20
    * chain on A with the delta as the query slice, plus the delta-cell
    * seed, the new-out-edge rank and the reverse-repair re-rank).
    * GraphAnnSpec's round-15 test pins recall@10 of the incremental
    * graph within noise of a full rebuild on A ∪ B. */
  private val s26: Q = (s, dir) => {
    val all = vecs(s, dir)
    val a = all.filter(pmod(col("vec_id"), lit(10)) =!= 9)
    val b = all.filter(pmod(col("vec_id"), lit(10)) === 9)
    val anchors = a.filter(pmod(col("vec_id"), lit(64)) === 0)
    val edges = graft.Checkpoints.stabilize(knnGraphOf(a, anchors, "vec_id", "v", "vec_id", "v",
      r = 8, cellProbes = 2, descentRounds = 1))
    graphInsertOf(a, b, edges, anchors, anchors, "vec_id", "v",
      r = 8, beam = 4, hops = 3)
      .select(col("src"), col("dst"), r6(col("cos")).as("cos_sim"))
      .orderBy("src", "dst")
  }

  /** The insert-side CTE suffix shared by s26's oracle and st17's
    * composed tick oracle: given CTEs `e` (all vectors), `asg` (corpus
    * cell assignment), `allsc` (delta beam-search scored set) and an
    * edges CTE named `edgesCte`, replay the round-16 connect/repair
    * rule — combined rep pool, delta cell pairs, reverse challenges,
    * corpus-rep↔delta-rep challenges — to a CTE `fin` (the post-insert
    * edge list). `deltaFilter` selects the delta slice of `e`. */
  private def insertCtes(deltaFilter: String, edgesCte: String,
                         corpusAsgCte: String = "asg", r: Int = 8,
                         centsCte: String = "cents",
                         suffix: String = ""): String = {
    // `suffix` decorates every internal CTE name (and the allsc
    // reference) so st18's composed oracle can chain two inserts; ""
    // emits byte-identical SQL to the pre-suffix form. `centsCte`
    // carries the insert-time anchor set — a later tick assigns its
    // delta against the LIVE anchors, not the build's.
    val x = suffix
    s"""
eb$x AS (SELECT vec_id, v FROM e WHERE $deltaFilter),
basg$x AS (SELECT vec_id, cell FROM (
    SELECT eb$x.vec_id, c_id AS cell,
      row_number() OVER (PARTITION BY eb$x.vec_id ORDER BY ${duckCos("v", "cv")} DESC, c_id) AS arn
    FROM eb$x CROSS JOIN $centsCte) WHERE arn <= 2),
casg$x AS (SELECT vec_id, cell FROM $corpusAsgCte UNION ALL SELECT vec_id, cell FROM basg$x),
creps$x AS (SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
      ORDER BY CAST(('0x' || substr(md5('s20cap:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT), vec_id) AS crn
    FROM casg$x) WHERE crn <= 256),
bp$x AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
  FROM basg$x a JOIN creps$x b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
bsc$x AS (SELECT src, dst, ${duckCos("es.v", "ed.v")} AS cos
  FROM bp$x JOIN e es ON es.vec_id = src JOIN e ed ON ed.vec_id = dst),
newc$x AS (SELECT q_id AS src, vec_id AS dst, cos FROM allsc$x
  UNION SELECT src, dst, cos FROM bsc$x),
newout$x AS (SELECT src, dst, cos FROM (
    SELECT src, dst, cos, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM newc$x)
  WHERE rn <= $r),
abp$x AS (SELECT DISTINCT x.vec_id AS src, y.vec_id AS dst
  FROM (SELECT * FROM creps$x WHERE NOT ($deltaFilter)) x
  JOIN (SELECT * FROM creps$x WHERE $deltaFilter) y
    ON x.cell = y.cell AND x.vec_id <> y.vec_id),
absc$x AS (SELECT src, dst, ${duckCos("es.v", "ed.v")} AS cos
  FROM abp$x JOIN e es ON es.vec_id = src JOIN e ed ON ed.vec_id = dst),
alle$x AS (SELECT src, dst, cos FROM $edgesCte
  UNION SELECT src, dst, cos FROM newout$x
  UNION SELECT dst AS src, src AS dst, cos FROM newout$x
  UNION SELECT src, dst, cos FROM absc$x),
fin$x AS (SELECT src, dst, cos FROM (
    SELECT src, dst, cos, row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM alle$x)
  WHERE rn <= $r)"""
  }

  private val s26Sql: String =
    graphSearchCtes(r = 8, beam = 4, hops = 3,
      corpusFilter = "vec_id % 10 <> 9", queryFilter = "vec_id % 10 = 9") + "," +
      insertCtes(deltaFilter = "vec_id % 10 = 9", edgesCte = "edges") + """
SELECT src, dst, round(cos, 6) AS cos_sim FROM fin ORDER BY src, dst"""

  /** #26z2 graph-ANN DELETE consolidation as a gate query
    * ([[graphDeleteOf]] / `Graft.graphDelete`): build the s20 graph on
    * the FULL corpus, delete the vec_id % 10 = 9 slice (the same 10%
    * s26 inserts — the maintenance loop closed from both sides), and
    * hash the ENTIRE post-delete edge list — severed paths stitched
    * p→d→x per FreshDiskANN, untouched nodes bit-identical — so the
    * oracle replays build AND delete verbatim. Round15bSpec pins that
    * no deleted id survives, untouched lists are bit-identical, and
    * search recall over the consolidated graph stays within noise of a
    * full rebuild on the live corpus. */
  private val s27: Q = (s, dir) => {
    val all = vecs(s, dir)
    val anchors = all.filter(pmod(col("vec_id"), lit(64)) === 0)
    val edges = graft.Checkpoints.stabilize(knnGraphOf(all, anchors, "vec_id", "v", "vec_id", "v",
      r = 8, cellProbes = 2, descentRounds = 1))
    val del = all.filter(pmod(col("vec_id"), lit(10)) === 9)
    graphDeleteOf(all, del, edges, "vec_id", "v", r = 8)
      .select(col("src"), col("dst"), r6(col("cos")).as("cos_sim"))
      .orderBy("src", "dst")
  }

  private val s27Sql: String =
    graphBuildCtes(r = 8, corpusFilter = "TRUE") + ",\n" +
      deleteCtes(delFilter = "vec_id % 10 = 9", edgesCte = "edges",
        corpusCte = "ec", r = 8) + """
SELECT src, dst, round(cos, 6) AS cos_sim FROM dfin ORDER BY src, dst"""

  /** The st17 composed tick oracle: build on vec_id % 10 ≠ 8, DELETE
    * the % 10 = 9 slice (s27's consolidation), beam-search the held-out
    * % 10 = 8 slice over the POST-delete edge list and survivor
    * anchors, then INSERT it (s26's connect/repair) — one CTE tree
    * replaying [[graft.streaming.StreamOps.annIndexTick]]'s
    * delete-then-insert landing composed through the store. */
  val st17ComposedSql: String = materializeCtes(
    graphBuildCtes(r = 8, corpusFilter = "vec_id % 10 <> 8") + s""",
lc AS (SELECT vec_id, v FROM ec WHERE vec_id % 10 <> 9),
sasg AS (SELECT vec_id, cell FROM asg WHERE vec_id % 10 <> 9),
""" + deleteCtes(delFilter = "vec_id % 10 = 9", edgesCte = "edges",
        corpusCte = "ec", r = 8) + ",\n" +
      beamSearchCtes(beam = 4, hops = 3, queryFilter = "vec_id % 10 = 8",
        edgesCte = "dfin", corpusCte = "lc") + "," +
      insertCtes(deltaFilter = "vec_id % 10 = 8", edgesCte = "dfin",
        corpusAsgCte = "sasg") + """
SELECT src, dst, round(cos, 6) AS cos_sim FROM fin ORDER BY src, dst""")

  /** The st18 composed tick oracle — st17's tree EXTENDED BY A THIRD
    * TICK: build on vec_id % 10 ∉ {7, 8}, delete the % 10 = 9 slice +
    * insert the % 10 = 8 slice (tick 1, verbatim st17), then insert
    * the % 10 = 7 slice (tick 2) over the post-insert edge list. The
    * gate COMPACTS the store between ticks 1 and 2 — the oracle has no
    * compaction step because compaction must not change the merged
    * views (the Round16Spec bit-stability law); a compaction that
    * leaked into the index would hash-fail here. Tick 2's search and
    * assignment run against the LIVE corpus/anchors of its time
    * (% 10 ∉ {7, 9} — including tick-1's inserts), exactly what
    * [[graft.streaming.StreamOps.annIndexTick]] recomputes from
    * survivors; its corpus assignment is tick 1's merged view (casg). */
  val st18ComposedSql: String = materializeCtes(
    graphBuildCtes(r = 8, corpusFilter = "vec_id % 10 NOT IN (7, 8)") + s""",
lc AS (SELECT vec_id, v FROM ec WHERE vec_id % 10 <> 9),
sasg AS (SELECT vec_id, cell FROM asg WHERE vec_id % 10 <> 9),
""" + deleteCtes(delFilter = "vec_id % 10 = 9", edgesCte = "edges",
        corpusCte = "ec", r = 8) + ",\n" +
      beamSearchCtes(beam = 4, hops = 3, queryFilter = "vec_id % 10 = 8",
        edgesCte = "dfin", corpusCte = "lc") + "," +
      insertCtes(deltaFilter = "vec_id % 10 = 8", edgesCte = "dfin",
        corpusAsgCte = "sasg") + s""",
lc2 AS (SELECT vec_id, v FROM e WHERE vec_id % 10 NOT IN (7, 9)),
cents2 AS (SELECT vec_id AS c_id, v AS cv FROM lc2 WHERE vec_id % 64 = 0),
""" + beamSearchCtes(beam = 4, hops = 3, queryFilter = "vec_id % 10 = 7",
        edgesCte = "fin", corpusCte = "lc2", suffix = "2") + "," +
      insertCtes(deltaFilter = "vec_id % 10 = 7", edgesCte = "fin",
        corpusAsgCte = "casg", centsCte = "cents2", suffix = "2") + """
SELECT src, dst, round(cos, 6) AS cos_sim FROM fin2 ORDER BY src, dst""")

  /** #26y MMR diversified re-ranking (Carbonell & Goldstein 1998) —
    * the retrieval-quality stage between ANN search and the user: from
    * each query's VERIFIED brute-force top-20, greedily select K docs
    * maximizing λ·rel(d) − (1−λ)·max_{s∈selected} cos(d, s) with
    * λ = 0.7, ties by vec_id (the first pick is pure argmax rel — the
    * second term has no support yet). The scale split: candidate
    * generation is the corpus-scaled, broadcast-query s01 path; the
    * greedy re-rank then runs on BOUNDED per-query sets (20 candidates)
    * as K−1 unrolled relational rounds (anti-join the picked set →
    * max-sim against it → window argmax), each a tiny joins-on-20-rows
    * stage localCheckpoint'd so the plan doesn't deepen quadratically —
    * the kmeans/BPE bounded-iteration contract, never a driver-side
    * collect. Every cosine is the same native `graft_cosine` the
    * oracle replays via the three-accumulator seqCosine; scores
    * combine in one fixed expression (0.7·rel − 0.3·maxsim) both
    * sides, so all K selections are hash-proven. */
  private val s22: Q = (s, dir) => {
    val all = vecs(s, dir)
    val n = 20
    val cand = graft.Checkpoints.stabilize(
      graft.Graft.knnBrute(all, all.filter(col("vec_id") < 5), "vec_id", "v", n)
        .select(col("q_id"), col("vec_id"), col("cos_sim").as("rel"))
        .join(all, Seq("vec_id"))
        .select(col("q_id"), col("vec_id"), col("rel"), col("v")))
    val wPick = Window.partitionBy(col("q_id"))
      .orderBy(col("__score").desc, col("vec_id"))
    def pick(scored: DataFrame, round: Int): DataFrame =
      scored.withColumn("__rn", row_number().over(wPick))
        .filter(col("__rn") === 1)
        .select(col("q_id"), lit(round.toLong).as("round"), col("vec_id"),
          col("rel"), col("__score").as("mmr_score"), col("v"))
    var acc = graft.Checkpoints.stabilize(
      pick(cand.withColumn("__score", lit(0.7) * col("rel")), 1))
    for (t <- 2 to K) {
      val rem = cand.join(acc.select(col("q_id"), col("vec_id")),
        Seq("q_id", "vec_id"), "left_anti")
      val ms = rem.select(col("q_id"), col("vec_id"), col("v"))
        .join(acc.select(col("q_id"), col("v").as("__sv")), Seq("q_id"))
        .select(col("q_id"), col("vec_id"), expr("graft_cosine(v, __sv)").as("__sim"))
        .groupBy(col("q_id"), col("vec_id")).agg(max(col("__sim")).as("__maxsim"))
      val scored = rem.join(ms, Seq("q_id", "vec_id"))
        .withColumn("__score", lit(0.7) * col("rel") - lit(0.3) * col("__maxsim"))
      acc = graft.Checkpoints.stabilize(acc.unionByName(pick(scored, t)))
    }
    acc.select(col("q_id"), col("round"), col("vec_id"),
        r6(col("mmr_score")).as("mmr_score"), r6(col("rel")).as("rel"))
      .orderBy("q_id", "round")
  }

  private val s22Sql: String = {
    def round(t: Int): String =
      s"""rem$t AS (SELECT c.* FROM cand c LEFT JOIN acc${t - 1} a
         |    ON c.q_id = a.q_id AND c.vec_id = a.vec_id WHERE a.vec_id IS NULL),
         |ms$t AS (SELECT r.q_id, r.vec_id, max(${graft.OracleSql.seqCosine("r.v", "a.v", 64)}) AS maxsim
         |  FROM rem$t r JOIN acc${t - 1} a ON r.q_id = a.q_id GROUP BY r.q_id, r.vec_id),
         |sc$t AS (SELECT r.q_id, r.vec_id, r.rel, r.v,
         |    0.7 * r.rel - 0.3 * m.maxsim AS score
         |  FROM rem$t r JOIN ms$t m ON r.q_id = m.q_id AND r.vec_id = m.vec_id),
         |sel$t AS (SELECT q_id, $t AS round, vec_id, rel, score AS mmr_score, v FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id) AS rn
         |    FROM sc$t) WHERE rn = 1),
         |acc$t AS MATERIALIZED (SELECT * FROM acc${t - 1} UNION ALL SELECT * FROM sel$t)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |c0 AS (SELECT q.q_id, e.vec_id, ${duckCos("qv", "v")} AS rel, e.v
       |  FROM q JOIN e ON e.vec_id <> q.q_id),
       |cand AS MATERIALIZED (SELECT q_id, vec_id, rel, v FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY rel DESC, vec_id) AS rn
       |    FROM c0) WHERE rn <= 20),
       |acc1 AS MATERIALIZED (SELECT q_id, 1 AS round, vec_id, rel, 0.7 * rel AS mmr_score, v FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY 0.7 * rel DESC, vec_id) AS rn
       |    FROM cand) WHERE rn = 1),
       |${(2 to K).map(round).mkString(",\n")}
       |SELECT q_id, CAST(round AS BIGINT) AS round, vec_id,
       |  round(mmr_score, 6) AS mmr_score, round(rel, 6) AS rel
       |FROM acc$K
       |ORDER BY q_id, round""".stripMargin
  }

  private val s03Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sk AS (SELECT vec_id, v, ${DedupOps.sketchDuck} AS sketch FROM e),
       |bands AS (SELECT vec_id, v, sketch, c.c AS c, (sketch >> CAST(6*c.c AS INTEGER)) & 63 AS chunk
       |  FROM sk, range(0, 4) c(c)),
       |q AS (SELECT vec_id AS q_id, v AS qv, c, chunk FROM bands WHERE vec_id < 5),
       |p AS (SELECT q.q_id, b.vec_id, max(${duckCos("qv", "v")}) AS cosv
       |  FROM bands b JOIN q ON b.c = q.c AND b.chunk = q.chunk AND b.vec_id <> q.q_id
       |  GROUP BY q.q_id, b.vec_id),
       |r AS (SELECT q_id, vec_id, cosv,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosv DESC, vec_id) AS BIGINT) AS rank
       |  FROM p)
       |SELECT q_id, rank, vec_id, round(cosv, 6) AS cos_sim
       |FROM r WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin

  /** Product-quantization ANN over ANY (id, vector) corpus/query
    * tables (public operator behind [[graft.Graft.annPq]]) — the
    * third ANN scale path next to IVF and LSH, and the one that
    * compresses the CORPUS: each vector is stored as `m` small codes
    * (one byte each at kCodes ≤ 256) instead of `dims` doubles — a
    * 64-double corpus row becomes 4 ints here (128× smaller index).
    * Subspace `j` covers dims [j·dims/m, (j+1)·dims/m); its codebook
    * is the corresponding slice of the `kCodes` smallest-id rows of
    * `codebooks` (the deterministic init; [[kmeansOf]] per subspace
    * is the production codebook trainer). Encoding is MAP-ONLY
    * (codebooks are driver state shipped as literals, the [[kmeansOf]]
    * shape); queries score candidates by ADC — the sum of per-subspace
    * L2² between the query slice and each stored code's codeword,
    * read from a BROADCAST queries×m×kCodes lookup table built once —
    * then exact-cosine-confirm the top `k`. Approximate by
    * construction (quantization error); s05's recall eval applies.
    * Returns (q_id, rank, vec_id, adc, cos_sim).
    *
    * Determinism: every L2² is the same ((−2·⟨x,c⟩ + ‖c‖²) + ‖x‖²)
    * sequential-fold form as s04, code ties break to the smaller
    * code, and the ADC sum is a fixed-order 4-term chain (per-join
    * columns, never a hash-agg float sum) — bit-reproducible under
    * any partitioning, which is what lets the DuckDB oracle replay
    * it exactly. */
  def pqAnnOf(corpus: DataFrame, queries: DataFrame, codebooks: DataFrame,
              idCol: String, vecCol: String, dims: Int, m: Int, kCodes: Int,
              k: Int, excludeSelf: Boolean = true): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m must divide dims, got dims=$dims m=$m")
    require(kCodes >= 1 && k >= 1, s"kCodes and k must be >= 1, got $kCodes/$k")
    val sub = dims / m
    def sqlArr(cv: Seq[Double]): String =
      cv.map(x => s"${x}D").mkString("array(", ", ", ")")
    // codebooks: kCodes × m subspace slices, driver state (≤ 256·dims
    // doubles) shipped into literals — the kmeansOf centroid shape
    val cb: Seq[(Int, Seq[Double])] = codebooks
      .select(col(idCol).cast("long").as("__cid"), col(vecCol).cast("array<double>").as("__cv"))
      .orderBy(col("__cid")).collect().toSeq
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1)) }
    // no .limit before the require: an oversized codebooks table must
    // fail loudly, not be silently truncated by id order (kCodes-sized
    // by contract, so the collect stays driver-tiny)
    require(cb.length == kCodes, s"codebooks must supply $kCodes rows, got ${cb.length}")
    def slices(j: Int): Seq[(Int, Seq[Double])] =
      cb.map { case (c, v) => (c, v.slice(j * sub, (j + 1) * sub)) }
    // ((−2·⟨x,c⟩) + ‖c‖²) + ‖x‖² — the s04 op order, c² folded on the driver
    def d2(xSql: String, cv: Seq[Double]): Column = {
      val c2 = cv.foldLeft(0.0)((s, x) => s + x * x)
      (lit(-2.0) * expr(s"graft_dot($xSql, ${sqlArr(cv)})") + lit(c2)) +
        expr(s"graft_dot($xSql, $xSql)")
    }
    def xSql(vecName: String, j: Int) = s"slice($vecName, ${j * sub + 1}, $sub)"
    // encode: per subspace, the argmin code — map-only over the corpus
    def codeCol(vecName: String, j: Int): Column =
      least(slices(j).map { case (c, cv) =>
        struct(d2(xSql(vecName, j), cv).as("d2"), lit(c).as("c"))
      }: _*).getField("c")
    val enc = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("__v"))
      .select(Seq(col("vec_id"), col("__v")) ++
        (0 until m).map(j => codeCol("__v", j).as(s"__c$j")): _*)
    // ADC lookup: queries × m × kCodes rows, built once and broadcast
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).cast("array<double>").as("__qv"))
    val lookup = q.select(col("q_id"), col("__qv"),
        explode(array((0 until m).flatMap(j => slices(j).map { case (c, cv) =>
          struct(lit(j).as("j"), lit(c).as("c"), d2(xSql("__qv", j), cv).as("l"))
        }): _*)).as("__jcl"))
      .select(col("q_id"), col("__jcl.j").as("__j"), col("__jcl.c").as("__c"),
        col("__jcl.l").as("__l"))
    val scored = (0 until m).foldLeft(enc) { (cur, j) =>
      val lj = broadcast(lookup.filter(col("__j") === j)
        .select(col("q_id"), col("__c").as(s"__c$j"), col("__l").as(s"__l$j")))
      cur.join(lj, if (j == 0) Seq(s"__c$j") else Seq("q_id", s"__c$j"))
    }
    val adc = (1 until m).foldLeft(col("__l0"): Column)((a, j) => a + col(s"__l$j"))
    val wRank = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    scored
      .filter(if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true))
      .withColumn("adc", adc)
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .join(q.select(col("q_id"), col("__qv")), Seq("q_id"))
      .withColumn("cos_sim", expr("graft_cosine(__qv, __v)"))
      .select(col("q_id"), col("rank"), col("vec_id"), col("adc"), col("cos_sim"))
  }

  /** Lloyd's k-means over ANY (id, vector) table (public operator
    * behind [[graft.Graft.kmeans]]): deterministic init (the k
    * smallest-id vectors), `iters` assign→update rounds, then a final
    * assignment against the trained centroids. Returns one row per
    * input vector: (id, cluster, dist2).
    *
    * Scale shape: every round is one corpus scan joined to a BROADCAST
    * k-row centroid table (k·dims doubles — always tiny) and one
    * k-row aggregate; nothing corpus-sized ever shuffles on a
    * non-key, and rounds compose as a linear plan chain. Centroid
    * components are floor-rounded to 6 dp between rounds: the per-
    * cluster mean is a hash-order float sum, and the rounding is what
    * pins both engines (and any two cluster layouts) to identical
    * centroid bits before the next round. Empty clusters drop out
    * (their centroid has no rows to average — standard Lloyd's). */
  def kmeansOf(vecs: DataFrame, idCol: String, vecCol: String, dims: Int,
               k: Int, iters: Int): DataFrame = {
    val trained = kmeansCentroidsOf(vecs, idCol, vecCol, dims, k, iters)
    kmeansAssignOf(vecs, idCol, vecCol, trained)
      .select(col("__id").as(idCol), col("__cid").as("cluster"), col("__d2").as("dist2"))
  }

  private def kmPrep(vecs: DataFrame, idCol: String, vecCol: String): DataFrame =
    vecs.select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__v2", expr("graft_dot(__v, __v)"))

  // Centroids are ALGORITHM STATE, not data: k·dims doubles live on
  // the driver and ship to executors as literals (the Spark MLlib
  // k-means shape). Each round is then one map-only corpus scan —
  // no join, no window — plus a k-row aggregate whose map-side
  // combine shuffles k·dims partial sums, never the corpus. The
  // argmin evaluates d2 = ((−2·⟨v,c⟩) + |c|²) + |v|² with the
  // native sequential-fold dot kernel: |c|² folds on the DRIVER
  // (same op order as the oracle's seqDot(cv,cv)) and |v|² is one
  // kernel call per row — ~k× less expression tree than unrolled
  // (v−c)² and measured ~3× faster end to end.
  private def kmBest(cents: Seq[(Any, Seq[Double])]): Column = {
    def sqlArr(cv: Seq[Double]): String =
      cv.map(x => s"${x}D").mkString("array(", ", ", ")")
    val structs = cents.map { case (cid, cv) =>
      val c2 = cv.foldLeft(0.0)((s, x) => s + x * x)
      val d2 = (lit(-2.0) * expr(s"graft_dot(__v, ${sqlArr(cv)})") + lit(c2)) + col("__v2")
      struct(d2.as("d2"), lit(cid).as("cid"))
    }
    // `least` requires >= 2 args; clusters can collapse to one when
    // every point assigns to a single centroid (duplicate-heavy data)
    if (structs.sizeIs == 1) structs.head else least(structs: _*)
  }

  /** Map-only nearest-centroid assignment against a literal centroid
    * set: (__id, __v, __cid, __d2) per input vector. */
  private[graft] def kmeansAssignOf(vecs: DataFrame, idCol: String, vecCol: String,
                                    cents: Seq[(Any, Seq[Double])]): DataFrame =
    kmPrep(vecs, idCol, vecCol).withColumn("__best", kmBest(cents))
      .select(col("__id"), col("__v"),
        col("__best.cid").as("__cid"), col("__best.d2").as("__d2"))

  /** The Lloyd's training loop alone — the trained centroid table as
    * driver state (k·dims doubles), for callers that assign OTHER
    * tables against a frozen index ([[indexDriftOf]]). */
  private[graft] def kmeansCentroidsOf(vecs: DataFrame, idCol: String, vecCol: String,
                                       dims: Int, k: Int, iters: Int): Seq[(Any, Seq[Double])] = {
    require(k >= 1 && iters >= 0, s"k >= 1 and iters >= 0 required, got k=$k iters=$iters")
    val init: Seq[(Any, Seq[Double])] =
      kmPrep(vecs, idCol, vecCol).orderBy(col("__id")).limit(k).collect()
        .map(r => (r.get(0), r.getSeq[Double](1))).toSeq
    (0 until iters).foldLeft(init) { (cents, _) =>
      kmeansAssignOf(vecs, idCol, vecCol, cents)
        .groupBy(col("__cid"))
        .agg(array((0 until dims).map(i => r6(avg(col("__v").getItem(i)))): _*).as("__cv"))
        .collect().map(r => (r.get(0), r.getSeq[Double](1))).toSeq
    }
  }

  /** IVF index-FRESHNESS drift monitor (public operator behind
    * [[graft.Graft.indexDrift]]) — the when-do-I-retrain gate every
    * production vector index needs (FAISS/Milvus re-index policy):
    * train centroids on the INDEX-TIME corpus only, assign BOTH the
    * index corpus and the newly-arriving batch against those frozen
    * centroids (map-only — the s02 scale contract: centroids
    * broadcast as literals, the corpus never shuffles), then per
    * cell compare occupancy: counts, add-1-smoothed shares (the
    * ds19 PSI discipline — deterministic, never an epsilon float),
    * the per-cell PSI contribution, the total PSI on every row, and
    * each side's quantization cost (sum of squared distance to the
    * assigned centroid — rising cost on the new side means the
    * centroids no longer fit arriving data even where occupancy
    * holds). PSI > 0.25 or cost growth ⇒ retrain.
    *
    * Scale shape: two map-only scans + two ≤k-row aggregates + a
    * k-row join/window chain — nothing corpus-sized shuffles; at
    * 100 TB the training pass runs on a sample (the s08 rule) and
    * everything downstream is unchanged. Determinism: counts are
    * integers, shares integer-derived, the PSI fold runs in cell
    * order (q31 rule); cost sums are hash-order doubles pinned by
    * r4 AT the aggregate boundary (the s04 inertia precedent). */
  def indexDriftOf(index: DataFrame, batch: DataFrame, idCol: String,
                   vecCol: String, dims: Int, k: Int, iters: Int): DataFrame = {
    val cents = kmeansCentroidsOf(index, idCol, vecCol, dims, k, iters)
    val kCells = cents.size
    def side(df: DataFrame, n: String, c: String): DataFrame =
      kmeansAssignOf(df, idCol, vecCol, cents)
        .groupBy(col("__cid").as("cluster"))
        .agg(count(lit(1)).as(n), r4(sum(col("__d2"))).as(c))
    // The cells frame must carry the id column's ACTUAL type (cluster
    // ids are vector ids): an Int/String-id corpus used to throw a
    // ClassCastException here via asInstanceOf[Long]. Build the k-row
    // local frame against the real DataType; the public long contract
    // is applied once, in the final select's cast.
    val frame = {
      import scala.jdk.CollectionConverters._
      val idType = index.schema(idCol).dataType
      index.sparkSession.createDataFrame(
        cents.map(c => Row(c._1)).asJava,
        StructType(Seq(StructField("cluster", idType, nullable = true))))
    }
    val ordC = Window.orderBy(col("cluster"))
    val cumC = ordC.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val allC = ordC.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val nIdxT = sum(col("n_index")).over(allC)
    val nNewT = sum(col("n_new")).over(allC)
    val p = (col("n_index").cast("double") + 1.0) / (nIdxT.cast("double") + lit(kCells.toDouble))
    val q = (col("n_new").cast("double") + 1.0) / (nNewT.cast("double") + lit(kCells.toDouble))
    frame
      .join(side(index, "n_index", "cost_index"), Seq("cluster"), "left")
      .join(side(batch, "n_new", "cost_new"), Seq("cluster"), "left")
      .na.fill(0L, Seq("n_index", "n_new"))
      .na.fill(0.0, Seq("cost_index", "cost_new"))
      .withColumn("p_index", p)
      .withColumn("p_new", q)
      .withColumn("contrib", (col("p_index") - col("p_new")) * log(col("p_index") / col("p_new")))
      .withColumn("__cpsi", sum(col("contrib")).over(cumC))
      .withColumn("psi", last(col("__cpsi")).over(allC))
      .select(col("cluster").cast("long").as("cluster"),
        col("n_index").cast("long").as("n_index"),
        col("n_new").cast("long").as("n_new"),
        col("p_index"), col("p_new"), col("contrib"), col("psi"),
        col("cost_index"), col("cost_new"))
  }

  /** #26c k-means training AS a query: k=8, 2 Lloyd rounds, per-cluster
    * size + inertia (the IVF centroid-training pass s02 presupposes). */
  private val s04: Q = (s, dir) =>
    kmeansOf(vecs(s, dir), "vec_id", "v", dims = 64, k = 8, iters = 2)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_points"), r4(sum(col("dist2"))).as("inertia"))
      .orderBy("cluster")

  private val s04Sql = {
    // ((−2·⟨v,c⟩) + |c|²) + |v|², every dot a sequential fold — the
    // exact op order of the Spark side (graft_dot kernel + the
    // driver's foldLeft for |c|²; 0.0+x₁ ≡ x₁ makes the init-less
    // list_reduce identical)
    def d2(a: String, b: String) =
      s"(((-2.0 * ${graft.OracleSql.seqDot(a, b, 64)}) + ${graft.OracleSql.seqDot(b, b, 64)}) + ${graft.OracleSql.seqDot(a, a, 64)})"
    val cvAvg = (1 to 64).map(i => s"floor(avg(v[$i]) * 1000000.0 + 0.5) / 1000000.0")
      .mkString("list_value(", ", ", ")")
    def round_(prev: String, out: String) =
      s"""a$out AS (SELECT vec_id, v, c_id, ${d2("v", "cv")} AS d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ${d2("v", "cv")}, c_id) AS rn
         |  FROM e CROSS JOIN c$prev),
         |m$out AS (SELECT vec_id, v, c_id, d2 FROM a$out WHERE rn = 1),
         |c$out AS (SELECT c_id, $cvAvg AS cv FROM m$out GROUP BY c_id)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
       |${round_("0", "1")},
       |${round_("1", "2")},
       |af AS (SELECT vec_id, c_id, ${d2("v", "cv")} AS d2,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ${d2("v", "cv")}, c_id) AS rn
       |  FROM e CROSS JOIN c2)
       |SELECT c_id AS cluster, count(*) AS n_points, round(sum(d2), 4) AS inertia
       |FROM af WHERE rn = 1
       |GROUP BY c_id
       |ORDER BY cluster""".stripMargin
  }

  /** #26d IVF index-freshness drift AS a query: centroids trained on
    * the even-vec_id half only (the frozen index), the odd half is
    * the arriving batch (the ds14/ds19 deterministic two-version
    * carve), per-cell occupancy PSI + quantization cost both sides
    * ([[indexDriftOf]]). */
  private val s25: Q = (s, dir) => {
    val all = vecs(s, dir)
    indexDriftOf(all.filter(col("vec_id") % 2 === 0),
        all.filter(col("vec_id") % 2 === 1), "vec_id", "v",
        dims = 64, k = 8, iters = 2)
      .select(col("cluster"), col("n_index"), col("n_new"),
        r6(col("p_index")).as("p_index"), r6(col("p_new")).as("p_new"),
        r6(col("contrib")).as("contrib"), r6(col("psi")).as("psi"),
        col("cost_index"), col("cost_new"))
      .orderBy("cluster")
  }

  /** The oracle replays the even-half Lloyd training (the s04 CTE
    * chain restricted to even vec_ids), assigns BOTH halves against
    * the trained centroids, and reproduces the add-1-smoothed PSI
    * fold in cell order plus the r4-pinned cost sums. */
  private val s25Sql = {
    def d2(a: String, b: String) =
      s"(((-2.0 * ${graft.OracleSql.seqDot(a, b, 64)}) + ${graft.OracleSql.seqDot(b, b, 64)}) + ${graft.OracleSql.seqDot(a, a, 64)})"
    val cvAvg = (1 to 64).map(i => s"floor(avg(v[$i]) * 1000000.0 + 0.5) / 1000000.0")
      .mkString("list_value(", ", ", ")")
    def round_(prev: String, out: String) =
      s"""a$out AS (SELECT vec_id, v, c_id, ${d2("v", "cv")} AS d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ${d2("v", "cv")}, c_id) AS rn
         |  FROM e CROSS JOIN c$prev),
         |m$out AS (SELECT vec_id, v, c_id, d2 FROM a$out WHERE rn = 1),
         |c$out AS (SELECT c_id, $cvAvg AS cv FROM m$out GROUP BY c_id)""".stripMargin
    def assignCte(src: String, out: String) =
      s"""$out AS (SELECT vec_id, c_id, ${d2("v", "cv")} AS d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ${d2("v", "cv")}, c_id) AS rn
         |  FROM $src CROSS JOIN c2)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE vec_id % 2 = 0),
       |en AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |  WHERE vec_id % 2 = 1),
       |c0 AS (SELECT vec_id AS c_id, v AS cv FROM e ORDER BY vec_id LIMIT 8),
       |${round_("0", "1")},
       |${round_("1", "2")},
       |kc AS (SELECT count(*) AS kcells FROM c2),
       |${assignCte("e", "ai")},
       |${assignCte("en", "an")},
       |gi AS (SELECT c_id, count(*) AS n_index, round(sum(d2), 4) AS cost_index
       |  FROM ai WHERE rn = 1 GROUP BY c_id),
       |gn AS (SELECT c_id, count(*) AS n_new, round(sum(d2), 4) AS cost_new
       |  FROM an WHERE rn = 1 GROUP BY c_id),
       |j AS (SELECT c2.c_id AS cluster,
       |    coalesce(gi.n_index, 0) AS n_index, coalesce(gn.n_new, 0) AS n_new,
       |    coalesce(gi.cost_index, 0.0) AS cost_index,
       |    coalesce(gn.cost_new, 0.0) AS cost_new
       |  FROM c2 LEFT JOIN gi ON gi.c_id = c2.c_id
       |          LEFT JOIN gn ON gn.c_id = c2.c_id),
       |tt AS (SELECT j.*, kc.kcells,
       |    sum(n_index) OVER () AS ti, sum(n_new) OVER () AS tn
       |  FROM j CROSS JOIN kc),
       |ps AS (SELECT *,
       |    (CAST(n_index AS DOUBLE) + 1.0) / (CAST(ti AS DOUBLE) + CAST(kcells AS DOUBLE)) AS p_index,
       |    (CAST(n_new AS DOUBLE) + 1.0) / (CAST(tn AS DOUBLE) + CAST(kcells AS DOUBLE)) AS p_new
       |  FROM tt),
       |cb AS (SELECT *, (p_index - p_new) * ln(p_index / p_new) AS contrib FROM ps),
       |f AS (SELECT *, sum(contrib) OVER (ORDER BY cluster
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cpsi FROM cb)
       |SELECT cluster, n_index, n_new,
       |  round(p_index, 6) AS p_index, round(p_new, 6) AS p_new,
       |  round(contrib, 6) AS contrib,
       |  round(last_value(cpsi) OVER (ORDER BY cluster
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 6) AS psi,
       |  cost_index, cost_new
       |FROM f
       |ORDER BY cluster""".stripMargin
  }

  /** ROC-AUC of a score column against a boolean label (public
    * operator behind [[graft.Graft.aucScore]]) — the ranking-quality
    * number a filtering classifier is actually judged by (the cut
    * threshold moves with the budget; the RANKING is the model). Uses
    * the Mann–Whitney rank-sum identity:
    *   AUC = (Σ ranks(positives) − nPos(nPos+1)/2) / (nPos·nNeg)
    * with ranks over the (score, tie) TOTAL order, so the rank sum is
    * exact integer arithmetic in decimal(38,0) (the q64 rule:
    * deterministic at any parallelism, no Long cliff) and the only
    * float op is the final division. The global rank is DISTRIBUTED:
    * score-range buckets on exact min/max + per-bucket window ranks +
    * broadcast bucket offsets — never a partitionless window (which
    * funnels the corpus through one task). Score ties across classes
    * resolve by the tie column (tie-broken AUC, not midrank-corrected
    * — note this if scores are coarse). */
  def aucOf(df: DataFrame, scoreCol: String, labelCol: String,
            tieCol: String, buckets: Int = 256): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    // three passes (stats, offsets, rank)
    val in = graft.Checkpoints.stabilize(df.select(col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("boolean").as("__y"), col(tieCol).as("__tie"))
      .filter(col("__s").isNotNull && !isnan(col("__s")) && col("__y").isNotNull))
    try {
      // DISTRIBUTED exact global rank — never a partitionless window
      // (that funnels the corpus through ONE task): range-bucket by
      // score on exact min/max, rank within buckets, add broadcast
      // per-bucket offsets. Bucket cuts compare on score alone, so
      // score ties always share a bucket and the (score, tie) order is
      // globally exact; skewed buckets are correct (AQE splits them).
      val r = in.agg(min(col("__s")), max(col("__s"))).collect()(0)
      require(!r.isNullAt(0),
        "aucOf: no rows with non-null, non-NaN score and non-null label")
      val (lo, hi) = (r.getDouble(0), r.getDouble(1))
      val width = if (hi > lo) (hi - lo) / buckets else 1.0
      val bucket = least(lit(buckets - 1), greatest(lit(0),
        floor((col("__s") - lit(lo)) / lit(width)).cast("int"))).as("__b")
      val withB = in.withColumn("__b", bucket)
      val counts = withB.groupBy(col("__b")).agg(count(lit(1)).as("c"))
        .collect().map(x => x.getInt(0) -> x.getLong(1)).toMap
      val offsets = (0 until buckets).scanLeft(0L) {
        (acc, b) => acc + counts.getOrElse(b, 0L)
      }
      val offCol = element_at(
        map_from_arrays(
          array((0 until buckets).map(lit): _*),
          array((0 until buckets).map(b => lit(offsets(b))): _*)),
        col("__b"))
      val rnk = offCol + row_number().over(
        Window.partitionBy(col("__b")).orderBy(col("__s"), col("__tie"))).cast("long")
      // the one-row result outlives in's storage
      graft.Checkpoints.stabilize(withB
        .withColumn("__r", rnk)
        .agg(
          sum(when(col("__y"), 1L).otherwise(0L)).as("n_pos"),
          sum(when(!col("__y"), 1L).otherwise(0L)).as("n_neg"),
          sum(when(col("__y"), col("__r")).otherwise(lit(0L)).cast("decimal(38,0)"))
            .as("__rs"))
        .select(col("n_pos"), col("n_neg"),
          when(col("n_pos") > 0 && col("n_neg") > 0,
            (col("__rs").cast("double") -
              col("n_pos").cast("double") * (col("n_pos").cast("double") + lit(1.0)) / lit(2.0)) /
              (col("n_pos").cast("double") * col("n_neg").cast("double")))
            .as("auc")))
    } finally graft.Checkpoints.free(in)
  }

  /** #s11 ROC-AUC of the s09 probe scores against the true ±1 label —
    * the eval row next to the classifier, like s05 next to the ANN
    * family. The oracle re-runs the identical training chain and the
    * integer rank-sum formula over its own global row_number — same
    * total order as the bucketed distributed rank, same sum. */
  private val s11: Q = (s, dir) => {
    val df = t(s, dir, "embeddings")
      .withColumn("y", when(col("label") === 0, 1.0).otherwise(-1.0))
    val scored = linearProbeOf(df, "vec_id", "embedding", "y",
      dims = 64, lr = 0.05, iters = 3)
    aucOf(scored.withColumn("is_pos", col("y") > 0), "score", "is_pos", "id")
      .select(col("n_pos"), col("n_neg"), r6(col("auc")).as("auc"))
  }

  private val s11Sql =
    s"""$probeTrainCte,
       |r AS (
       |  SELECT y > 0 AS yp,
       |    CAST(row_number() OVER (ORDER BY score, vec_id) AS BIGINT) AS rnk
       |  FROM sc),
       |a AS (
       |  SELECT sum(CASE WHEN yp THEN 1 ELSE 0 END) AS n_pos,
       |    sum(CASE WHEN yp THEN 0 ELSE 1 END) AS n_neg,
       |    sum(CASE WHEN yp THEN rnk ELSE 0 END) AS rs
       |  FROM r)
       |SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       |  round(CASE WHEN n_pos > 0 AND n_neg > 0
       |    THEN (CAST(rs AS DOUBLE) -
       |      CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0) /
       |      (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END, 6) AS auc
       |FROM a""".stripMargin

  /** Reliability-diagram calibration bins over ANY scored table (public
    * operator behind [[graft.Graft.calibrationBins]]) — the eval next
    * to [[aucOf]]: AUC measures RANKING, this measures whether the
    * score LEVELS mean what they say. Scores bin into `bins`
    * equal-width buckets over the exact [min, max]; per non-empty bin:
    * (bin, n, n_pos, mean_score, frac_pos) — a well-calibrated score
    * has frac_pos tracking mean_score (after whatever link maps scores
    * to probabilities; for a ±1-margin probe the diagram's monotone
    * shape is the signal). All counts integer-exact; the per-bin score
    * mean is a CUMULATIVE fold in (score, tie) order (the q33 rule —
    * never a hash-agg float sum), so the whole table is
    * bit-reproducible. Stats are one driver-collected min/max row
    * (the aucOf contract); binning and folds are one bin-keyed
    * shuffle. */
  def calibrationOf(df: DataFrame, scoreCol: String, labelCol: String,
                    tieCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 1, s"bins must be >= 1, got $bins")
    val in = graft.Checkpoints.stabilize(df.select(col(scoreCol).cast("double").as("__s"),
        col(labelCol).cast("boolean").as("__y"), col(tieCol).as("__tie"))
      .filter(col("__s").isNotNull && !isnan(col("__s")) && col("__y").isNotNull))
    try {
      val r = in.agg(min(col("__s")), max(col("__s"))).collect()(0)
      require(!r.isNullAt(0),
        "calibrationOf: no rows with non-null, non-NaN score and non-null label")
      val (lo, hi) = (r.getDouble(0), r.getDouble(1))
      val width = if (hi > lo) (hi - lo) / bins else 1.0
      val bin = least(lit(bins - 1), greatest(lit(0),
        floor((col("__s") - lit(lo)) / lit(width)).cast("int"))).as("bin")
      val ord = Window.partitionBy(col("bin")).orderBy(col("__s"), col("__tie"))
      val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      graft.Checkpoints.stabilize(in.withColumn("bin", bin)
        .withColumn("__rn", row_number().over(ord))
        .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("bin"))))
        .withColumn("__np", sum(when(col("__y"), 1L).otherwise(0L)).over(
          Window.partitionBy(col("bin"))))
        .withColumn("__cs", sum(col("__s")).over(cum))
        .filter(col("__rn") === col("__n"))
        .select(col("bin"), col("__n").as("n"), col("__np").as("n_pos"),
          (col("__cs") / col("__n").cast("double")).as("mean_score"),
          (col("__np").cast("double") / col("__n").cast("double")).as("frac_pos"))
        .orderBy("bin"))
    } finally graft.Checkpoints.free(in)
  }

  /** #s14 calibration bins of the s09 probe scores — AUC (s11) says the
    * probe RANKS well; this shows where its margins sit per decile. */
  private val s14: Q = (s, dir) => {
    val df = t(s, dir, "embeddings")
      .withColumn("y", when(col("label") === 0, 1.0).otherwise(-1.0))
    val scored = linearProbeOf(df, "vec_id", "embedding", "y",
      dims = 64, lr = 0.05, iters = 3)
    calibrationOf(scored.withColumn("is_pos", col("y") > 0), "score", "is_pos", "id")
      .select(col("bin"), col("n"), col("n_pos"),
        r6(col("mean_score")).as("mean_score"), r6(col("frac_pos")).as("frac_pos"))
  }

  private val s14Sql =
    s"""$probeTrainCte,
       |mm AS (SELECT min(score) AS lo, max(score) AS hi FROM sc),
       |wd AS (SELECT lo, CASE WHEN hi > lo THEN (hi - lo) / 10 ELSE 1.0 END AS w FROM mm),
       |bb AS (
       |  SELECT vec_id, score, y > 0 AS yp,
       |    least(9, greatest(0, CAST(floor((score - wd.lo) / wd.w) AS INT))) AS bin
       |  FROM sc, wd),
       |f AS (
       |  SELECT bin, score,
       |    row_number() OVER o AS rn,
       |    count(*) OVER (PARTITION BY bin) AS n,
       |    sum(CASE WHEN yp THEN 1 ELSE 0 END) OVER (PARTITION BY bin) AS np,
       |    sum(score) OVER (PARTITION BY bin ORDER BY score, vec_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs
       |  FROM bb
       |  WINDOW o AS (PARTITION BY bin ORDER BY score, vec_id))
       |SELECT bin, CAST(n AS BIGINT) AS n, CAST(np AS BIGINT) AS n_pos,
       |  round(cs / n, 6) AS mean_score,
       |  round(CAST(np AS DOUBLE) / CAST(n AS DOUBLE), 6) AS frac_pos
       |FROM f WHERE rn = n
       |ORDER BY bin""".stripMargin

  /** SemDeDup (Abbas et al. 2023) — semantic dedup with CLUSTER
    * blocking (public operator behind [[graft.Graft.semDedup]]): train
    * k-means on the embedding column, then compare pairs only WITHIN
    * each cluster and drop every vector with a ≥-threshold cosine
    * neighbor of smaller id (greedy keep-lowest-id — deterministic,
    * no iteration). The third blocking scheme in the dedup family:
    * sign-sketch bands (d05) block by random hyperplanes, this blocks
    * by LEARNED structure — near-dups concentrate in one cluster, so
    * k is the knob that bounds pair work (n²/k pairs expected;
    * production runs k large enough that n/k is a comfortable bucket).
    * Returns one row per vector: (id, cluster, is_kept).
    *
    * Drop rule contract (intentional, oracle-matched): a vector drops
    * if ANY smaller-id in-cluster neighbor is ≥ threshold — even one
    * that itself dropped. In a similarity chain a~b~c with a≁c, both
    * b and c drop, so a dropped vector's nearest KEPT representative
    * can be farther than `threshold` (transitive-over-drop, one
    * self-join, fully deterministic). SemDeDup's sequential greedy
    * (compare only against the kept set) guarantees every dropped item
    * a kept ≥-threshold neighbor but is order-serial per cluster; if
    * that stronger guarantee matters downstream, run this op
    * iteratively on the kept set until fixpoint — each pass is the
    * same one-shuffle plan.
    *
    * The assignment table is localCheckpoint'd before the self-join —
    * Spark has no cross-side common-subtree elimination, so the whole
    * k-means train would otherwise run once per join side (the d02
    * signature rule). */
  def semDedupOf(vecs: DataFrame, idCol: String, vecCol: String, dims: Int,
                 k: Int, iters: Int, threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0,1], got $threshold")
    val assigned = kmeansOf(vecs, idCol, vecCol, dims, k, iters)
      .select(col(idCol).as("__id"), col("cluster"))
    val v = vecs.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    val av = graft.Checkpoints.stabilize(assigned.join(v, "__id"))
    val a = av.select(col("__id").as("__ia"), col("cluster"), col("__v").as("__va"))
    val b = av.select(col("__id").as("__ib"), col("cluster"), col("__v").as("__vb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("__ia") < col("__ib"))
      .filter(expr("graft_cosine(__va, __vb)") >= threshold)
      .select(col("__ib").as("__id")).distinct()
      .withColumn("__dup", lit(true))
    av.join(dropped, Seq("__id"), "left")
      .select(col("__id").as(idCol), col("cluster"),
        (coalesce(col("__dup"), lit(false)) === false).as("is_kept"))
  }

  /** #d11 SemDeDup over the embeddings table: the s04 k-means (k=8,
    * 2 rounds) as the blocking structure, cosine ≥ 0.45 within
    * clusters (the d05 testdata threshold), keep-lowest-id. The
    * oracle replays training, assignment, in-cluster pairing and the
    * greedy drop — every double the kernel's exact fold order. */
  private val d11: Q = (s, dir) =>
    semDedupOf(vecs(s, dir), "vec_id", "v", dims = 64, k = 8, iters = 2,
        threshold = 0.45)
      .orderBy("vec_id")

  private val d11Sql = {
    def d2(a: String, b: String) =
      s"(((-2.0 * ${graft.OracleSql.seqDot(a, b, 64)}) + ${graft.OracleSql.seqDot(b, b, 64)}) + ${graft.OracleSql.seqDot(a, a, 64)})"
    val cvAvg = (1 to 64).map(i => s"floor(avg(v[$i]) * 1000000.0 + 0.5) / 1000000.0")
      .mkString("list_value(", ", ", ")")
    def round_(prev: String, out: String) =
      s"""a$out AS (SELECT vec_id, v, c_id, ${d2("v", "cv")} AS d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ${d2("v", "cv")}, c_id) AS rn
         |  FROM e CROSS JOIN c$prev),
         |m$out AS (SELECT vec_id, v, c_id, d2 FROM a$out WHERE rn = 1),
         |c$out AS (SELECT c_id, $cvAvg AS cv FROM m$out GROUP BY c_id)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
       |${round_("0", "1")},
       |${round_("1", "2")},
       |af AS (SELECT vec_id, v, c_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ${d2("v", "cv")}, c_id) AS rn
       |  FROM e CROSS JOIN c2),
       |av AS (SELECT vec_id, v, c_id FROM af WHERE rn = 1),
       |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
       |  FROM av a JOIN av b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
       |  WHERE ${graft.OracleSql.seqCosine("a.v", "b.v", 64)} >= 0.45),
       |drp AS (SELECT DISTINCT ib FROM p)
       |SELECT av.vec_id, av.c_id AS cluster, drp.ib IS NULL AS is_kept
       |FROM av LEFT JOIN drp ON av.vec_id = drp.ib
       |ORDER BY av.vec_id""".stripMargin
  }

  /** Two-stage IVF+PQ ANN over ANY (id, vector) corpus/query tables
    * (public operator behind [[graft.Graft.annIvfPq]]) — the
    * production index architecture (FAISS `IVFx,PQy`): a COARSE
    * quantizer partitions the corpus into max-cosine centroid cells
    * (the s02 machinery) and PQ codes COMPRESS every member (the s06
    * machinery), so search touches only the probed cells' candidates
    * and scores them from codes + a broadcast lookup table — never
    * the raw vectors — with an exact-cosine confirm on the survivors.
    * This is what the two stages exist FOR: IVF bounds the candidate
    * set (n/cells × probes), PQ bounds the bytes per candidate
    * (m codes vs dims floats).
    *
    * Plan shape: centroids and codebooks are driver/broadcast state
    * (k·dims doubles each — the kmeansOf contract); the corpus scans
    * ONCE — cell assignment is the s02 form (k× candidate window per
    * corpus id; the kmeansOf `least(struct…)` argmin is the documented
    * map-only upgrade for large k), the PQ encode is a pure map-only
    * expression on the assigned rows, and the only corpus shuffle is
    * the cell join key; the probed query set and the
    * queries×m×kCodes ADC lookup broadcast. Every L2² is the s04
    * ((−2⟨x,c⟩ + ‖c‖²) + ‖x‖²) sequential-fold form, code ties break
    * to the smaller code, and the ADC sum is a fixed-order m-term
    * chain — bit-reproducible, which is what lets the oracle replay
    * both stages exactly. */
  def ivfPqAnnOf(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
                 codebooks: DataFrame, idCol: String, vecCol: String,
                 dims: Int, m: Int, kCodes: Int, k: Int, probes: Int,
                 excludeSelf: Boolean = true): DataFrame = {
    require(m >= 1 && dims % m == 0, s"m must divide dims, got dims=$dims m=$m")
    require(kCodes >= 1 && k >= 1 && probes >= 1,
      s"kCodes/k/probes must be >= 1, got $kCodes/$k/$probes")
    val sub = dims / m
    def sqlArr(cv: Seq[Double]): String =
      cv.map(x => s"${x}D").mkString("array(", ", ", ")")
    // ---- stage 1: coarse cells (the s02 assignment + probe) ----
    val cents = broadcast(centroids
      .select(col(idCol).as("c_id"), col(vecCol).cast("array<double>").as("cv")))
    val wAssign = Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("c_id"))
    val cells = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("__v"))
      .crossJoin(cents)
      .withColumn("ccos", expr("graft_cosine(__v, cv)"))
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("__v"), col("c_id").as("cell"))
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).cast("array<double>").as("__qv"))
    val wProbe = Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("c_id"))
    val probed = broadcast(q.crossJoin(cents)
      .withColumn("qcos", expr("graft_cosine(__qv, cv)"))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= probes)
      .select(col("q_id"), col("__qv"), col("c_id").as("cell")))
    // ---- stage 2: PQ encode (the s06 machinery, map-only) ----
    val cb: Seq[(Int, Seq[Double])] = codebooks
      .select(col(idCol).cast("long").as("__cid"), col(vecCol).cast("array<double>").as("__cv"))
      .orderBy(col("__cid")).collect().toSeq
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1)) }
    // no .limit before the require: an oversized codebooks table must
    // fail loudly, not be silently truncated by id order (kCodes-sized
    // by contract, so the collect stays driver-tiny)
    require(cb.length == kCodes, s"codebooks must supply $kCodes rows, got ${cb.length}")
    def slices(j: Int): Seq[(Int, Seq[Double])] =
      cb.map { case (c, v) => (c, v.slice(j * sub, (j + 1) * sub)) }
    def d2(xSql: String, cv: Seq[Double]): Column = {
      val c2 = cv.foldLeft(0.0)((s, x) => s + x * x)
      (lit(-2.0) * expr(s"graft_dot($xSql, ${sqlArr(cv)})") + lit(c2)) +
        expr(s"graft_dot($xSql, $xSql)")
    }
    def xSql(vecName: String, j: Int) = s"slice($vecName, ${j * sub + 1}, $sub)"
    def codeCol(vecName: String, j: Int): Column =
      least(slices(j).map { case (c, cv) =>
        struct(d2(xSql(vecName, j), cv).as("d2"), lit(c).as("c"))
      }: _*).getField("c")
    val enc = cells.select(Seq(col("vec_id"), col("__v"), col("cell")) ++
      (0 until m).map(j => codeCol("__v", j).as(s"__c$j")): _*)
    // ---- search: probed-cell candidates scored by ADC lookups ----
    val lookup = q.select(col("q_id"),
        explode(array((0 until m).flatMap(j => slices(j).map { case (c, cv) =>
          struct(lit(j).as("j"), lit(c).as("c"), d2(xSql("__qv", j), cv).as("l"))
        }): _*)).as("__jcl"))
      .select(col("q_id"), col("__jcl.j").as("__j"), col("__jcl.c").as("__c"),
        col("__jcl.l").as("__l"))
    val cand = enc.join(probed, "cell")
      .filter(if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true))
    val scored = (0 until m).foldLeft(cand) { (cur, j) =>
      val lj = broadcast(lookup.filter(col("__j") === j)
        .select(col("q_id"), col("__c").as(s"__c$j"), col("__l").as(s"__l$j")))
      cur.join(lj, Seq("q_id", s"__c$j"))
    }
    val adc = (1 until m).foldLeft(col("__l0"): Column)((a, j) => a + col(s"__l$j"))
    val wRank = Window.partitionBy(col("q_id")).orderBy(col("adc"), col("vec_id"))
    scored
      .withColumn("adc", adc)
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .withColumn("cos_sim", expr("graft_cosine(__qv, __v)"))
      .select(col("q_id"), col("rank"), col("vec_id"), col("cell"),
        col("adc"), col("cos_sim"))
  }

  /** #s18 IVF+PQ: cells from the 8 smallest-id vectors, PQ(m=4,
    * kCodes=8) codes, 2-probe ADC search for queries vec_id < 5. */
  private val s18: Q = (s, dir) => {
    val all = vecs(s, dir)
    ivfPqAnnOf(all, all.filter(col("vec_id") < 5), all.filter(col("vec_id") < 8),
        all.filter(col("vec_id") < 8), "vec_id", "v",
        dims = 64, m = 4, kCodes = 8, k = K, probes = 2)
      .select(col("q_id"), col("rank"), col("vec_id"), col("cell"),
        r6(col("adc")).as("adc"), r6(col("cos_sim")).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  private val s18Sql = {
    def dot16(a: String, b: String) = graft.OracleSql.seqDot(a, b, 16)
    def d2s(x: String, c: String) =
      s"((-2.0 * ${dot16(x, c)}) + ${dot16(c, c)}) + ${dot16(x, x)}"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
       |asg AS (SELECT e.vec_id, e.v, c_id,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${duckCos("v", "cv")} DESC, c_id) AS arn
       |  FROM e CROSS JOIN cents),
       |cells AS (SELECT vec_id, v, c_id AS cell FROM asg WHERE arn = 1),
       |cb AS (SELECT vec_id AS c, v AS cbv FROM e WHERE vec_id < 8),
       |cbs AS (SELECT c, j.j AS j, cbv[(j.j*16+1):(j.j*16+16)] AS scv
       |  FROM cb, range(0, 4) j(j)),
       |es AS (SELECT vec_id, j.j AS j, v[(j.j*16+1):(j.j*16+16)] AS sx
       |  FROM e, range(0, 4) j(j)),
       |pasg AS (SELECT vec_id, es.j, c, ${d2s("sx", "scv")} AS d2
       |  FROM es JOIN cbs ON es.j = cbs.j),
       |codes AS (SELECT vec_id, j, c FROM (
       |    SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
       |    FROM pasg) t WHERE rn = 1),
       |enc AS (SELECT vec_id,
       |    max(CASE WHEN j = 0 THEN c END) AS c0, max(CASE WHEN j = 1 THEN c END) AS c1,
       |    max(CASE WHEN j = 2 THEN c END) AS c2, max(CASE WHEN j = 3 THEN c END) AS c3
       |  FROM codes GROUP BY vec_id),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |pr AS (SELECT q_id, qv, c_id AS cell,
       |    row_number() OVER (PARTITION BY q_id ORDER BY ${duckCos("qv", "cv")} DESC, c_id) AS prn
       |  FROM q CROSS JOIN cents),
       |probes AS (SELECT q_id, qv, cell FROM pr WHERE prn <= 2),
       |cand AS (SELECT p.q_id, p.qv, cells.vec_id, cells.cell, cells.v
       |  FROM cells JOIN probes p USING (cell)
       |  WHERE cells.vec_id <> p.q_id),
       |qs AS (SELECT q_id, j.j AS j, qv[(j.j*16+1):(j.j*16+16)] AS sq
       |  FROM q, range(0, 4) j(j)),
       |ql AS (SELECT q_id, qs.j, c, ${d2s("sq", "scv")} AS l
       |  FROM qs JOIN cbs ON qs.j = cbs.j),
       |sc AS (SELECT cand.q_id, cand.vec_id, cand.cell, cand.qv, cand.v,
       |    (((l0.l + l1.l) + l2.l) + l3.l) AS adc
       |  FROM cand
       |  JOIN enc ON enc.vec_id = cand.vec_id
       |  JOIN ql l0 ON l0.q_id = cand.q_id AND l0.j = 0 AND l0.c = enc.c0
       |  JOIN ql l1 ON l1.q_id = cand.q_id AND l1.j = 1 AND l1.c = enc.c1
       |  JOIN ql l2 ON l2.q_id = cand.q_id AND l2.j = 2 AND l2.c = enc.c2
       |  JOIN ql l3 ON l3.q_id = cand.q_id AND l3.j = 3 AND l3.c = enc.c3),
       |r AS (SELECT q_id, vec_id, cell, qv, v, adc,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT q_id, rank, vec_id, cell, round(adc, 6) AS adc,
       |  round(${duckCos("qv", "v")}, 6) AS cos_sim
       |FROM r WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Reciprocal-rank fusion over ANY ranked candidate lists (public
    * operator behind [[graft.Graft.rrfFuse]]; Cormack et al. 2009) —
    * the standard HYBRID-retrieval combiner: each list contributes
    * 1/(k0 + rank) per id (0 when the id is absent from that list —
    * the full-outer merge), fused = the sum in LIST order. RRF needs
    * no score calibration between systems — only ranks — which is
    * exactly why hybrid lexical+vector search uses it: BM25 scores
    * and cosines live on incomparable scales. Returns the global
    * top-`topK` by (rrf desc, id) with each source rank preserved.
    *
    * Determinism: ranks are integers, each contribution is one
    * divide, and the sum is a fixed left-to-right chain over the
    * lists — never a float agg. Plan shape: the inputs are top-N
    * lists (N rows each — search results, not corpora), so the
    * full-outer merge is N-row joins and the top-k is a TakeOrdered;
    * nothing here scales with the corpus — the searches upstream do,
    * and they are s01/s02/s03/s06/s12/t11's verified plans. */
  def rrfFuseOf(lists: Seq[DataFrame], idCol: String, rankCol: String,
                k0: Int = 60, topK: Int = 10): DataFrame = {
    require(lists.size >= 2, s"rrfFuseOf needs >= 2 lists, got ${lists.size}")
    require(k0 >= 1 && topK >= 1, s"k0 and topK must be >= 1, got $k0/$topK")
    val named = lists.zipWithIndex.map { case (df, i) =>
      df.select(col(idCol).as("id"), col(rankCol).cast("long").as(s"rank_$i")) }
    val joined = named.reduce((a, b) => a.join(b, Seq("id"), "full_outer"))
    val contribs = lists.indices.map(i =>
      coalesce(lit(1.0) / (lit(k0.toDouble) + col(s"rank_$i").cast("double")), lit(0.0)))
    val w = Window.orderBy(col("rrf").desc, col("id"))
    joined.withColumn("rrf", contribs.reduceLeft(_ + _))
      .orderBy(col("rrf").desc, col("id")).limit(topK)
      .withColumn("fused_rank", row_number().over(w).cast("long"))
  }

  /** #s17 hybrid lexical+vector retrieval via RRF: the t11 BM25 top-20
    * (query "spark vector query") fused with the cosine top-20 of
    * query vector 1000 over the corpus slice vec_id < 500 (the gate's
    * doc↔vector pairing) — the two-system shape every production
    * retrieval stack runs; ids found by only one system still rank
    * (the full-outer contract). */
  private val s17: Q = (s, dir) => {
    val lex = graft.ops.TextOps.bm25Of(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "vector", "query"), k1 = 1.2, b = 0.75, topK = 20)
      .select(col("doc_id"), col("rnk").as("rank"))
    val all = vecs(s, dir)
    val vh = graft.Graft.knnBrute(all.filter(col("vec_id") < 500),
        all.filter(col("vec_id") === 1000), "vec_id", "v", 20)
      .select(col("vec_id").as("doc_id"), col("rank"))
    rrfFuseOf(Seq(lex, vh), "doc_id", "rank", k0 = 60, topK = 10)
      .select(col("id").as("doc_id"), col("rank_0").as("lex_rank"),
        col("rank_1").as("vec_rank"), r6(col("rrf")).as("rrf"), col("fused_rank"))
      .orderBy("fused_rank")
  }

  private val s17Sql = {
    val terms = Seq("spark", "vector", "query")
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      s"len(list_filter(ws, x -> x = '$t')) AS tf_$i" }.mkString(",\n       |    ")
    val dfCols = terms.indices.map(i =>
      s"sum(CASE WHEN tf_$i > 0 THEN 1 ELSE 0 END) AS df_$i").mkString(", ")
    val contribs = terms.indices.map(i =>
      s"""ln(1.0 + (n - CAST(df_$i AS DOUBLE) + 0.5) / (CAST(df_$i AS DOUBLE) + 0.5))
         |      * (CAST(tf_$i AS DOUBLE) * 2.2)
         |      / (CAST(tf_$i AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / (sumdl / CAST(n AS DOUBLE))))"""
        .stripMargin).mkString("\n       |    + ")
    s"""WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
       |d AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl,
       |    $tfCols
       |  FROM w WHERE len(ws) > 0),
       |g AS (SELECT count(*) AS n, sum(dl) AS sumdl, $dfCols FROM d),
       |s AS (SELECT doc_id, dl,
       |    $contribs AS score
       |  FROM d, g),
       |lex AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS lex_rank
       |  FROM s WHERE score > 0
       |  QUALIFY lex_rank <= 20),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qv AS (SELECT v AS q FROM e WHERE vec_id = 1000),
       |vc AS (SELECT e.vec_id AS doc_id, ${graft.OracleSql.seqCosine("q", "v", 64)} AS cos
       |  FROM e, qv WHERE e.vec_id < 500),
       |vec AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS vec_rank
       |  FROM vc
       |  QUALIFY vec_rank <= 20),
       |fu AS (
       |  SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id, lex_rank, vec_rank,
       |    coalesce(1.0 / (60.0 + CAST(lex_rank AS DOUBLE)), 0.0)
       |      + coalesce(1.0 / (60.0 + CAST(vec_rank AS DOUBLE)), 0.0) AS rrf
       |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id),
       |r AS (SELECT doc_id, lex_rank, vec_rank, rrf,
       |    CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS fused_rank
       |  FROM fu)
       |SELECT doc_id, lex_rank, vec_rank, round(rrf, 6) AS rrf, fused_rank
       |FROM r WHERE fused_rank <= 10
       |ORDER BY fused_rank""".stripMargin
  }

  /** #p04 the RETRIEVAL pipeline as ONE oracle-checked plan (the
    * similarity-family sibling of p01/p02/p03): the four stages an
    * embedding index actually runs before serving, composed as a user
    * would —
    *   dedup  SemDeDup over the corpus (the d11 rule: k-means blocking,
    *          in-cluster cosine ≥ τ, greedy keep-lowest-id) — the index
    *          must not serve 40 near-copies as 40 "results";
    *   index  IVF cells over the SURVIVORS (the s02 rule, deterministic
    *          centroid init applied to the survivor corpus);
    *   search queries probe their 2 nearest cells, exact-cosine top-K
    *          within them;
    *   eval   recall@K of those hits vs the brute-force top-K over the
    *          SAME survivor set (the s05 rule) — approximate search is
    *          only shippable with its recall measured.
    * One row per hit: (q_id, rank, vec_id, cell, cos_sim) + the
    * per-query recall_at_k and the survivor count n_index (the q28
    * 1-row broadcast), so the DEDUP stage is observable in the output
    * (n_index < corpus) and the WIRING is hash-proven: cells built on
    * survivors, brute baseline on survivors, recall joining the two.
    * The survivor table is localCheckpoint'd once and feeds all three
    * consumers (centroids, cells, brute) — no cross-side recompute of
    * the k-means chain; the hits table likewise (it feeds the output
    * AND the recall join). */
  private val p04: Q = (s, dir) => retrievalPipelineOf(vecs(s, dir))

  /** The p04 retrieval pipeline over ANY (vec_id, v) corpus frame —
    * extracted so the storage layer can be wired underneath it
    * (StorageWiringSpec runs it over a z-ordered parquet corpus and
    * asserts the output is hash-identical to the plain layout while
    * the id-sliced scans prune). */
  def retrievalPipelineOf(all: DataFrame): DataFrame = {
    val sv = graft.Checkpoints.stabilize(all.join(
        semDedupOf(all, "vec_id", "v", dims = 64, k = 8, iters = 2, threshold = 0.45)
          .filter(col("is_kept")).select("vec_id"),
        "vec_id"))
    val q = all.filter(col("vec_id") < 5)
    val hits = graft.Checkpoints.stabilize(
      ivfAnnOf(sv, q, sv.filter(col("vec_id") < 8), "vec_id", "v",
        "vec_id", "v", k = K, probes = 2))
    val brute = graft.Graft.knnBrute(sv, q, "vec_id", "v", K)
      .select(col("q_id"), col("vec_id"))
    val recall = brute
      .join(hits.select(col("q_id"), col("vec_id"), lit(1).as("__hit")),
        Seq("q_id", "vec_id"), "left")
      .groupBy("q_id").agg(count(col("__hit")).as("__n"))
      .select(col("q_id"), r4(col("__n") / lit(K.toDouble)).as("recall_at_k"))
    val n = sv.agg(count(lit(1)).as("n_index"))
    hits.join(broadcast(recall), "q_id")
      .crossJoin(broadcast(n)) // 1-row build side: documented BNLJ
      .select(col("q_id"), col("rank"), col("vec_id"), col("cell"),
        r6(col("cos")).as("cos_sim"), col("recall_at_k"), col("n_index"))
      .orderBy("q_id", "rank")
  }

  private val p04Sql = {
    def d2(a: String, b: String) =
      s"(((-2.0 * ${graft.OracleSql.seqDot(a, b, 64)}) + ${graft.OracleSql.seqDot(b, b, 64)}) + ${graft.OracleSql.seqDot(a, a, 64)})"
    val cvAvg = (1 to 64).map(i => s"floor(avg(v[$i]) * 1000000.0 + 0.5) / 1000000.0")
      .mkString("list_value(", ", ", ")")
    def round_(prev: String, out: String) =
      s"""a$out AS (SELECT vec_id, v, c_id, ${d2("v", "cv")} AS d2,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY ${d2("v", "cv")}, c_id) AS rn
         |  FROM e CROSS JOIN c$prev),
         |m$out AS (SELECT vec_id, v, c_id, d2 FROM a$out WHERE rn = 1),
         |c$out AS (SELECT c_id, $cvAvg AS cv FROM m$out GROUP BY c_id)""".stripMargin
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
       |${round_("0", "1")},
       |${round_("1", "2")},
       |af AS (SELECT vec_id, v, c_id,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY ${d2("v", "cv")}, c_id) AS rn
       |  FROM e CROSS JOIN c2),
       |av AS (SELECT vec_id, v, c_id FROM af WHERE rn = 1),
       |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib
       |  FROM av a JOIN av b ON a.c_id = b.c_id AND a.vec_id < b.vec_id
       |  WHERE ${graft.OracleSql.seqCosine("a.v", "b.v", 64)} >= 0.45),
       |drp AS (SELECT DISTINCT ib FROM p),
       |sv AS (SELECT av.vec_id, av.v FROM av LEFT JOIN drp ON av.vec_id = drp.ib
       |  WHERE drp.ib IS NULL),
       |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_index FROM sv),
       |cents AS (SELECT vec_id AS c_id, v AS cv FROM sv WHERE vec_id < 8),
       |asg AS (SELECT sv.vec_id, sv.v, c_id,
       |    row_number() OVER (PARTITION BY sv.vec_id ORDER BY ${duckCos("v", "cv")} DESC, c_id) AS arn
       |  FROM sv CROSS JOIN cents),
       |cells AS (SELECT vec_id, v, c_id AS cell FROM asg WHERE arn = 1),
       |iq AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |pr AS (SELECT q_id, qv, c_id AS cell,
       |    row_number() OVER (PARTITION BY q_id ORDER BY ${duckCos("qv", "cv")} DESC, c_id) AS prn
       |  FROM iq CROSS JOIN cents),
       |probes AS (SELECT q_id, qv, cell FROM pr WHERE prn <= 2),
       |ic AS (SELECT p.q_id, cells.vec_id, cells.cell, ${duckCos("qv", "v")} AS cos
       |  FROM cells JOIN probes p USING (cell)
       |  WHERE cells.vec_id <> p.q_id),
       |ir AS (SELECT q_id, vec_id, cell, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS BIGINT) AS rank
       |  FROM ic),
       |hits AS (SELECT q_id, rank, vec_id, cell, cos FROM ir WHERE rank <= $K),
       |bc AS (SELECT iq.q_id, sv.vec_id, ${duckCos("qv", "v")} AS cos
       |  FROM iq JOIN sv ON sv.vec_id <> iq.q_id),
       |br AS (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM bc),
       |brute AS (SELECT q_id, vec_id FROM br WHERE rank <= $K),
       |rec AS (SELECT b.q_id,
       |    round(count(h.vec_id) / $K.0, 4) AS recall_at_k
       |  FROM brute b LEFT JOIN hits h ON h.q_id = b.q_id AND h.vec_id = b.vec_id
       |  GROUP BY b.q_id)
       |SELECT h.q_id, h.rank, h.vec_id, h.cell, round(h.cos, 6) AS cos_sim,
       |  rec.recall_at_k, cnt.n_index
       |FROM hits h JOIN rec ON h.q_id = rec.q_id, cnt
       |ORDER BY h.q_id, h.rank""".stripMargin
  }

  /** #26d ANN quality eval AS a query: per-query recall@K of the IVF
    * path (s02) against the exact brute-force baseline (s01) — the
    * measurement every ANN deployment needs before trading exactness
    * for the bucketed plan. Both sides are the already-verified query
    * plans; the join/count runs on (q_id, vec_id) id pairs only, so at
    * 100 TB the eval costs one K-row-per-query join beyond the two
    * searches themselves (and in production the baseline runs on a
    * deterministic md5 sample of queries, not all of them). */
  private val s05: Q = (s, dir) => {
    val brute = s01(s, dir).select(col("q_id"), col("vec_id"))
    val approx = s02(s, dir).select(col("q_id"), col("vec_id"), lit(1).as("__hit"))
    brute.join(approx, Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(count(col("__hit")).as("n_hits"))
      .withColumn("recall", r4(col("n_hits") / lit(K.toDouble)))
      .orderBy("q_id")
  }

  private val s05Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bq AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |bc AS (SELECT bq.q_id, e.vec_id, ${duckCos("qv", "v")} AS cos
       |  FROM bq JOIN e ON e.vec_id <> bq.q_id),
       |br AS (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM bc),
       |brute AS (SELECT q_id, vec_id FROM br WHERE rank <= $K),
       |cents AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
       |asg AS (SELECT e.vec_id, e.v, c_id,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${duckCos("v", "cv")} DESC, c_id) AS arn
       |  FROM e CROSS JOIN cents),
       |cells AS (SELECT vec_id, v, c_id AS cell FROM asg WHERE arn = 1),
       |iq AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |pr AS (SELECT q_id, qv, c_id AS cell,
       |    row_number() OVER (PARTITION BY q_id ORDER BY ${duckCos("qv", "cv")} DESC, c_id) AS prn
       |  FROM iq CROSS JOIN cents),
       |probes AS (SELECT q_id, qv, cell FROM pr WHERE prn <= 2),
       |ic AS (SELECT p.q_id, cells.vec_id, ${duckCos("qv", "v")} AS cos
       |  FROM cells JOIN probes p USING (cell)
       |  WHERE cells.vec_id <> p.q_id),
       |ir AS (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM ic),
       |ivf AS (SELECT q_id, vec_id FROM ir WHERE rank <= $K)
       |SELECT b.q_id, CAST(count(i.vec_id) AS BIGINT) AS n_hits,
       |  round(count(i.vec_id) / $K.0, 4) AS recall
       |FROM brute b LEFT JOIN ivf i ON i.q_id = b.q_id AND i.vec_id = b.vec_id
       |GROUP BY b.q_id
       |ORDER BY b.q_id""".stripMargin

  /** Graded-relevance ranking eval over ANY (truth, candidate) ranked
    * lists (public operator behind [[graft.Graft.rankEval]]) — nDCG@k
    * and MRR (Järvelin & Kekäläinen 2002; the TREC-standard pair), the
    * one row the recall/AUC/calibration eval suite (s05/s11/s14) did
    * not yet cover: recall@k treats every true neighbor equally, while
    * nDCG pays more for placing the BEST neighbors first and MRR
    * scores how soon the first relevant hit appears. Relevance is
    * graded from the exact ranking: a truth-rank-r item earns
    * rel = k+1−r (top hit k, k-th hit 1, miss 0); gains are the
    * standard exponential (2^rel − 1)/log₂(rank+1).
    *
    * Determinism contract (the s21 rule, adapted to floats): rel and
    * ranks are integers; the DCG fold runs in RANK order via a
    * cumulative window (the m08 defined-order-fold trick), log₂ is
    * ln/ln2 with ln2 a single Scala-computed literal in both engines,
    * and IDCG@k — the perfect-ordering constant Σ (2^(k+1−r) − 1)/
    * log₂(r+1) — is ONE Scala double interpolated into both plans, so
    * the oracle replays bit-identical arithmetic.
    *
    * Plan shape: both inputs are (q_id, rank, id) projections of
    * already-ranked searches, so the eval itself joins k-row-per-query
    * id pairs and runs one bounded window per query — at 100 TB the
    * cost is the two searches, not the eval (the s05 contract).
    *
    * @param truth     exact ranking (q_id, rank, idCol), ranks 1..k
    * @param candidate ranking under eval (q_id, rank, idCol)
    * @return (q_id, n_rel_found, mrr, dcg_at_k, ndcg_at_k) */
  def rankEvalOf(truth: DataFrame, candidate: DataFrame, idCol: String,
                 k: Int): DataFrame = {
    require(k >= 1, s"k >= 1 required, got $k")
    val ln2 = math.log(2.0)
    val idcg = idcgAt(k)
    val t = truth.select(col("q_id"), col(idCol),
      (lit(k + 1) - col("rank")).cast("int").as("__rel"))
    val po = Window.partitionBy(col("q_id")).orderBy(col("rank"))
    val cum = po.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    candidate.select(col("q_id"), col("rank"), col(idCol))
      .join(t, Seq("q_id", idCol), "left")
      .withColumn("__rel", coalesce(col("__rel"), lit(0)))
      .withColumn("__gain",
        (pow(lit(2.0), col("__rel").cast("double")) - lit(1.0)) * lit(ln2) /
          log(col("rank").cast("double") + lit(1.0)))
      .withColumn("__dcg", sum(col("__gain")).over(cum))
      .withColumn("__hits", sum(when(col("__rel") > 0, 1).otherwise(0)).over(cum))
      .withColumn("__first",
        min(when(col("__rel") > 0, col("rank"))).over(Window.partitionBy(col("q_id"))))
      .withColumn("__last", lead(col("rank"), 1).over(po).isNull)
      .filter(col("__last"))
      .select(col("q_id"),
        col("__hits").cast("long").as("n_rel_found"),
        coalesce(lit(1.0) / col("__first"), lit(0.0)).as("mrr"),
        col("__dcg").as("dcg_at_k"),
        (col("__dcg") / lit(idcg)).as("ndcg_at_k"))
  }

  /** IDCG@k — DCG of the perfect ordering (rels k..1 at ranks 1..k),
    * left-folded in rank order; the one constant both engines share.
    * Catalyst's Pow/Log evaluate via StrictMath (verified in the 4.1.2
    * bytecode), so this constant uses StrictMath too — the engine's
    * perfect-ranking DCG divides by it to EXACTLY 1.0 (spec-pinned);
    * Math.log differs by an ulp on some args and would leave nDCG at
    * 1±2⁻⁵². ln2 stays the shared math.log literal the gain expression
    * interpolates into both engines. */
  private[graft] def idcgAt(k: Int): Double = {
    val ln2 = math.log(2.0)
    (1 to k).map(r =>
      (StrictMath.pow(2.0, (k + 1 - r).toDouble) - 1.0) * ln2 /
        StrictMath.log(r + 1.0)).sum
  }

  /** #26z graded-relevance retrieval eval AS a query: nDCG@10 and MRR
    * of the IVF path (s02) scored against the exact ranking (s01) —
    * completing the search-eval suite (recall s05, AUC s11,
    * calibration s14, frontier s21) with the TREC-standard graded
    * pair. The oracle replays both searches and the rank-ordered DCG
    * fold as one CTE stack. */
  private val s24: Q = (s, dir) => {
    val brute = s01(s, dir).select(col("q_id"), col("rank"), col("vec_id"))
    val approx = s02(s, dir).select(col("q_id"), col("rank"), col("vec_id"))
    rankEvalOf(brute, approx, "vec_id", K)
      .select(col("q_id"), col("n_rel_found"), r6(col("mrr")).as("mrr"),
        r6(col("dcg_at_k")).as("dcg_at_10"), r6(col("ndcg_at_k")).as("ndcg_at_10"))
      .orderBy("q_id")
  }

  private val s24Sql = {
    val ln2 = math.log(2.0)
    val idcg = idcgAt(K)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bq AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |bc AS (SELECT bq.q_id, e.vec_id, ${duckCos("qv", "v")} AS cos
       |  FROM bq JOIN e ON e.vec_id <> bq.q_id),
       |br AS (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM bc),
       |brute AS (SELECT q_id, vec_id, rank FROM br WHERE rank <= $K),
       |cents AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
       |asg AS (SELECT e.vec_id, e.v, c_id,
       |    row_number() OVER (PARTITION BY e.vec_id ORDER BY ${duckCos("v", "cv")} DESC, c_id) AS arn
       |  FROM e CROSS JOIN cents),
       |cells AS (SELECT vec_id, v, c_id AS cell FROM asg WHERE arn = 1),
       |iq AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |pr AS (SELECT q_id, qv, c_id AS cell,
       |    row_number() OVER (PARTITION BY q_id ORDER BY ${duckCos("qv", "cv")} DESC, c_id) AS prn
       |  FROM iq CROSS JOIN cents),
       |probes AS (SELECT q_id, qv, cell FROM pr WHERE prn <= 2),
       |ic AS (SELECT p.q_id, cells.vec_id, ${duckCos("qv", "v")} AS cos
       |  FROM cells JOIN probes p USING (cell)
       |  WHERE cells.vec_id <> p.q_id),
       |ir AS (SELECT q_id, vec_id,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM ic),
       |ivf AS (SELECT q_id, vec_id, rank FROM ir WHERE rank <= $K),
       |j AS (SELECT i.q_id, i.rank, COALESCE(${K + 1} - b.rank, 0) AS rel
       |  FROM ivf i LEFT JOIN brute b ON b.q_id = i.q_id AND b.vec_id = i.vec_id),
       |g AS (SELECT q_id, rank, rel,
       |    (pow(2.0, CAST(rel AS DOUBLE)) - 1.0) * $ln2 / ln(CAST(rank AS DOUBLE) + 1.0) AS gain
       |  FROM j),
       |w AS (SELECT q_id,
       |    sum(gain) OVER o AS dcg,
       |    sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) OVER o AS hits,
       |    min(CASE WHEN rel > 0 THEN rank END) OVER (PARTITION BY q_id) AS first_hit,
       |    lead(rank, 1) OVER po IS NULL AS is_last
       |  FROM g
       |  WINDOW po AS (PARTITION BY q_id ORDER BY rank),
       |    o AS (PARTITION BY q_id ORDER BY rank
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT q_id, CAST(hits AS BIGINT) AS n_rel_found,
       |  round(COALESCE(CAST(1.0 AS DOUBLE) / first_hit, 0.0), 6) AS mrr,
       |  round(dcg, 6) AS dcg_at_10,
       |  round(dcg / $idcg, 6) AS ndcg_at_10
       |FROM w WHERE is_last
       |ORDER BY q_id""".stripMargin
  }

  /** Matryoshka dimension-truncation recall sweep over ANY (id, vector)
    * corpus/query tables (public operator behind [[graft.Graft.mrlRecall]]) —
    * the eval behind the MRL trade (Kusupati et al. 2022): if the first
    * d dims of an embedding retrieve almost as well as all of them, the
    * index can store d/fullDims of the floats. For every prefix length
    * in `prefixes` (fullDims must be included — it IS the baseline),
    * rank top-`k` by cosine over just that prefix and report
    * (q_id, dims, n_hits, recall) against the full-dim exact top-k.
    *
    * Plan shape: ONE corpus scan computes every prefix cosine per
    * (query, row) pair (queries broadcast — the s01 contract), the
    * (pair × prefixes) fan-out ranks under ONE window shuffle keyed
    * (q_id, dims), and the recall join runs on id pairs only. Cost ≈
    * one brute-force pass regardless of how many prefixes are swept —
    * not |prefixes| passes. */
  def mrlRecallOf(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, fullDims: Int, prefixes: Seq[Int], k: Int,
                  excludeSelf: Boolean = true): DataFrame = {
    require(prefixes.nonEmpty && prefixes.contains(fullDims),
      s"prefixes must include fullDims=$fullDims (the baseline), got $prefixes")
    require(prefixes.forall(d => d >= 1 && d <= fullDims),
      s"every prefix must be in [1, $fullDims], got $prefixes")
    val e = corpus.select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
    val q = broadcast(queries
      .select(col(idCol).as("q_id"), col(vecCol).cast("array<double>").as("qv")))
    val dimCos = array(prefixes.sorted.map(d => struct(lit(d).as("dims"),
      expr(s"graft_cosine(slice(qv, 1, $d), slice(v, 1, $d))").as("cos"))): _*)
    val wRank = Window.partitionBy(col("q_id"), col("dims"))
      .orderBy(col("cos").desc, col("vec_id"))
    val top = e.crossJoin(q)
      .filter(if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true))
      .withColumn("__dc", explode(dimCos))
      .select(col("q_id"), col("vec_id"),
        col("__dc.dims").as("dims"), col("__dc.cos").as("cos"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("dims"), col("vec_id"))
    val base = top.filter(col("dims") === fullDims).select(col("q_id"), col("vec_id"))
    val grid = q.select(col("q_id"),
      explode(array(prefixes.sorted.map(lit): _*)).as("dims"))
    val hits = top.join(base, Seq("q_id", "vec_id"))
      .groupBy(col("q_id"), col("dims")).agg(count(lit(1)).as("n_hits"))
    grid.join(hits, Seq("q_id", "dims"), "left")
      .select(col("q_id"), col("dims"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        r4(coalesce(col("n_hits"), lit(0L)) / lit(k.toDouble)).as("recall"))
      .orderBy("q_id", "dims")
  }

  /** #s13 MRL truncation recall: prefixes 16/32/64 of the 64-dim
    * embeddings, recall@10 vs the full-dim exact top-k. */
  private val s13: Q = (s, dir) => {
    val all = vecs(s, dir)
    mrlRecallOf(all, all.filter(col("vec_id") < 5), "vec_id", "v",
      fullDims = 64, prefixes = Seq(16, 32, 64), k = K)
  }

  private val s13Sql = {
    def pcos(d: Int) = graft.OracleSql.seqCosine("qv", "v", d)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |c AS (SELECT q.q_id, e.vec_id, qv, v FROM q JOIN e ON e.vec_id <> q.q_id),
       |t AS (${Seq(16, 32, 64).map(d =>
            s"""SELECT q_id, vec_id, $d AS dims,
               |    row_number() OVER (PARTITION BY q_id ORDER BY ${pcos(d)} DESC, vec_id) AS rank
               |  FROM c""".stripMargin).mkString("\n  UNION ALL ")}),
       |top AS (SELECT q_id, dims, vec_id FROM t WHERE rank <= $K),
       |base AS (SELECT q_id, vec_id FROM top WHERE dims = 64),
       |grid AS (SELECT q_id, d.dims FROM q, (VALUES (16), (32), (64)) d(dims)),
       |hits AS (SELECT t.q_id, t.dims, count(*) AS n
       |  FROM top t JOIN base b ON b.q_id = t.q_id AND b.vec_id = t.vec_id
       |  GROUP BY t.q_id, t.dims)
       |SELECT g.q_id AS q_id, g.dims AS dims, CAST(coalesce(n, 0) AS BIGINT) AS n_hits,
       |  round(coalesce(n, 0) / $K.0, 4) AS recall
       |FROM grid g LEFT JOIN hits h ON h.q_id = g.q_id AND h.dims = g.dims
       |ORDER BY q_id, dims""".stripMargin
  }

  /** #26e PQ ANN: 4×16-dim subspaces, 8 codewords each (the vec_id<8
    * rows — s02's centroid set as deterministic codebook init), ADC
    * scoring, exact-cosine confirm of the top-10; the oracle replays
    * the identical encode/lookup/4-term-chain pipeline. */
  private val s06: Q = (s, dir) => {
    val all = vecs(s, dir)
    pqAnnOf(all, all.filter(col("vec_id") < 5), all.filter(col("vec_id") < 8),
        "vec_id", "v", dims = 64, m = 4, kCodes = 8, k = K)
      .select(col("q_id"), col("rank"), col("vec_id"),
        r6(col("adc")).as("adc"), r6(col("cos_sim")).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  /** PQ + exact-cosine REFINE (public operator behind
    * [[graft.Graft.annPqRefine]]) — the standard third ANN stage
    * (FAISS's `refine` wrapper): the compressed-domain ADC scan keeps
    * `k·rerankFactor` candidates, then ONLY those are re-ranked by
    * exact cosine against the original vectors. Fixes the PQ ranking
    * errors that flip neighbours whose ADC distances sit inside the
    * quantization error, at the cost of `k·rerankFactor` exact dot
    * products per query — not a corpus scan. Output keeps each hit's
    * `pq_rank` provenance next to its refined `rank`, so the
    * re-ordering the refine bought is visible per row.
    * Plan shape: [[pqAnnOf]] unchanged (map-only encode, broadcast
    * lookup, one rank window) + one more per-query window over
    * k·rerankFactor rows. */
  def pqRefineOf(corpus: DataFrame, queries: DataFrame, codebooks: DataFrame,
                 idCol: String, vecCol: String, dims: Int, m: Int, kCodes: Int,
                 k: Int, rerankFactor: Int = 4): DataFrame = {
    require(rerankFactor >= 1, s"rerankFactor must be >= 1, got $rerankFactor")
    val cand = pqAnnOf(corpus, queries, codebooks, idCol, vecCol,
        dims, m, kCodes, k * rerankFactor)
      .withColumnRenamed("rank", "pq_rank")
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    cand
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("pq_rank"),
        col("cos_sim"), col("adc"))
  }

  /** #26k PQ+refine: the s06 scan widened to 4×k ADC candidates, then
    * exact-cosine re-ranked to the final top-10 — pq_rank vs rank
    * shows each neighbour the compressed ranking misplaced. */
  private val s23: Q = (s, dir) => {
    val all = vecs(s, dir)
    pqRefineOf(all, all.filter(col("vec_id") < 5), all.filter(col("vec_id") < 8),
        "vec_id", "v", dims = 64, m = 4, kCodes = 8, k = K, rerankFactor = 4)
      .select(col("q_id"), col("rank"), col("vec_id"), col("pq_rank"),
        r6(col("cos_sim")).as("cos_sim"), r6(col("adc")).as("adc"))
      .orderBy("q_id", "rank")
  }

  private lazy val s23Sql =
    s"""$pqSqlPrefix,
       |cand AS (
       |  SELECT r.q_id AS q_id, rank AS pq_rank, r.vec_id AS vec_id, adc,
       |    ${duckCos("qv", "v")} AS cos_sim
       |  FROM r JOIN e ON e.vec_id = r.vec_id JOIN q ON q.q_id = r.q_id
       |  WHERE rank <= ${4 * K}),
       |rr AS (
       |  SELECT q_id, vec_id, pq_rank, adc, cos_sim,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rank
       |  FROM cand)
       |SELECT q_id, rank, vec_id, pq_rank,
       |  round(cos_sim, 6) AS cos_sim, round(adc, 6) AS adc
       |FROM rr
       |WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin

  /** Shared candidate chain of the s06/s23 oracles: PQ encode + ADC
    * score + ADC rank, ending at the `r` CTE (extracted verbatim from
    * the s06 oracle so the two stay plan-identical). */
  private val pqSqlPrefix = {
    def dot(a: String, b: String) = graft.OracleSql.seqDot(a, b, 16)
    def d2(x: String, c: String) =
      s"((-2.0 * ${dot(x, c)}) + ${dot(c, c)}) + ${dot(x, x)}"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cb AS (SELECT vec_id AS c, v AS cv FROM e WHERE vec_id < 8),
       |cbs AS (SELECT c, j.j AS j, cv[(j.j*16+1):(j.j*16+16)] AS scv
       |  FROM cb, range(0, 4) j(j)),
       |es AS (SELECT vec_id, j.j AS j, v[(j.j*16+1):(j.j*16+16)] AS sx
       |  FROM e, range(0, 4) j(j)),
       |asg AS (SELECT vec_id, es.j, c, ${d2("sx", "scv")} AS d2
       |  FROM es JOIN cbs ON es.j = cbs.j),
       |codes AS (SELECT vec_id, j, c FROM (
       |    SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn
       |    FROM asg) t WHERE rn = 1),
       |enc AS (SELECT vec_id,
       |    max(CASE WHEN j = 0 THEN c END) AS c0, max(CASE WHEN j = 1 THEN c END) AS c1,
       |    max(CASE WHEN j = 2 THEN c END) AS c2, max(CASE WHEN j = 3 THEN c END) AS c3
       |  FROM codes GROUP BY vec_id),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |qs AS (SELECT q_id, j.j AS j, qv[(j.j*16+1):(j.j*16+16)] AS sq
       |  FROM q, range(0, 4) j(j)),
       |ql AS (SELECT q_id, qs.j, c, ${d2("sq", "scv")} AS l
       |  FROM qs JOIN cbs ON qs.j = cbs.j),
       |sc AS (SELECT l0.q_id, enc.vec_id, (((l0.l + l1.l) + l2.l) + l3.l) AS adc
       |  FROM enc
       |  JOIN ql l0 ON l0.j = 0 AND l0.c = enc.c0
       |  JOIN ql l1 ON l1.q_id = l0.q_id AND l1.j = 1 AND l1.c = enc.c1
       |  JOIN ql l2 ON l2.q_id = l0.q_id AND l2.j = 2 AND l2.c = enc.c2
       |  JOIN ql l3 ON l3.q_id = l0.q_id AND l3.j = 3 AND l3.c = enc.c3
       |  WHERE enc.vec_id <> l0.q_id),
       |r AS (SELECT q_id, vec_id, adc,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS BIGINT) AS rank
       |  FROM sc)""".stripMargin
  }

  private val s06Sql =
    s"""$pqSqlPrefix
       |SELECT r.q_id AS q_id, rank, r.vec_id AS vec_id, round(adc, 6) AS adc,
       |  round(${duckCos("qv", "v")}, 6) AS cos_sim
       |FROM r JOIN e ON e.vec_id = r.vec_id JOIN q ON q.q_id = r.q_id
       |WHERE rank <= $K
       |ORDER BY r.q_id, rank""".stripMargin

  /** Scalar-quantized (SQ8) ANN over ANY (id, vector) corpus/query
    * tables (public operator behind [[graft.Graft.annSq]]) — the fourth
    * ANN representation next to IVF (s02), LSH (s03) and PQ (s06):
    * per-dimension min/max over the corpus define a 256-level uniform
    * grid; each component stores as an 8-bit code (4–8× smaller at
    * rest than float32 — the codes column is the stored
    * representation, see [[sqEncodeOf]]); search is ASYMMETRIC — the
    * original query against decoded corpus vectors — then exact-rank
    * top-`k` by quantized cosine, with the true cosine reported
    * alongside so the quantization error is visible per hit.
    *
    * Plan shape: the per-dim stats are ONE 1-row aggregate (2·dims
    * min/max columns, map-side combined — the corpus never shuffles)
    * broadcast back as a cross join, the decode is map-only, and the
    * query pass is the s01 shape (queries broadcast, one corpus scan,
    * per-query rank). Decode math is CASE-guarded for constant
    * dimensions (mx=mn ⇒ decode to mn) and runs the identical IEEE op
    * sequence in the oracle, so codes AND decoded floats are
    * bit-reproducible. */
  def sqAnnOf(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, dims: Int, k: Int,
              excludeSelf: Boolean = true): DataFrame = {
    require(dims >= 1 && k >= 1, s"dims >= 1 and k >= 1 required, got $dims/$k")
    val e = corpus.select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
    val aggs = (0 until dims).map(i => min(col("v").getItem(i)).as(s"__mn$i")) ++
      (0 until dims).map(i => max(col("v").getItem(i)).as(s"__mx$i"))
    val st = e.agg(aggs.head, aggs.tail: _*)
      .select(array((0 until dims).map(i => col(s"__mn$i")): _*).as("mn"),
        array((0 until dims).map(i => col(s"__mx$i")): _*).as("mx"))
    val decExpr =
      s"""transform(sequence(0, ${dims - 1}), i ->
         |  CASE WHEN mx[i] = mn[i] THEN mn[i]
         |  ELSE mn[i] + floor((v[i] - mn[i]) / ((mx[i] - mn[i]) / 255.0D) + 0.5D)
         |       * ((mx[i] - mn[i]) / 255.0D) END)""".stripMargin
    val dec = e.crossJoin(broadcast(st)).withColumn("dec", expr(decExpr))
      .select(col("vec_id"), col("v"), col("dec"))
    val q = broadcast(queries
      .select(col(idCol).as("q_id"), col(vecCol).cast("array<double>").as("qv")))
    val wRank = Window.partitionBy(col("q_id")).orderBy(col("sq_cos").desc, col("vec_id"))
    dec.crossJoin(q)
      .filter(if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true))
      .withColumn("sq_cos", expr("graft_cosine(qv, dec)"))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .withColumn("cos_sim", expr("graft_cosine(qv, v)"))
      .select(col("q_id"), col("rank"), col("vec_id"), col("sq_cos"), col("cos_sim"))
  }

  /** The stored SQ8 representation: (id, codes array<int> in 0..255) +
    * the 2·dims grid as two array columns on every row is avoided —
    * the grid is the 1-row side table a store would persist next to
    * the codes. Map-only; int math thereafter is engine-exact. */
  def sqEncodeOf(corpus: DataFrame, idCol: String, vecCol: String,
                 dims: Int): DataFrame = {
    val e = corpus.select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
    val aggs = (0 until dims).map(i => min(col("v").getItem(i)).as(s"__mn$i")) ++
      (0 until dims).map(i => max(col("v").getItem(i)).as(s"__mx$i"))
    val st = e.agg(aggs.head, aggs.tail: _*)
      .select(array((0 until dims).map(i => col(s"__mn$i")): _*).as("mn"),
        array((0 until dims).map(i => col(s"__mx$i")): _*).as("mx"))
    e.crossJoin(broadcast(st))
      .withColumn("codes", expr(
        s"""transform(sequence(0, ${dims - 1}), i ->
           |  CASE WHEN mx[i] = mn[i] THEN 0
           |  ELSE CAST(floor((v[i] - mn[i]) / ((mx[i] - mn[i]) / 255.0D) + 0.5D) AS INT) END)""".stripMargin))
      .select(col("vec_id"), col("codes"))
  }

  /** #s12 SQ8 ANN: same query set as s01/s06; asymmetric search against
    * the int8-decoded corpus, true cosine alongside. */
  private val s12: Q = (s, dir) => {
    val all = vecs(s, dir)
    sqAnnOf(all, all.filter(col("vec_id") < 5), "vec_id", "v", dims = 64, k = K)
      .select(col("q_id"), col("rank"), col("vec_id"),
        r6(col("sq_cos")).as("sq_cos"), r6(col("cos_sim")).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  private val s12Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |pd AS (SELECT u.i AS i, min(u.x) AS mn, max(u.x) AS mx
       |  FROM (SELECT unnest(v) AS x, unnest(generate_series(1, 64)) AS i FROM e) u
       |  GROUP BY u.i),
       |st AS (SELECT list(mn ORDER BY i) AS mn, list(mx ORDER BY i) AS mx FROM pd),
       |dec AS (SELECT vec_id, v,
       |    list_transform(generate_series(1, 64), i ->
       |      CASE WHEN st.mx[i] = st.mn[i] THEN st.mn[i]
       |      ELSE st.mn[i] + floor((v[i] - st.mn[i]) / ((st.mx[i] - st.mn[i]) / 255.0) + 0.5)
       |           * ((st.mx[i] - st.mn[i]) / 255.0) END) AS dv
       |  FROM e, st),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |c AS (SELECT q.q_id, d.vec_id, d.v, ${graft.OracleSql.seqCosine("qv", "dv", 64)} AS sq_cos, qv
       |  FROM q JOIN dec d ON d.vec_id <> q.q_id),
       |r AS (SELECT q_id, vec_id, v, qv, sq_cos,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY sq_cos DESC, vec_id) AS BIGINT) AS rank
       |  FROM c)
       |SELECT q_id, rank, vec_id, round(sq_cos, 6) AS sq_cos,
       |  round(${duckCos("qv", "v")}, 6) AS cos_sim
       |FROM r WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin

  /** Population covariance matrix of ANY (id, array<double>) vector
    * column, long form (public operator behind [[graft.Graft.covariance]]
    * and the stats pass of [[graft.Graft.pcaComponents]]): one row per
    * upper-triangle cell (i, j, n, cov) with
    * cov = E[xᵢxⱼ] − E[xᵢ]E[xⱼ], 0-based positions, i ≤ j.
    *
    * Plan shape: two chained posexplodes fan each row out to its d·(d+1)/2
    * upper-triangle element pairs MAP-SIDE (no self-join — generators
    * compose in one stage), then every moment runs as a CUMULATIVE window
    * sum over the (pair, id) order and the last row per pair is kept —
    * the q33 rule: hash-agg double sums have partition-order-dependent
    * low bits, cumulative sums are bit-exact against the oracle. The d²
    * fan-out is the honest cost (d² ≤ ~10⁵ for embedding dims); at
    * 100 TB pass `samplePermille < 1000` — a d×d covariance needs ~d²
    * effective rows, not the corpus, so `samplePermille = 10` (0.1%)
    * over a 10¹¹-row corpus still leaves 10⁸ rows of support.
    *
    * `samplePermille` keeps rows whose md5 bucket of `salt || id`
    * (mod 1000) falls below it — the ds02 recipe: the kept set is a
    * pure function of the ids, so re-running, scaling the cluster, or
    * retrying a stage cannot change the sampled moments. Default 1000
    * = the full pass (bit-exact against the oracle). */
  def covarianceOf(df: DataFrame, idCol: String, vecCol: String,
                   samplePermille: Int = 1000, salt: String = "graft"): DataFrame = {
    require(samplePermille >= 1 && samplePermille <= 1000,
      s"samplePermille must be in [1,1000], got $samplePermille")
    val in =
      if (samplePermille >= 1000) df
      else df.filter(pmod(hash60(concat(lit(salt + ":"), col(idCol).cast("string"))),
        lit(1000L)) < samplePermille)
    val e = in.select(col(idCol).as("__id"), col(vecCol).cast("array<double>").as("__v"))
      .select(col("__id"), col("__v"), posexplode(col("__v")).as(Seq("i", "xi")))
      // second explode over the SLICED tail [i..d): generates exactly the
      // d(d+1)/2 upper-triangle pairs instead of d² filtered down — the
      // generate stage, not the window, dominates this op's cost
      .select(col("__id"), col("i"), col("xi"),
        posexplode(slice(col("__v"), col("i") + 1, greatest(size(col("__v")) - col("i"), lit(0))))
          .as(Seq("__p", "xj")))
      .withColumn("j", col("i") + col("__p"))
    val w = Window.partitionBy(col("i"), col("j")).orderBy(col("__id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("i"), col("j"))
    e.withColumn("n", count(lit(1)).over(wAll))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("i"), col("j")).orderBy(col("__id"))))
      .withColumn("sx", sum(col("xi")).over(w))
      .withColumn("sy", sum(col("xj")).over(w))
      .withColumn("sxy", sum(col("xi") * col("xj")).over(w))
      .filter(col("rn") === col("n"))
      .select(col("i"), col("j"), col("n"),
        (col("sxy") / col("n") - (col("sx") / col("n")) * (col("sy") / col("n")))
          .as("cov"))
  }

  /** PCA fit over ANY (id, array<double>) vector column: covariance by
    * [[covarianceOf]], then a driver-side cyclic-Jacobi eigensolve on
    * the d×d matrix (d² doubles of driver state — the [[kmeansOf]]
    * shape; the DISTRIBUTED work is the one covariance pass, the d×d
    * solve is microscopic). Returns (eigenvalues desc,
    * row-major components, per-dim means); each component is
    * sign-normalized so its largest-|coordinate| entry is positive —
    * eigenvectors are only defined up to sign, this pins a
    * deterministic representative.
    *
    * `samplePermille` (default 1000 = full pass) fits covariance AND
    * means on the same md5-deterministic id sample — the 100 TB recipe:
    * a d×d fit needs ~d² effective rows, so sample the fit, then run
    * the map-only projection over the FULL corpus.
    *
    * Cite: reference has no PCA; this serves the embedding columns the
    * LLM-pipeline families (s01–s06, d05) already operate on. */
  def pcaFitOf(df: DataFrame, idCol: String, vecCol: String, dims: Int,
               nComp: Int, samplePermille: Int = 1000,
               salt: String = "graft"): (Array[Double], Array[Array[Double]], Array[Double]) = {
    require(dims >= 2, s"dims must be >= 2, got $dims")
    require(nComp >= 1 && nComp <= dims, s"nComp must be in [1,$dims], got $nComp")
    require(samplePermille >= 1 && samplePermille <= 1000,
      s"samplePermille must be in [1,1000], got $samplePermille")
    val in =
      if (samplePermille >= 1000) df
      else df.filter(pmod(hash60(concat(lit(salt + ":"), col(idCol).cast("string"))),
        lit(1000L)) < samplePermille)
    val a = Array.ofDim[Double](dims, dims)
    covarianceOf(in, idCol, vecCol).select("i", "j", "cov").collect().foreach { r =>
      val (i, j, c) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      a(i)(j) = c; a(j)(i) = c
    }
    val meanAggs = (0 until dims).map(i =>
      avg(element_at(col(vecCol).cast("array<double>"), i + 1)).as(s"m$i"))
    val mRow = in.groupBy().agg(meanAggs.head, meanAggs.tail: _*).collect()(0)
    val means = Array.tabulate(dims)(mRow.getDouble)

    val v = Array.tabulate(dims, dims)((r, c) => if (r == c) 1.0 else 0.0)
    def offDiag(): Double = {
      var s = 0.0
      for (p <- 0 until dims; q <- p + 1 until dims) s += a(p)(q) * a(p)(q)
      s
    }
    var sweep = 0
    while (sweep < 64 && offDiag() > 1e-20) {
      for (p <- 0 until dims; q <- p + 1 until dims if math.abs(a(p)(q)) > 0.0) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t =
          if (theta >= 0) 1.0 / (theta + math.sqrt(1.0 + theta * theta))
          else 1.0 / (theta - math.sqrt(1.0 + theta * theta))
        val c = 1.0 / math.sqrt(1.0 + t * t)
        val s = t * c
        for (k <- 0 until dims) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - s * akq
          a(k)(q) = s * akp + c * akq
        }
        for (k <- 0 until dims) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - s * aqk
          a(q)(k) = s * apk + c * aqk
        }
        for (k <- 0 until dims) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - s * vkq
          v(k)(q) = s * vkp + c * vkq
        }
      }
      sweep += 1
    }
    val pairs = (0 until dims).map { k =>
      val vec = Array.tabulate(dims)(r => v(r)(k))
      val pivot = vec.indices.maxBy(i => (math.abs(vec(i)), -i))
      (a(k)(k), if (vec(pivot) < 0) vec.map(-_) else vec)
    }.sortBy(-_._1) // stable sort: equal eigenvalues keep diagonal order
    (pairs.take(nComp).map(_._1).toArray, pairs.take(nComp).map(_._2).toArray, means)
  }

  /** Map-only PCA projection: appends `pc0..pc{k-1}` — the centered dot
    * with each component, computed as dot(x, w) − dot(mean, w) with the
    * driver-precomputed constant, so the per-row work is one codegen'd
    * fold per component and nothing shuffles. */
  def pcaProjectOf(df: DataFrame, vecCol: String,
                   components: Array[Array[Double]], means: Array[Double]): DataFrame = {
    require(components.nonEmpty, "pcaProjectOf needs at least one component")
    components.zipWithIndex.foldLeft(df) { case (d, (w, k)) =>
      val const = w.indices.foldLeft(0.0)((acc, i) => acc + means(i) * w(i))
      d.withColumn(s"pc$k",
        dot(col(vecCol).cast("array<double>"), typedLit(w.toSeq)) - lit(const))
    }
  }

  /** #26c embedding covariance matrix, upper triangle (64×65/2 rows). */
  private val s07: Q = (s, dir) =>
    covarianceOf(vecs(s, dir), "vec_id", "v")
      .select(col("i"), col("j"), col("n"), r6(col("cov")).as("cov"))
      .orderBy("i", "j")

  private val s07Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (SELECT vec_id, i.r AS i, j.r AS j, v[i.r + 1] AS xi, v[j.r + 1] AS xj
      |  FROM e CROSS JOIN range(0, 64) i(r) CROSS JOIN range(0, 64) j(r)
      |  WHERE i.r <= j.r),
      |c AS (SELECT i, j, vec_id,
      |    count(*) OVER (PARTITION BY i, j) AS n,
      |    row_number() OVER (PARTITION BY i, j ORDER BY vec_id) AS rn,
      |    sum(xi) OVER w AS sx, sum(xj) OVER w AS sy,
      |    sum(xi * xj) OVER w AS sxy
      |  FROM p
      |  WINDOW w AS (PARTITION BY i, j ORDER BY vec_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, n,
      |  round(sxy / n - (sx / n) * (sy / n), 6) AS cov
      |FROM c WHERE rn = n
      |ORDER BY i, j""".stripMargin

  /** #s08 the SAMPLED covariance fit path AS a query — s07 at
    * samplePermille = 100 (a 10% md5-deterministic id sample): proves
    * with a hash-matched oracle that the 100 TB fit recipe (sample the
    * fit, full-corpus projection) is reproducible bit-for-bit — the
    * kept set is a pure function of the ids, so the oracle filters the
    * identical rows and folds the identical moments. ~10× less window
    * input than s07 at the same d² fan-out width. */
  private val s08: Q = (s, dir) =>
    covarianceOf(vecs(s, dir), "vec_id", "v", samplePermille = 100)
      .select(col("i"), col("j"), col("n"), r6(col("cov")).as("cov"))
      .orderBy("i", "j")

  private val s08Sql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      |  WHERE CAST(('0x' || substr(md5('graft:' || CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
      |    % 1000 < 100),
      |p AS (SELECT vec_id, i.r AS i, j.r AS j, v[i.r + 1] AS xi, v[j.r + 1] AS xj
      |  FROM e CROSS JOIN range(0, 64) i(r) CROSS JOIN range(0, 64) j(r)
      |  WHERE i.r <= j.r),
      |c AS (SELECT i, j, vec_id,
      |    count(*) OVER (PARTITION BY i, j) AS n,
      |    row_number() OVER (PARTITION BY i, j ORDER BY vec_id) AS rn,
      |    sum(xi) OVER w AS sx, sum(xj) OVER w AS sy,
      |    sum(xi * xj) OVER w AS sxy
      |  FROM p
      |  WINDOW w AS (PARTITION BY i, j ORDER BY vec_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j, n,
      |  round(sxy / n - (sx / n) * (sy / n), 6) AS cov
      |FROM c WHERE rn = n
      |ORDER BY i, j""".stripMargin

  /** Maximum-inner-product search, exact baseline (public operator
    * behind [[graft.Graft.mipsBrute]]): top-k by RAW DOT PRODUCT —
    * the retrieval objective when magnitude carries signal (learned
    * two-tower recommenders, popularity-scaled item embeddings),
    * where cosine's normalization erases exactly that signal. Same
    * plan shape as [[graft.Graft.knnBrute]]: queries broadcast, one
    * corpus scan, per-query rank; the native `graft_dot` kernel
    * scores each pair in one codegen'd loop. */
  def mipsBruteOf(corpus: DataFrame, queries: DataFrame, idCol: String,
                  vecCol: String, k: Int,
                  excludeSelf: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val q = broadcast(queries.select(col(idCol).as("q_id"), col(vecCol).as("__qv")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("__dot").desc, col(idCol))
    corpus.join(q, if (excludeSelf) col(idCol) =!= col("q_id") else lit(true))
      .withColumn("__dot", expr(s"graft_dot(__qv, $vecCol)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col(idCol), col("__dot").as("dot"))
  }

  /** MIPS at scale via NORM AUGMENTATION (Shrivastava & Li 2014,
    * asymmetric LSH; public operator behind [[graft.Graft.annMips]]):
    * append one dimension — corpus x → [x, √(M²−|x|²)] with M the max
    * corpus norm (one exact 1-row aggregate), query q → [q, 0]. Every
    * augmented corpus vector then has norm exactly M, so
    * cos(q', x') = (q·x)/(|q|·M) — COSINE ORDER IS DOT ORDER, and the
    * whole sign-sketch LSH path ([[lshAnnOf]], `graft_signsketch`
    * buckets, exact confirm) applies to an objective it couldn't
    * otherwise index. Returns the lshAnn candidates re-scored with
    * the exact dot (a k·|queries|-sized join back to the vectors).
    * Approximate like every LSH path — the spec pins the guarantees
    * (augmented norms = M; ordering == dot ordering; planted
    * duplicates always found). */
  def annMipsOf(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, sketchBits: Int, bands: Int,
                dims: Int): DataFrame = {
    val m2 = corpus
      .agg(max(norm2N(col(vecCol).cast("array<double>"), dims)).as("m2"))
    val aug = corpus.crossJoin(broadcast(m2))
      .select(col(idCol), concat(col(vecCol).cast("array<double>"),
        array(sqrt(greatest(col("m2") - norm2N(col(vecCol).cast("array<double>"), dims),
          lit(0.0))))).as("__av"))
    val qaug = queries
      .select(col(idCol), concat(col(vecCol).cast("array<double>"),
        array(lit(0.0))).as("__av"))
    val cand = lshAnnOf(aug, qaug, idCol, "__av", k, sketchBits, bands, dims + 1)
    // exact-dot re-score of the survivors (k·|queries| rows)
    val cv = corpus.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("__v"))
    val qv = queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("__qv"))
    cand.join(broadcast(qv), "q_id").join(cv, "vec_id")
      .select(col("q_id"), col("rank"), col("vec_id"),
        expr("graft_dot(__qv, __v)").as("dot"))
  }

  /** #s10 exact MIPS top-k for query vectors vec_id < 5 — the
    * dot-objective sibling of s01; the oracle mirrors the native
    * kernel's sequential fold. */
  private val s10: Q = (s, dir) => {
    val all = vecs(s, dir)
    mipsBruteOf(all, all.filter(col("vec_id") < 5), "vec_id", "v", K)
      .select(col("q_id"), col("rank"), col("vec_id"), r6(col("dot")).as("dot"))
      .orderBy("q_id", "rank")
  }

  private val s10Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |c AS (SELECT q.q_id, e.vec_id, ${graft.OracleSql.seqDot("qv", "v", 64)} AS d
       |  FROM q JOIN e ON e.vec_id <> q.q_id),
       |r AS (SELECT q_id, vec_id, d,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY d DESC, vec_id) AS BIGINT) AS rank
       |  FROM c)
       |SELECT q_id, rank, vec_id, round(d, 6) AS dot
       |FROM r WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin

  /** In-engine linear-probe TRAINING over an embedding column (the
    * quality/domain-classifier fit a curation pipeline runs before
    * filtering): full-batch gradient descent on squared loss against
    * ±1 labels, predicting through the origin — the classic linear
    * probe. Weights are DRIVER STATE (d doubles — the [[kmeansOf]]
    * contract): each iteration is one distributed pass computing the
    * d-dim gradient, never a shuffle of the corpus by anything but the
    * dim index.
    *
    * Why squared loss and not logistic: the fit is bit-reproducible
    * AND oracle-checkable — every op is +/−/×/÷ (no libm exp whose
    * last-ulp behavior differs across engines), scores are balanced-
    * tree dots ([[graft.F.dotN]]) and gradient sums are cumulative
    * folds in id order (the q33 rule). On ±1 labels squared-loss GD
    * converges to the least-squares separating direction (the Fisher
    * discriminant up to scale) — for FILTERING (rank by score, cut at
    * a threshold) the ranking is what matters, not calibrated
    * probabilities.
    *
    * `samplePermille` fits on the md5-deterministic id sample (ds02
    * rule) — the s08 recipe: sample the FIT, score the full corpus.
    * Returns the fitted weights (index j, 0-based).
    *
    * The fit is MEMOIZED per (semantic input plan, parameters) for the
    * life of the JVM: the weights are a pure, bit-reproducible
    * function of the inputs (that is the whole design above), so
    * re-deriving them is pure waste — s09/s11/s14 all sit on the same
    * probe and previously re-ran the identical GD loop three times per
    * gate pass. The shared-run form the verdict asked for, without a
    * persisted side table: driver state is d doubles per distinct fit
    * (the kmeans budget). `probeFitRuns` counts actual GD loops so the
    * spec can pin cache hits. */
  private val probeFits = new java.util.concurrent.ConcurrentHashMap[String, Array[Double]]()
  private[graft] val probeFitRuns = new java.util.concurrent.atomic.AtomicInteger(0)
  private[graft] def clearProbeMemo(): Unit = probeFits.clear()

  /** Opt-in CROSS-JVM weight cache dir (`-Dgraft.probe.cache=<dir>` or
    * `SPARK_GRAFT_PROBE_CACHE`): the weights are a pure bit-reproducible
    * function of the memo key, so a fresh JVM may reload them from disk
    * instead of re-running GD — [[graft.Bench]] points its chunk
    * workers at one RUN-SCOPED temp dir, so s09/s11/s14 landing in
    * different chunk JVMs share ONE fit per bench run (the round-10
    * residual). Off by default: the plan-text key cannot see data
    * rewritten in place under an identical path, so a PERSISTENT cache
    * would trade correctness for speed — a per-run dir cannot go stale. */
  private def probeCacheDir: Option[String] =
    Option(System.getProperty("graft.probe.cache"))
      .orElse(sys.env.get("SPARK_GRAFT_PROBE_CACHE")).filter(_.nonEmpty)

  def fitLinearProbe(df: DataFrame, idCol: String, vecCol: String,
                     yCol: String, dims: Int, lr: Double, iters: Int,
                     samplePermille: Int = 1000,
                     salt: String = "graft"): Array[Double] = {
    // Keyed on the FULL canonicalized plan text, not the 32-bit
    // semanticHash — two distinct plans colliding on an Int (or a
    // path rewritten in-place under an identical plan string would
    // still be a hole, but plan text includes the file listing's
    // relation id) must not silently return another fit's weights.
    val key = df.queryExecution.analyzed.canonicalized.toString +
      s"|$idCol|$vecCol|$yCol|$dims|$lr|$iters|$samplePermille|$salt"
    probeFits.computeIfAbsent(key, _ =>
      probeCacheDir match {
        case Some(dir) =>
          val digest = java.security.MessageDigest.getInstance("SHA-256")
            .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString
          val f = new java.io.File(dir, s"probe_$digest.bin")
          // the cache is an OPTIMIZATION: any IO failure (cleaned dir,
          // truncated file, unrenameable tmp) degrades to fitting —
          // it must never fail a query whose fit succeeded
          val cached: Option[Array[Double]] =
            if (!f.isFile) None
            else try {
              val in = new java.io.DataInputStream(
                new java.io.BufferedInputStream(new java.io.FileInputStream(f)))
              try Some(Array.fill(in.readInt())(in.readDouble())) finally in.close()
            } catch { case _: java.io.IOException => None }
          cached.getOrElse {
            val w = fitLinearProbeUncached(df, idCol, vecCol, yCol, dims, lr,
              iters, samplePermille, salt)
            try {
              val tmp = java.io.File.createTempFile("probe_", ".tmp",
                new java.io.File(dir))
              val out = new java.io.DataOutputStream(
                new java.io.BufferedOutputStream(new java.io.FileOutputStream(tmp)))
              try { out.writeInt(w.length); w.foreach(out.writeDouble) }
              finally out.close()
              // atomic publish; losers of a race overwrite equal bytes,
              // and a failed rename just means no cache entry
              if (!tmp.renameTo(f)) tmp.delete()
            } catch { case _: java.io.IOException => /* cache is best-effort */ }
            w
          }
        case None =>
          fitLinearProbeUncached(df, idCol, vecCol, yCol, dims, lr, iters,
            samplePermille, salt)
      })
  }

  private def fitLinearProbeUncached(df: DataFrame, idCol: String, vecCol: String,
                     yCol: String, dims: Int, lr: Double, iters: Int,
                     samplePermille: Int,
                     salt: String): Array[Double] = {
    require(dims >= 1 && iters >= 1 && lr > 0,
      s"need dims/iters >= 1 and lr > 0, got dims=$dims iters=$iters lr=$lr")
    require(samplePermille >= 1 && samplePermille <= 1000,
      s"samplePermille must be in [1,1000], got $samplePermille")
    probeFitRuns.incrementAndGet()
    val in =
      if (samplePermille >= 1000) df
      else df.filter(pmod(hash60(concat(lit(salt + ":"), col(idCol).cast("string"))),
        lit(1000L)) < samplePermille)
    val e = in.select(col(idCol).as("__id"),
      col(vecCol).cast("array<double>").as("__v"),
      col(yCol).cast("double").as("__y")).cache()
    try {
      val n = e.count()
      require(n > 0, "empty training set")
      var w = Array.fill(dims)(0.0)
      val wJ = Window.partitionBy(col("j"))
      val wOrd = wJ.orderBy(col("__id"))
      val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      for (_ <- 1 to iters) {
        val wlit = array(w.map(lit).toIndexedSeq: _*)
        val g = e
          .withColumn("err", dotN(col("__v"), wlit, dims) - col("__y"))
          .select(col("__id"), col("err"), posexplode(col("__v")).as(Seq("j", "xj")))
          .withColumn("rn", row_number().over(wOrd))
          .withColumn("cnt", count(lit(1)).over(wJ))
          .withColumn("sr", sum(col("err") * col("xj")).over(wCum))
          .filter(col("rn") === col("cnt"))
          .select(col("j"), col("sr")).collect()
          .map(r => r.getInt(0) -> r.getDouble(1)).toMap
        w = Array.tabulate(dims)(j => w(j) - lr * g(j) / n)
      }
      w
    } finally e.unpersist()
  }

  /** [[fitLinearProbe]] + map-only scoring of the FULL corpus with the
    * fitted weights (public operator behind [[graft.Graft.linearProbe]]):
    * per row — the ±1 label, the linear score, `predicted` (score ≥ 0)
    * and `correct`. The production cut is a threshold on `score`. */
  def linearProbeOf(df: DataFrame, idCol: String, vecCol: String,
                    yCol: String, dims: Int, lr: Double, iters: Int,
                    samplePermille: Int = 1000): DataFrame = {
    val w = fitLinearProbe(df, idCol, vecCol, yCol, dims, lr, iters, samplePermille)
    val wlit = array(w.map(lit).toIndexedSeq: _*)
    df.select(col(idCol).as("id"), col(yCol).cast("double").as("y"),
        dotN(col(vecCol).cast("array<double>"), wlit, dims).as("score"))
      .withColumn("predicted", col("score") >= 0)
      .withColumn("correct", (col("score") >= 0) === (col("y") > 0))
  }

  /** #s09 linear probe trained in-engine on the embeddings table
    * (target: label = 0, 3 GD iterations, lr 0.05) — the oracle
    * REPLAYS THE WHOLE TRAINING LOOP as chained CTEs (one gradient +
    * weight-update round per iteration, every float the identical op
    * sequence) and hash-matches the scored corpus. */
  private val s09: Q = (s, dir) => {
    val df = t(s, dir, "embeddings")
      .withColumn("y", when(col("label") === 0, 1.0).otherwise(-1.0))
    linearProbeOf(df, "vec_id", "embedding", "y", dims = 64, lr = 0.05, iters = 3)
      .select(col("id").cast("long").as("vec_id"), col("y"),
        r6(col("score")).as("score"), col("predicted"), col("correct"))
      .orderBy("vec_id")
  }

  /** The s09 training-loop CTE chain (through `sc`, the scored
    * corpus) — shared by the s09 gate and the s11 AUC eval. */
  private def probeTrainCte: String = {
    val d = 64
    val iters = 3
    def dotW(v: String, wl: String) = graft.OracleSql.dot(v, wl, d)
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (
              |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
              |    CASE WHEN label = 0 THEN 1.0 ELSE -1.0 END AS y
              |  FROM embeddings),
              |nn AS (SELECT count(*) AS n FROM e),
              |js AS (SELECT unnest(range(1, ${d + 1})) AS j),
              |w0 AS (SELECT j, CAST(0.0 AS DOUBLE) AS wj FROM js),
              |wl0 AS (SELECT list(wj ORDER BY j) AS wl FROM w0),
              |""".stripMargin
    for (t <- 1 to iters) {
      sb ++= s"""x$t AS (
                |  SELECT e.vec_id, (${dotW("e.v", "wl.wl")}) - e.y AS err, js.j, e.v[js.j] AS xj
                |  FROM e CROSS JOIN wl${t - 1} wl CROSS JOIN js),
                |g$t AS (
                |  SELECT j, sr FROM (
                |    SELECT j, row_number() OVER o AS rn,
                |      count(*) OVER (PARTITION BY j) AS cnt,
                |      sum(err * xj) OVER w AS sr
                |    FROM x$t
                |    WINDOW o AS (PARTITION BY j ORDER BY vec_id),
                |      w AS (PARTITION BY j ORDER BY vec_id
                |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                |  WHERE rn = cnt),
                |w$t AS (
                |  SELECT p.j, p.wj - 0.05 * g$t.sr / (SELECT n FROM nn) AS wj
                |  FROM w${t - 1} p JOIN g$t USING (j)),
                |wl$t AS (SELECT list(wj ORDER BY j) AS wl FROM w$t),
                |""".stripMargin
    }
    sb ++= s"""sc AS (
              |  SELECT e.vec_id, e.y, (${dotW("e.v", "wl.wl")}) AS score
              |  FROM e CROSS JOIN wl$iters wl)""".stripMargin
    sb.toString
  }

  private val s09Sql: String =
    s"""$probeTrainCte
       |SELECT vec_id, y, round(score, 6) AS score,
       |  score >= 0 AS predicted, (score >= 0) = (y > 0) AS correct
       |FROM sc
       |ORDER BY vec_id""".stripMargin

  /** Cosine RANGE search (public operator behind
    * [[graft.Graft.rangeSearch]]) — the radius variant of
    * [[graft.Graft.knnBrute]]: every corpus vector with cos ≥ `tau`
    * per query, unbounded result count (dedup confirm sets, recall
    * floors, near-duplicate audits — jobs where "top-k" silently
    * truncates). Same plan contract as s01: queries BROADCAST, ONE
    * map-only corpus scan with the native `graft_cosine` kernel, no
    * shuffle until the (small) result sort. For corpus×corpus radius
    * jobs use [[lshAnnOf]]/[[embeddingNearDupPairsOf]] — the banded
    * paths — instead of a broadcast side. */
  def rangeSearchOf(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, tau: Double,
                    excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("q_id"),
      col(vecCol).cast("array<double>").as("qv")))
    corpus.select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
      .crossJoin(q)
      .filter(if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true))
      .withColumn("cos_sim", expr("graft_cosine(qv, v)"))
      .filter(col("cos_sim") >= tau)
      .select(col("q_id"), col("vec_id"), col("cos_sim"))
  }

  /** #s15 range search at τ = 0.15 for the s01 query set. */
  private val s15: Q = (s, dir) => {
    val all = vecs(s, dir)
    rangeSearchOf(all, all.filter(col("vec_id") < 5), "vec_id", "v", tau = 0.15)
      .select(col("q_id"), col("vec_id"), r6(col("cos_sim")).as("cos_sim"))
      .orderBy("q_id", "vec_id")
  }

  private val s15Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |c AS (SELECT q.q_id, e.vec_id, ${duckCos("qv", "v")} AS cos
       |  FROM q JOIN e ON e.vec_id <> q.q_id)
       |SELECT q_id, vec_id, round(cos, 6) AS cos_sim
       |FROM c WHERE cos >= 0.15
       |ORDER BY q_id, vec_id""".stripMargin

  /** ColBERT-style MaxSim late interaction (public operator behind
    * [[graft.Graft.maxSim]]): each vector splits into `nSub`
    * contiguous sub-vectors ("token embeddings"); score(q, d) =
    * Σ over query tokens of the MAX cosine against any doc token —
    * the multi-vector retrieval scoring (Khattab & Zaharia 2020)
    * that single-vector cosine can't express. Plan: the corpus
    * explodes ×nSub ONCE (map-only), the (queries × nSub) token table
    * broadcasts, per-(query token, doc) maxes are EXACT picks
    * aggregated as nSub conditional-max COLUMNS (never an
    * order-dependent float sum — the Σ over tokens is one fixed-order
    * column expression), then top-k ranks per query. One shuffle on
    * the (q_id, vec_id) aggregate regardless of nSub. */
  def maxSimOf(corpus: DataFrame, queries: DataFrame, idCol: String,
               vecCol: String, dims: Int, nSub: Int, k: Int,
               excludeSelf: Boolean = true): DataFrame = {
    require(nSub >= 1 && dims % nSub == 0, s"nSub must divide dims, got $dims/$nSub")
    require(k >= 1, s"k must be >= 1, got $k")
    val w = dims / nSub
    def subs(v: String): Column = explode(array((0 until nSub).map(i =>
      struct(lit(i).as("t"), slice(col(v), i * w + 1, w).as("sv"))): _*))
    val qTok = broadcast(queries
      .select(col(idCol).as("q_id"), col(vecCol).cast("array<double>").as("qv"))
      .withColumn("__qs", subs("qv"))
      .select(col("q_id"), col("__qs.t").as("qt"), col("__qs.sv").as("qsv")))
    val dTok = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("__ds", subs("v"))
      .select(col("vec_id"), col("__ds.t").as("dt"), col("__ds.sv").as("dsv"))
    val maxCols = (0 until nSub).map(i =>
      max(when(col("qt") === i, col("__c"))).as(s"__m$i"))
    val score = (0 until nSub).map(i => col(s"__m$i")).reduce(_ + _)
    val wRank = Window.partitionBy(col("q_id")).orderBy(col("maxsim").desc, col("vec_id"))
    dTok.crossJoin(qTok)
      .filter(if (excludeSelf) col("vec_id") =!= col("q_id") else lit(true))
      .withColumn("__c", expr("graft_cosine(qsv, dsv)"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(maxCols.head, maxCols.tail: _*)
      .withColumn("maxsim", score)
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id"), col("maxsim"))
  }

  /** #s16 MaxSim top-10 with 4 sub-vectors of 16 dims, s01 query set. */
  private val s16: Q = (s, dir) => {
    val all = vecs(s, dir)
    maxSimOf(all, all.filter(col("vec_id") < 5), "vec_id", "v",
        dims = 64, nSub = 4, k = K)
      .select(col("q_id"), col("rank"), col("vec_id"), r6(col("maxsim")).as("maxsim"))
      .orderBy("q_id", "rank")
  }

  private val s16Sql = {
    val sub = graft.OracleSql.seqCosine("qsv", "dsv", 16)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |qt AS (
       |  SELECT q_id, t, qv[t * 16 + 1 : t * 16 + 16] AS qsv
       |  FROM q CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS t)),
       |dt AS (
       |  SELECT vec_id, t AS dt, v[t * 16 + 1 : t * 16 + 16] AS dsv
       |  FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS t)),
       |c AS (
       |  SELECT qt.q_id, dt.vec_id, qt.t AS qt, $sub AS cos
       |  FROM dt CROSS JOIN qt
       |  WHERE dt.vec_id <> qt.q_id),
       |m AS (
       |  SELECT q_id, vec_id,
       |    max(CASE WHEN qt = 0 THEN cos END) AS m0,
       |    max(CASE WHEN qt = 1 THEN cos END) AS m1,
       |    max(CASE WHEN qt = 2 THEN cos END) AS m2,
       |    max(CASE WHEN qt = 3 THEN cos END) AS m3
       |  FROM c GROUP BY 1, 2),
       |r AS (
       |  SELECT q_id, vec_id, ((m0 + m1) + m2) + m3 AS maxsim
       |  FROM m),
       |k AS (
       |  SELECT q_id, vec_id, maxsim,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY maxsim DESC, vec_id) AS BIGINT) AS rank
       |  FROM r)
       |SELECT q_id, rank, vec_id, round(maxsim, 6) AS maxsim
       |FROM k WHERE rank <= $K
       |ORDER BY q_id, rank""".stripMargin
  }

  /** Simplified SILHOUETTE over a centroid assignment (public operator
    * behind [[graft.Graft.silhouette]]) — the cluster-quality score
    * s04/d11/s02 had no eval for: per vector, a = cosine distance to
    * its OWN centroid (the assignment winner), b = distance to the
    * nearest OTHER centroid; sil = (b − a)/max(a, b) ∈ [−1, 1]. The
    * "simplified" variant (Hruschka et al.) measures against
    * CENTROIDS, not all points — the only form that scales: per-point
    * pairwise silhouette is O(n²), this is O(n·k) map-side against a
    * broadcast centroid table with NO shuffle until the per-cell
    * rollup. Assignment ties break by centroid id (the s02 rule).
    * Per-cell means fold cumulatively in vec_id order (q33 rule), so
    * every double survives the hash gate. Requires ≥ 2 centroids. */
  def silhouetteOf(corpus: DataFrame, centroids: DataFrame, idCol: String,
                   vecCol: String): DataFrame = {
    // enforce the documented contract loudly: with one centroid there
    // is no "nearest other" and every silhouette would be null
    require(centroids.limit(2).count() == 2,
      "silhouetteOf needs at least 2 centroids")
    val cents = broadcast(centroids
      .select(col(idCol).as("c_id"), col(vecCol).cast("array<double>").as("cv")))
    val wV = Window.partitionBy(col("vec_id")).orderBy(col("d"), col("c_id"))
    val perVec = corpus
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("__v"))
      .crossJoin(cents)
      .withColumn("d", lit(1.0) - expr("graft_cosine(__v, cv)"))
      .withColumn("__arn", row_number().over(wV))
      .withColumn("__b", lead(col("d"), 1).over(wV))
      .filter(col("__arn") === 1)
      .select(col("vec_id"), col("c_id").as("cell"), col("d").as("a"), col("__b").as("b"))
      .withColumn("sil",
        when(greatest(col("a"), col("b")) > 0.0,
          (col("b") - col("a")) / greatest(col("a"), col("b"))).otherwise(lit(0.0)))
    val wC = Window.partitionBy(col("cell")).orderBy(col("vec_id"))
    val cum = wC.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perVec
      .withColumn("__rn", row_number().over(wC))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("cell"))))
      .withColumn("__cs", sum(col("sil")).over(cum))
      .filter(col("__rn") === col("__n"))
      .select(col("cell"), col("__n").as("n_vectors"),
        (col("__cs") / col("__n").cast("double")).as("mean_silhouette"))
  }

  /** #s19 silhouette of the s02 IVF cell assignment (centroids = the 8
    * smallest-id vectors — the same cells s02 probes). */
  private val s19: Q = (s, dir) => {
    val all = vecs(s, dir)
    silhouetteOf(all, all.filter(col("vec_id") < 8), "vec_id", "v")
      .select(col("cell"), col("n_vectors"),
        r6(col("mean_silhouette")).as("mean_silhouette"))
      .orderBy("cell")
  }

  private val s19Sql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
       |d AS (SELECT e.vec_id, c_id, 1.0 - ${duckCos("v", "cv")} AS d
       |  FROM e CROSS JOIN cents),
       |r AS (SELECT vec_id, c_id, d,
       |    row_number() OVER o AS arn,
       |    lead(d, 1) OVER o AS b
       |  FROM d
       |  WINDOW o AS (PARTITION BY vec_id ORDER BY d, c_id)),
       |s AS (SELECT vec_id, c_id AS cell, d AS a, b,
       |    CASE WHEN greatest(d, b) > 0.0 THEN (b - d) / greatest(d, b)
       |      ELSE 0.0 END AS sil
       |  FROM r WHERE arn = 1),
       |c AS (SELECT cell, row_number() OVER o AS rn,
       |    count(*) OVER (PARTITION BY cell) AS n,
       |    sum(sil) OVER w AS cs
       |  FROM s
       |  WINDOW o AS (PARTITION BY cell ORDER BY vec_id),
       |    w AS (PARTITION BY cell ORDER BY vec_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT cell, CAST(n AS BIGINT) AS n_vectors,
       |  round(cs / CAST(n AS DOUBLE), 6) AS mean_silhouette
       |FROM c WHERE rn = n
       |ORDER BY cell""".stripMargin

  val queries: Map[String, Q] = Map(
    "s15_range_search" -> s15,
    "s16_maxsim" -> s16,
    "s11_auc" -> s11,
    "d11_semdedup" -> d11,
    "p04_retrieval_pipeline" -> p04,
    "s17_hybrid_rrf" -> s17,
    "s18_ivf_pq" -> s18,
    "s19_silhouette" -> s19,
    "s10_mips" -> s10,
    "s09_linear_probe" -> s09,
    "s08_cov_sampled" -> s08,
    "s07_pca_cov" -> s07,
    "s14_calibration" -> s14,
    "s13_mrl_recall" -> s13,
    "s12_ann_sq" -> s12,
    "s06_ann_pq" -> s06,
    "s23_pq_refine" -> s23,
    "s01_knn_bruteforce" -> s01,
    "s02_ann_ivf" -> s02,
    "s03_ann_lsh" -> s03,
    "s04_kmeans" -> s04,
    "s05_ann_recall" -> s05,
    "s20_ann_graph" -> s20,
    "s21_recall_frontier" -> s21,
    "s26_ann_insert" -> s26,
    "s27_ann_delete" -> s27,
    "s28_ann_filtered" -> s28,
    "s29_ann_label" -> s29,
    "s22_mmr_diversify" -> s22,
    "s24_rank_eval" -> s24,
    "s25_index_drift" -> s25)

  val oracle: Map[String, String] = Map(
    "s15_range_search" -> s15Sql,
    "s16_maxsim" -> s16Sql,
    "s11_auc" -> s11Sql,
    "d11_semdedup" -> d11Sql,
    "p04_retrieval_pipeline" -> p04Sql,
    "s17_hybrid_rrf" -> s17Sql,
    "s18_ivf_pq" -> s18Sql,
    "s19_silhouette" -> s19Sql,
    "s10_mips" -> s10Sql,
    "s09_linear_probe" -> s09Sql,
    "s08_cov_sampled" -> s08Sql,
    "s07_pca_cov" -> s07Sql,
    "s14_calibration" -> s14Sql,
    "s13_mrl_recall" -> s13Sql,
    "s12_ann_sq" -> s12Sql,
    "s06_ann_pq" -> s06Sql,
    "s23_pq_refine" -> s23Sql,
    "s01_knn_bruteforce" -> s01Sql,
    "s02_ann_ivf" -> s02Sql,
    "s03_ann_lsh" -> s03Sql,
    "s04_kmeans" -> s04Sql,
    "s05_ann_recall" -> s05Sql,
    "s20_ann_graph" -> materializeCtes(s20Sql),
    "s21_recall_frontier" -> materializeCtes(s21Sql),
    "s26_ann_insert" -> materializeCtes(s26Sql),
    "s27_ann_delete" -> materializeCtes(s27Sql),
    "s28_ann_filtered" -> materializeCtes(s28Sql),
    "s29_ann_label" -> materializeCtes(s29Sql),
    "s22_mmr_diversify" -> s22Sql,
    "s24_rank_eval" -> s24Sql,
    "s25_index_drift" -> s25Sql)
}
