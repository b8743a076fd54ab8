package graft.ops

import graft.{F, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family (SURVEY.md §2 #20-24) over the `documents` /
  * `embeddings` tables — the dedup operators a large-scale training-data
  * pipeline needs, each expressed as a blocked (never full-cross) plan.
  *
  * The reference dedups paginated fetches by PK
  * (crypto_data_pipeline_duckdb.py:940-949); these generalize that to
  * content dedup: exact hash, MinHash+LSH, SimHash, n-gram Jaccard and
  * embedding-cosine near-dup. All hashing is md5-based ([[F.hash60]]) so
  * every pipeline is reproducible bit-for-bit in the DuckDB oracle.
  *
  * Scale stance: every pairing step is blocked — LSH bands, SimHash
  * chunks, minhash blocks, sign-sketch bands — so self-joins shuffle on
  * (block, key) and only in-bucket pairs are ever materialized. No
  * O(n²) candidate generation anywhere.
  */
object DedupOps {
  type Q = (SparkSession, String) => DataFrame
  import Tables.t
  import F._

  /** 28-bit md5 base hash per shingle — computed ONCE; the k minhash
    * functions derive from it by universal hashing ((2i+3)·g + 12289i+1
    * mod 2²⁹), so the md5 cost is 1/k of hashing per function.
    * Products stay < 2³³ — no int64 overflow in either engine. */
  private val gsDuck = "list_transform(sh, s -> CAST(('0x' || substr(md5(s), 1, 7)) AS BIGINT))"

  private def sigDuck(k: Int): String =
    s"list_transform(generate_series(0, ${k - 1}), i -> list_min(list_transform(gs, g -> ((2*i+3) * g + 12289*i + 1) % 536870912)))"

  /** #20 exact dedup: md5 of whitespace-normalized lowercase text,
    * keep the minimum doc_id per hash group. */
  private val d01: Q = (s, dir) => {
    t(s, dir, "documents")
      .withColumn("text_md5", md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
      .groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
      .orderBy("text_md5")
  }

  private val d01Sql =
    """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS text_md5,
      |  min(doc_id) AS keep_id, count(*) AS n_docs
      |FROM documents
      |GROUP BY 1
      |ORDER BY text_md5""".stripMargin

  /** MinHash+LSH candidate pairs over ANY (id, text) table (public
    * operator behind [[graft.Graft.minhashPairs]]): k md5-minhashes
    * over shingleN-word shingles, banded `bands` × (k/bands); returns
    * (doc_a, doc_b, est_sim) for every pair sharing a band key,
    * deduplicated across bands. est_sim = fraction of agreeing
    * signature positions — an exact multiple of 1/k, so rounding never
    * moves it. */
  /** The hot-bucket guard shared by the LSH pair pipelines (d02/d05's
    * `maxBucket` knob): a (band, key) bucket with B members emits B²/2
    * candidate pairs, so ONE degenerate bucket — empty-text docs, a
    * boilerplate page d01 didn't catch, an all-zero embedding — can
    * dominate the whole job (the quadratic blowup the round-7 probe
    * caught on t10, where the fix was the same df-style cap). Buckets
    * over `maxBucket` are DROPPED, not sampled: membership that hot
    * means the bucket key carries no discriminating information, and
    * its members are still found by their OTHER bands (an LSH pair
    * needs only one surviving shared band). The hot-key list is
    * aggregated first and broadcast into a left-anti join — hot keys
    * are by construction few, so the guard never shuffles the corpus
    * a second time. Default Int.MaxValue = off (oracle instantiations
    * run uncapped; production 100 TB runs should set ~1000). */
  private def dropHotBuckets(banded: DataFrame, keys: Seq[String],
                             maxBucket: Int): DataFrame =
    if (maxBucket == Int.MaxValue) banded
    else {
      val hot = banded.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__bn")).filter(col("__bn") > maxBucket)
        .select(keys.map(col): _*)
      banded.join(broadcast(hot), keys, "left_anti")
    }

  def minhashPairsOf(docs: DataFrame, idCol: String, textCol: String,
                     shingleN: Int, k: Int, bands: Int,
                     maxBucket: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0, "k must divide evenly into bands")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val r = k / bands
    // materialize the signature table ONCE: Spark has no common-subtree
    // elimination across self-join sides (verified: 2 FileScans, 0
    // ReusedExchange), so without this the whole tokenize+shingle+md5
    // pipeline runs twice, once per side. (id, sig) is k longs/doc.
    val sig = graft.Checkpoints.stabilize(docs
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= shingleN)
      .withColumn("sig", expr(s"graft_minhash(ws, $shingleN, $k)"))
      .select(col("doc_id"), col("sig")))
    val bkey = (0 until r)
      .map(i => s"CAST(sig[$r*b+$i] AS STRING)").mkString("concat_ws('_', ", ", ", ")")
    val bands_ = sig
      .select(col("doc_id"), col("sig"), explode(sequence(lit(0), lit(bands - 1))).as("b"))
      .withColumn("bkey", expr(bkey))
    val capped = dropHotBuckets(bands_, Seq("b", "bkey"), maxBucket)
    val a = capped.select(col("doc_id").as("doc_a"), col("sig").as("sa"), col("b"), col("bkey"))
    val b = capped.select(col("doc_id").as("doc_b"), col("sig").as("sb"), col("b"), col("bkey"))
    a.join(b, Seq("b", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      // native position-agreement count — the zip_with/aggregate pair it
      // replaces ran interpreted once per candidate row
      .withColumn("est_sim", expr("graft_sig_agree(sa, sb)").cast("double") / k.toDouble)
      .select(col("doc_a"), col("doc_b"), col("est_sim"))
      .distinct()
  }

  /** The oracle instantiation: 3-word shingles, 8 hashes, 4×2 bands. */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsOf(t(s, dir, "documents"), "doc_id", "text", shingleN = 3, k = 8, bands = 4)

  /** #21 MinHash + LSH: 8 md5-minhashes over 3-word shingles, 4 bands × 2
    * rows; candidate pairs = docs sharing any band key. est_sim = fraction
    * of agreeing signature positions. The self-join runs per (band, key)
    * bucket — never cross-doc. */
  private val d02: Q = (s, dir) =>
    minhashPairs(s, dir)
      .select(col("doc_a"), col("doc_b"), r6(col("est_sim")).as("est_sim"))
      .orderBy("doc_a", "doc_b")

  private val d02Sql =
    """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
      |s3 AS (SELECT doc_id,
      |    list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
      |  FROM w WHERE len(ws) >= 3),
      |g AS (SELECT doc_id, GS_DUCK AS gs FROM s3),
      |sig AS (SELECT doc_id, SIG8_DUCK AS sig FROM g),
      |bands AS (SELECT doc_id, sig, b.b AS b,
      |    CAST(sig[2*b.b+1] AS VARCHAR) || '_' || CAST(sig[2*b.b+2] AS VARCHAR) AS bkey
      |  FROM sig, range(0, 4) b(b)),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
      |SELECT DISTINCT doc_a, doc_b,
      |  round(list_reduce(list_transform(generate_series(1, 8),
      |    i -> CASE WHEN sa[i] = sb[i] THEN 1.0 ELSE 0.0 END), (x, y) -> x + y) / 8.0, 6) AS est_sim
      |FROM p ORDER BY doc_a, doc_b""".stripMargin
      .replace("GS_DUCK", gsDuck).replace("SIG8_DUCK", sigDuck(8))

  /** #d14 minhash-calibration eval — the dedup family's reliability
    * diagram (the s05/s14 move applied to d02): per estimated
    * similarity level (signature agreement, exact multiples of 1/k —
    * exactly representable, safe to GROUP BY), the count and the
    * mean/min/max EXACT shingle Jaccard over the same banded
    * candidates — the measurement that justifies picking an est_sim
    * threshold for d02/d11/d13 instead of guessing: if est_sim 0.5
    * pairs average Jaccard 0.48, the sketch is honest; a fat min tail
    * says raise k. Joins the verified d02 pair table with the d04
    * exact-Jaccard confirm (threshold 0 — every candidate measured)
    * on the pair key; per-level folds in (doc_a, doc_b) order (q33
    * rule). Cost = d02 + d04 on identical banded candidates — never
    * all-pairs. */
  private val d14: Q = (s, dir) => {
    val est = minhashPairs(s, dir)
    val ex = ngramJaccardPairsOf(t(s, dir, "documents"), "doc_id", "text",
      shingleN = 3, threshold = 0.0, k = 8, bands = 4)
    val grp = Window.partitionBy(col("est_sim"))
    val ord = grp.orderBy(col("doc_a"), col("doc_b"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    est.join(ex, Seq("doc_a", "doc_b"))
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__cnt", count(lit(1)).over(grp))
      .withColumn("__cj", sum(col("jaccard")).over(cum))
      .withColumn("__mn", min(col("jaccard")).over(grp))
      .withColumn("__mx", max(col("jaccard")).over(grp))
      .filter(col("__rn") === col("__cnt"))
      .select(r6(col("est_sim")).as("est_sim"),
        col("__cnt").cast("long").as("n_pairs"),
        r6(col("__cj") / col("__cnt").cast("double")).as("mean_jaccard"),
        r6(col("__mn")).as("min_jaccard"), r6(col("__mx")).as("max_jaccard"))
      .orderBy("est_sim")
  }

  private val d14Sql =
    """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
      |s3 AS (SELECT doc_id,
      |    list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
      |  FROM w WHERE len(ws) >= 3),
      |g AS (SELECT doc_id, list_distinct(sh) AS shd, GS_DUCK AS gs FROM s3),
      |d AS (SELECT doc_id, shd, SIG8_DUCK AS sig FROM g),
      |e AS (SELECT doc_id, shd, sig, i.i AS i,
      |    CAST(sig[2*i.i+1] AS VARCHAR) || '_' || CAST(sig[2*i.i+2] AS VARCHAR) AS mh
      |  FROM d, range(0, 4) i(i)),
      |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    list_reduce(list_transform(generate_series(1, 8),
      |      i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1.0 ELSE 0.0 END), (x, y) -> x + y) / 8.0 AS est_sim,
      |    CAST(len(list_intersect(a.shd, b.shd)) AS BIGINT) AS inter,
      |    CAST(len(a.shd) AS BIGINT) AS na, CAST(len(b.shd) AS BIGINT) AS nb
      |  FROM e a JOIN e b ON a.i = b.i AND a.mh = b.mh AND a.doc_id < b.doc_id),
      |j AS (SELECT doc_a, doc_b, est_sim,
      |    inter / (na + nb - inter) AS jaccard
      |  FROM p),
      |f AS (SELECT est_sim, doc_a, doc_b, jaccard,
      |    row_number() OVER o AS rn,
      |    count(*) OVER (PARTITION BY est_sim) AS cnt,
      |    sum(jaccard) OVER cw AS cj,
      |    min(jaccard) OVER (PARTITION BY est_sim) AS mn,
      |    max(jaccard) OVER (PARTITION BY est_sim) AS mx
      |  FROM j
      |  WINDOW o AS (PARTITION BY est_sim ORDER BY doc_a, doc_b),
      |    cw AS (PARTITION BY est_sim ORDER BY doc_a, doc_b
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT round(est_sim, 6) AS est_sim, CAST(cnt AS BIGINT) AS n_pairs,
      |  round(cj / cnt, 6) AS mean_jaccard,
      |  round(mn, 6) AS min_jaccard, round(mx, 6) AS max_jaccard
      |FROM f WHERE rn = cnt
      |ORDER BY est_sim""".stripMargin
      .replace("GS_DUCK", gsDuck).replace("SIG8_DUCK", sigDuck(8))

  /** #ds20 split-LEAKAGE audit (dedup × dataset-management, the check
    * ds01's hash split cannot make on its own): near-duplicate pairs
    * that STRADDLE the train/val/test boundary — a validation doc with
    * a near-copy in train is contamination the split itself can never
    * see, because hashing ids ignores content. Composes the verified
    * ds01 split rule with the verified d02 minhash pipeline (est_sim ≥
    * 0.5 — exact multiples of 1/k, so the threshold is bit-safe) and
    * flags each pair whose sides land in different splits. Production
    * remedy: move near-dup CLUSTERS (d06 components) into one split —
    * this query is the detector that says you must. Split table is
    * corpus-keyed and joins on the pair ids only; pair discovery is the
    * d02 banded plan, never all-pairs. */
  private val ds20: Q = (s, dir) => {
    val split = DataOps.hashSplitOf(t(s, dir, "documents"), "doc_id", "graft", 80, 10)
      .select(col("doc_id"), col("split"))
    minhashPairs(s, dir).filter(col("est_sim") >= 0.5)
      .join(split.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
      .join(split.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
      .withColumn("leaked", col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), r6(col("est_sim")).as("est_sim"),
        col("split_a"), col("split_b"), col("leaked"))
      .orderBy("doc_a", "doc_b")
  }

  private val ds20Sql =
    """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
      |s3 AS (SELECT doc_id,
      |    list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
      |  FROM w WHERE len(ws) >= 3),
      |g AS (SELECT doc_id, GS_DUCK AS gs FROM s3),
      |sig AS (SELECT doc_id, SIG8_DUCK AS sig FROM g),
      |bands AS (SELECT doc_id, sig, b.b AS b,
      |    CAST(sig[2*b.b+1] AS VARCHAR) || '_' || CAST(sig[2*b.b+2] AS VARCHAR) AS bkey
      |  FROM sig, range(0, 4) b(b)),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      |pr AS (SELECT DISTINCT doc_a, doc_b,
      |    list_reduce(list_transform(generate_series(1, 8),
      |      i -> CASE WHEN sa[i] = sb[i] THEN 1.0 ELSE 0.0 END), (x, y) -> x + y) / 8.0 AS est_sim
      |  FROM p),
      |f AS (SELECT * FROM pr WHERE est_sim >= 0.5),
      |sp AS (SELECT doc_id,
      |    CASE WHEN CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
      |         WHEN CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents)
      |SELECT f.doc_a, f.doc_b, round(f.est_sim, 6) AS est_sim,
      |  sa.split AS split_a, sb.split AS split_b,
      |  sa.split <> sb.split AS leaked
      |FROM f
      |JOIN sp sa ON sa.doc_id = f.doc_a
      |JOIN sp sb ON sb.doc_id = f.doc_b
      |ORDER BY doc_a, doc_b""".stripMargin
      .replace("GS_DUCK", gsDuck).replace("SIG8_DUCK", sigDuck(8))

  /** Dedup threshold sweep (public operator behind
    * [[graft.Graft.dedupCurve]]) — the tuning artifact every dedup
    * deployment needs before it picks τ: for each candidate threshold,
    * how many pairs would be declared near-dups and how many docs they
    * cover. Reading the curve: the elbow where n_pairs collapses is
    * the separation between true near-dup mass and the band-collision
    * noise floor; picking τ below it merges unrelated docs (d14's
    * calibration gives the same verdict from the est-vs-exact side).
    * One pass over the PAIR list (pair-bounded, already blocked —
    * never re-touches the corpus) crossed with the tiny broadcast tau
    * list; thresholds with zero pairs still emit a zero row. */
  def dedupCurveOf(pairs: DataFrame, aCol: String, bCol: String,
                   simCol: String, taus: Seq[Double]): DataFrame = {
    require(taus.nonEmpty, "need at least one threshold")
    // dedup the thresholds: a repeated tau would double-count every
    // qualifying pair through the crossJoin and emit duplicate rows
    val tauList = taus.distinct
    val tauDf = pairs.sparkSession.range(1)
      .select(explode(array(tauList.map(lit): _*)).as("tau"))
    val flt = pairs.crossJoin(broadcast(tauDf)).filter(col(simCol) >= col("tau"))
    val np = flt.groupBy(col("tau")).agg(count(lit(1)).as("n_pairs"))
    val nd = flt.select(col("tau"), explode(array(col(aCol), col(bCol))).as("__doc"))
      .groupBy(col("tau")).agg(countDistinct(col("__doc")).as("n_docs"))
    tauDf.join(np, Seq("tau"), "left").join(nd, Seq("tau"), "left")
      .select(col("tau"), coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"))
  }

  /** #24d the minhash threshold curve over the d02 pair list — est_sim
    * is k=8 agreement so the natural grid is eighths. The pair input
    * runs D01-FIRST (p03's production ordering): exact-duplicate
    * groups collapse to their min-id keeper BEFORE banding, so a
    * 100-copy duplicate bomb contributes zero band pairs instead of
    * 100²/2 per band — the round-11 ds22 defusal. The gate corpus
    * carries no exact duplicates, so the curve (and its oracle hash)
    * is unchanged at gate SF; only the blowup path differs. */
  private val ds22: Q = (s, dir) => {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      .withColumn("__m", md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
    val surv = docs
      .join(docs.groupBy(col("__m")).agg(min(col("doc_id")).as("__keep")), Seq("__m"))
      .filter(col("doc_id") === col("__keep"))
      .select(col("doc_id"), col("text"))
    dedupCurveOf(
      minhashPairsOf(surv, "doc_id", "text", shingleN = 3, k = 8, bands = 4),
      "doc_a", "doc_b", "est_sim",
      Seq(0.25, 0.375, 0.5, 0.625, 0.75, 0.875, 1.0))
      .orderBy("tau")
  }

  private val ds22Sql =
    """WITH nm AS (SELECT doc_id, text,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS m FROM documents),
      |keep AS (SELECT m, min(doc_id) AS k FROM nm GROUP BY m),
      |surv AS (SELECT nm.doc_id, nm.text FROM nm JOIN keep ON keep.m = nm.m AND nm.doc_id = keep.k),
      |w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM surv),
      |s3 AS (SELECT doc_id,
      |    list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
      |  FROM w WHERE len(ws) >= 3),
      |g AS (SELECT doc_id, GS_DUCK AS gs FROM s3),
      |sig AS (SELECT doc_id, SIG8_DUCK AS sig FROM g),
      |bands AS (SELECT doc_id, sig, b.b AS b,
      |    CAST(sig[2*b.b+1] AS VARCHAR) || '_' || CAST(sig[2*b.b+2] AS VARCHAR) AS bkey
      |  FROM sig, range(0, 4) b(b)),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      |pr AS (SELECT DISTINCT doc_a, doc_b,
      |    list_reduce(list_transform(generate_series(1, 8),
      |      i -> CASE WHEN sa[i] = sb[i] THEN 1.0 ELSE 0.0 END), (x, y) -> x + y) / 8.0 AS est_sim
      |  FROM p),
      |taus AS (SELECT CAST(unnest([0.25, 0.375, 0.5, 0.625, 0.75, 0.875, 1.0]) AS DOUBLE) AS tau),
      |flt AS (SELECT t.tau, pr.doc_a, pr.doc_b FROM pr, taus t WHERE pr.est_sim >= t.tau),
      |np AS (SELECT tau, count(*) AS n_pairs FROM flt GROUP BY tau),
      |nd AS (SELECT tau, count(DISTINCT doc) AS n_docs
      |  FROM (SELECT tau, unnest([doc_a, doc_b]) AS doc FROM flt) GROUP BY tau)
      |SELECT t.tau, coalesce(np.n_pairs, 0) AS n_pairs,
      |  coalesce(nd.n_docs, 0) AS n_docs
      |FROM taus t
      |LEFT JOIN np ON np.tau = t.tau
      |LEFT JOIN nd ON nd.tau = t.tau
      |ORDER BY t.tau""".stripMargin
      .replace("GS_DUCK", gsDuck).replace("SIG8_DUCK", sigDuck(8))

  /** #22 SimHash: 60-bit weighted-word simhash per doc; near-dup pairs at
    * hamming ≤ 3, blocked by 4 × 15-bit chunks (pigeonhole: hamming ≤ 3
    * ⇒ at least one chunk identical, so the block has full recall).
    * The simhash itself is MAP-ONLY via the native
    * [[graft.functions.SimHash]] expression — Σ_distinct count·(±1) ≡
    * Σ_occurrences (±1), so the explode → groupBy(doc, word) → 60
    * aggregate columns → re-group chain (two shuffles of every token)
    * collapses into one pass over each row's token array. The only
    * shuffle left is the chunk-blocked self-join. Integer math, so the
    * row-exploded DuckDB oracle produces identical values. */
  /** SimHash near-dup pairs over ANY (id, text) table (public operator
    * behind [[graft.Graft.simhashPairs]]): `bits`-bit weighted simhash,
    * pairs at hamming ≤ maxHamming, blocked by `chunks` equal bit
    * slices. Full recall requires maxHamming < chunks (pigeonhole). */
  def simhashPairsOf(docs: DataFrame, idCol: String, textCol: String,
                     bits: Int, chunks: Int, maxHamming: Int): DataFrame = {
    require(bits % chunks == 0, "bits must divide evenly into chunks")
    val cb = bits / chunks
    val mask = (1L << cb) - 1
    // one simhash pass, not one per self-join side
    val sh = graft.Checkpoints.stabilize(docs
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= 1)
      .select(col("doc_id"), expr(s"graft_simhash(ws, $bits)").as("simhash")))
    val ch = sh.select(col("doc_id"), col("simhash"), explode(sequence(lit(0), lit(chunks - 1))).as("c"))
      .withColumn("chunk", expr(s"shiftright(simhash, CAST($cb * c AS INT)) & $mask"))
    val a = ch.select(col("doc_id").as("doc_a"), col("simhash").as("ha"), col("c"), col("chunk"))
    val b = ch.select(col("doc_id").as("doc_b"), col("simhash").as("hb"), col("c"), col("chunk"))
    a.join(b, Seq("c", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  private val d03: Q = (s, dir) =>
    simhashPairsOf(t(s, dir, "documents"), "doc_id", "text",
        bits = 60, chunks = 4, maxHamming = 3)
      .orderBy("doc_a", "doc_b")

  private val d03Sql =
    """WITH wc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS cnt
      |  FROM (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w FROM documents)
      |  GROUP BY 1, 2),
      |h AS (SELECT doc_id, cnt, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) AS hw FROM wc),
      |bits AS (SELECT doc_id, b.b AS bit,
      |    CAST(sum(CASE WHEN (hw >> b.b) & 1 = 1 THEN cnt ELSE -cnt END) AS BIGINT) AS s
      |  FROM h, range(0, 60) b(b) GROUP BY 1, 2),
      |sh AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY 1),
      |ch AS (SELECT doc_id, simhash, c.c AS c, (simhash >> CAST(15*c.c AS INTEGER)) & 32767 AS chunk
      |  FROM sh, range(0, 4) c(c))
      |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
      |FROM ch a JOIN ch b ON a.c = b.c AND a.chunk = b.chunk AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** #23 n-gram Jaccard: exact word-3-gram Jaccard ≥ 0.5 on pairs blocked
    * by 4 bands of 2 minhashes (same banding as d02 — per-band collision
    * prob j² keeps buckets small even with a tiny vocabulary, where a
    * single-minhash block would collect hundreds of docs).
    *
    * Scale shape: only (doc_id, band, key) flows through the blocked
    * self-join, and candidate pairs are DISTINCTed before the shingle
    * sets are joined back — so each confirmed pair fetches its two
    * shingle arrays exactly once, instead of shipping both arrays into
    * every per-band candidate row (at ×20 duplicate density that was
    * 4× the intersections and ~a kB of array payload per row: 36s →
    * ~6s). The confirm itself is the codegen'd [[graft.functions.ArrayJaccard]]
    * hash-set pass, not an interpreted ArrayIntersect per pair. */
  /** Exact n-gram-Jaccard near-dup pairs over ANY (id, text) table
    * (public operator behind [[graft.Graft.ngramJaccardPairs]]):
    * minhash-band blocking, candidate pairs DISTINCTed before the two
    * shingle-set joins, native hash-set jaccard confirm against
    * `threshold`. Returns (doc_a, doc_b, jaccard) — full fidelity. */
  def ngramJaccardPairsOf(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int, threshold: Double, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, "k must divide evenly into bands")
    val r = k / bands
    // one materialization of tokenize+shingle+distinct+signature — this
    // frame feeds three plan branches (two shd joins + the band explode),
    // each of which would otherwise recompute it from the scan
    val shingleExpr = (0 until shingleN).map(j => s"ws[i+$j]").mkString("concat_ws(' ', ", ", ", ")")
    val d = graft.Checkpoints.stabilize(docs
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= shingleN)
      .withColumn("sh", expr(s"transform(sequence(0, size(ws)-$shingleN), i -> $shingleExpr)"))
      .withColumn("shd", array_distinct(col("sh")))
      .withColumn("sig", expr(s"graft_minhash(ws, $shingleN, $k)"))
      .select(col("doc_id"), col("shd"), col("sig")))
    val byDoc = d.select(col("doc_id"), col("shd"))
    val mh = (0 until r)
      .map(j => s"CAST(sig[$r*i+$j] AS STRING)").mkString("concat_ws('_', ", ", ", ")")
    val e = d.select(col("doc_id"), col("sig"), explode(sequence(lit(0), lit(bands - 1))).as("i"))
      .withColumn("mh", expr(mh))
      .select("doc_id", "i", "mh")
    val cand = e.select(col("doc_id").as("doc_a"), col("i"), col("mh"))
      .join(e.select(col("doc_id").as("doc_b"), col("i"), col("mh")), Seq("i", "mh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    cand
      .join(byDoc.select(col("doc_id").as("doc_a"), col("shd").as("la")), "doc_a")
      .join(byDoc.select(col("doc_id").as("doc_b"), col("shd").as("lb")), "doc_b")
      .withColumn("jaccard", expr("graft_jaccard(la, lb)"))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  private val d04: Q = (s, dir) =>
    ngramJaccardPairsOf(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, threshold = 0.5, k = 8, bands = 4)
      .select(col("doc_a"), col("doc_b"), r6(col("jaccard")).as("jaccard"))
      .orderBy("doc_a", "doc_b")

  private val d04Sql =
    """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
      |s3 AS (SELECT doc_id,
      |    list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
      |  FROM w WHERE len(ws) >= 3),
      |g AS (SELECT doc_id, list_distinct(sh) AS shd, GS_DUCK AS gs FROM s3),
      |d AS (SELECT doc_id, shd, SIG8_DUCK AS sig FROM g),
      |e AS (SELECT doc_id, shd, i.i AS i,
      |    CAST(sig[2*i.i+1] AS VARCHAR) || '_' || CAST(sig[2*i.i+2] AS VARCHAR) AS mh
      |  FROM d, range(0, 4) i(i)),
      |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.shd, b.shd)) AS BIGINT) AS inter,
      |    CAST(len(a.shd) AS BIGINT) AS na, CAST(len(b.shd) AS BIGINT) AS nb
      |  FROM e a JOIN e b ON a.i = b.i AND a.mh = b.mh AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, round(inter / (na + nb - inter), 6) AS jaccard
      |FROM p
      |WHERE inter / (na + nb - inter) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin
      .replace("GS_DUCK", gsDuck).replace("SIG8_DUCK", sigDuck(8))

  /** Edit-distance near-dup pairs over ANY (id, text) table (public
    * operator behind [[graft.Graft.editDistancePairs]]): minhash-band
    * blocked candidates, confirmed by Levenshtein ≤ maxDist. The
    * confirm is Spark's thresholded levenshtein — the banded
    * O(maxDist·len) algorithm, not the O(len²) full DP — and candidate
    * pairs are DISTINCT before the two text joins, so each pair's
    * texts ship exactly once. Returns (doc_a, doc_b, edit_dist). */
  def editDistancePairsOf(docs: DataFrame, idCol: String, textCol: String,
                          maxDist: Int, shingleN: Int, k: Int, bands: Int): DataFrame = {
    val byDoc = docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
    minhashPairsOf(docs, idCol, textCol, shingleN, k, bands)
      .select("doc_a", "doc_b")
      .join(byDoc.select(col("doc_id").as("doc_a"), col("__t").as("ta")), "doc_a")
      .join(byDoc.select(col("doc_id").as("doc_b"), col("__t").as("tb")), "doc_b")
      // free prune: edit distance ≥ length difference, and this predicate
      // is cheap enough to live in the join
      .filter(abs(length(col("ta")) - length(col("tb"))) <= maxDist)
      // the levenshtein itself is the expensive confirm (O(maxDist·len)
      // per pair): compute it as an aggregate over the unique pair so the
      // threshold filter sits on the AGGREGATE output — a plain filter
      // gets substituted into the join condition and the distance runs
      // twice per pair (measured 2× at 500k pairs)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(levenshtein(col("ta"), col("tb"), maxDist)).cast("long").as("edit_dist"))
      // thresholded levenshtein returns -1 above maxDist
      .filter(col("edit_dist") >= 0 && col("edit_dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"))
  }

  /** #20b edit-distance near-dup: the character-level confirm on the
    * d02 candidate blocks — catches near-dups whose token shingles
    * diverge (typo bursts) but whose character stream is close. Same
    * blocked scale shape as d02/d04; the per-pair cost is bounded by
    * the banded threshold algorithm. */
  private val d07: Q = (s, dir) =>
    editDistancePairsOf(t(s, dir, "documents"), "doc_id", "text",
        maxDist = 100, shingleN = 3, k = 8, bands = 4)
      .orderBy("doc_a", "doc_b")

  private val d07Sql =
    """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
      |s3 AS (SELECT doc_id,
      |    list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
      |  FROM w WHERE len(ws) >= 3),
      |g AS (SELECT doc_id, GS_DUCK AS gs FROM s3),
      |sig AS (SELECT doc_id, SIG8_DUCK AS sig FROM g),
      |bands AS (SELECT doc_id, sig, b.b AS b,
      |    CAST(sig[2*b.b+1] AS VARCHAR) || '_' || CAST(sig[2*b.b+2] AS VARCHAR) AS bkey
      |  FROM sig, range(0, 4) b(b)),
      |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      |e AS (SELECT doc_a, doc_b,
      |    CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
      |  FROM p JOIN documents da ON p.doc_a = da.doc_id
      |         JOIN documents db ON p.doc_b = db.doc_id)
      |SELECT doc_a, doc_b, edit_dist
      |FROM e
      |WHERE edit_dist <= 100
      |ORDER BY doc_a, doc_b""".stripMargin
      .replace("GS_DUCK", gsDuck).replace("SIG8_DUCK", sigDuck(8))

  // ---- #24 embedding near-dup: deterministic sign-sketch LSH ----

  /** ±1 hyperplane matrix derived from md5 parity, so identical
    * literals can be embedded in both the Spark plan and an oracle. */
  def planesFor(bits: Int, dims: Int): Seq[Seq[Int]] = {
    val mdi = java.security.MessageDigest.getInstance("MD5")
    (0 until bits).map { p =>
      (0 until dims).map { d =>
        val h = mdi.digest(s"$p:$d".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1 else -1
      }
    }
  }

  /** The oracle instantiation: 24 planes × 64 dims. */
  val planes: Seq[Seq[Int]] = planesFor(24, 64)

  /** Per-band sketch width for ~`targetBucket` expected rows per LSH
    * bucket: bits = clamp(ceil(log2(n / targetBucket))) — the
    * documented "band bits grow with log(corpus)" rule as a pure
    * function, so a 100× corpus gets ~6.6 more bits per band with no
    * manual knob change. `maxBits` caps the sketch at what the 64-bit
    * sketch word can carry (60 / bands); recall falls as bits grow, so
    * the clamp floor keeps small corpora from over-blocking. */
  def lshBandBits(n: Long, targetBucket: Long = 32L,
                  minBits: Int = 6, maxBits: Int = 15): Int = {
    require(targetBucket >= 1 && minBits >= 1 && maxBits >= minBits)
    val needed = math.ceil(math.log(math.max(1.0, n.toDouble / targetBucket))
      / math.log(2.0)).toInt
    math.min(maxBits, math.max(minBits, needed))
  }

  /** Embedding-cosine near-dup pairs over ANY (id, vector) table
    * (public operator behind [[graft.Graft.embeddingNearDupPairs]]):
    * `sketchBits`-bit random-hyperplane sign sketch, `bands` bit-slice
    * blocks, exact-cosine confirm at `threshold`. Returns
    * (vec_a, vec_b, cos_sim) — full fidelity. Band bits should grow
    * with log(corpus) to hold per-bucket sizes. */
  def embeddingNearDupOf(vecs: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, sketchBits: Int, bands: Int,
                         dims: Int, maxBucket: Int = Int.MaxValue): DataFrame = {
    require(sketchBits % bands == 0, "sketchBits must divide evenly into bands")
    require(maxBucket >= 2, s"maxBucket must be >= 2, got $maxBucket")
    val cb = sketchBits / bands
    val mask = (1L << cb) - 1
    // native single-pass kernel: all sketch bits in one expression,
    // bit-identical to the composed per-plane folds it replaced
    // (graft.functions.SignSketch — planesFor verbatim)
    // sketch once, not once per self-join side
    val banded = graft.Checkpoints.stabilize(vecs
      .select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("sketch", expr(s"graft_signsketch(__v, $sketchBits, $dims)")))
      .select(col("vec_id"), col("__v"), col("sketch"),
        explode(sequence(lit(0), lit(bands - 1))).as("c"))
      .withColumn("chunk", expr(s"shiftright(sketch, CAST($cb * c AS INT)) & $mask"))
      .select("vec_id", "__v", "c", "chunk")
    val capped = dropHotBuckets(banded, Seq("c", "chunk"), maxBucket)
    val a = capped.select(col("vec_id").as("vec_a"), col("__v").as("va"), col("c"), col("chunk"))
    val b = capped.select(col("vec_id").as("vec_b"), col("__v").as("vb"), col("c"), col("chunk"))
    a.join(b, Seq("c", "chunk"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("cos", expr("graft_cosine(va, vb)"))
      // groupBy = dedup across bands AND an optimization barrier: the
      // threshold filter sits on the aggregate output, so Catalyst cannot
      // push the cosine into the join condition (where it would evaluate
      // outside whole-stage codegen, ~50µs/pair interpreted)
      .groupBy(col("vec_a"), col("vec_b")).agg(max(col("cos")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  // (the Spark-side composed sketch was replaced by the native
  // graft_signsketch kernel — see functions.SignSketch; the DuckDB
  // twin below stays, it IS the oracle)
  private def dotPlaneDuck(p: Int): String =
    s"list_reduce(list_transform(generate_series(1, 64), " +
      s"i -> v[i] * (CAST([${planes(p).mkString(", ")}] AS DOUBLE[]))[i]), (a, b) -> a + b)"

  private[ops] def sketchDuck: String =
    (0 until 24).map(p => s"(CASE WHEN ${dotPlaneDuck(p)} > 0.0 THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")

  /** #24 embedding-cosine near-dup: 24-bit random-hyperplane sign sketch,
    * 4 bands × 6 bits block the self-join; exact cosine ≥ 0.45 confirms.
    * Vectors are L2-normalized BEFORE banding so the per-pair cosine is a
    * single dot fold (⅓ the flops of dot/√·√ per candidate).
    * (Planted testdata has no ≥0.95 pairs; the threshold is a parameter —
    * the pipeline is identical at 0.95, where the sketch prunes hardest.) */
  private val d05: Q = (s, dir) =>
    embeddingNearDupOf(t(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.45, sketchBits = 24, bands = 4, dims = 64)
      .select(col("vec_a"), col("vec_b"), r6(col("cos_sim")).as("cos_sim"))
      .orderBy("vec_a", "vec_b")

  private val d05Sql = {
    val cos = graft.OracleSql.seqCosine("va", "vb", 64)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sk AS (SELECT vec_id, v, $sketchDuck AS sketch FROM e),
       |bands AS (SELECT vec_id, v, sketch, c.c AS c, (sketch >> CAST(6*c.c AS INTEGER)) & 63 AS chunk
       |  FROM sk, range(0, 4) c(c)),
       |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.v AS va, b.v AS vb
       |  FROM bands a JOIN bands b ON a.c = b.c AND a.chunk = b.chunk AND a.vec_id < b.vec_id),
       |g AS (SELECT vec_a, vec_b, max($cos) AS cosv FROM p GROUP BY vec_a, vec_b)
       |SELECT vec_a, vec_b, round(cosv, 6) AS cos_sim
       |FROM g
       |WHERE cosv >= 0.45
       |ORDER BY vec_a, vec_b""".stripMargin
  }

  /** Cross-table embedding near-dup pairs (public operator behind
    * [[graft.Graft.crossNearDupPairs]] and the semantic-decontamination
    * query d09): the d05 sign-sketch band machinery applied BETWEEN two
    * vector tables — both sides sketch with the SAME deterministic
    * planes, candidates only ever pair inside a shared (band, chunk)
    * bucket, exact cosine confirms. Returns (a_id, b_id, cos_sim) with
    * max-across-bands dedup (float max is order-exact, unlike sums).
    * When the right side is small (a benchmark suite), AQE broadcasts
    * it and the left corpus never shuffles. */
  def crossNearDupOf(left: DataFrame, right: DataFrame, idCol: String,
                     vecCol: String, threshold: Double, sketchBits: Int,
                     bands: Int, dims: Int): DataFrame = {
    require(sketchBits % bands == 0, "sketchBits must divide evenly into bands")
    val cb = sketchBits / bands
    val mask = (1L << cb) - 1
    // sketch once per side (round-2 sketch rule)
    def banded(df: DataFrame, side: String): DataFrame = graft.Checkpoints.stabilize(df
      .select(col(idCol).as(s"${side}_id"), col(vecCol).cast("array<double>").as(s"__v$side"))
      .withColumn("sketch", expr(s"graft_signsketch(__v$side, $sketchBits, $dims)")))
      .select(col(s"${side}_id"), col(s"__v$side"), col("sketch"),
        explode(sequence(lit(0), lit(bands - 1))).as("c"))
      .withColumn("chunk", expr(s"shiftright(sketch, CAST($cb * c AS INT)) & $mask"))
      .drop("sketch")
    banded(left, "a").join(banded(right, "b"), Seq("c", "chunk"))
      .withColumn("cos", expr("graft_cosine(__va, __vb)"))
      .groupBy(col("a_id"), col("b_id")).agg(max(col("cos")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** #24c SEMANTIC decontamination — ds07/ds09's embedding-space
    * sibling: training vectors within cosine ≥ τ of ANY benchmark
    * vector are flagged, each with its single best-matching benchmark
    * item as evidence (rank-1 by (cos desc, bench_id) — deterministic).
    * Lexical 8-gram decontamination misses paraphrases; this catches
    * what shares meaning but not surface form. */
  private val d09: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
    val w = Window.partitionBy(col("train_id"))
      .orderBy(col("cos_sim").desc, col("bench_id"))
    crossNearDupOf(e.filter(col("vec_id") < 450), e.filter(col("vec_id") >= 450),
        "vec_id", "embedding", threshold = 0.3, sketchBits = 24, bands = 4, dims = 64)
      .select(col("a_id").as("train_id"), col("b_id").as("bench_id"), col("cos_sim"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("train_id"), col("bench_id"), r6(col("cos_sim")).as("cos_sim"))
      .orderBy("train_id")
  }

  private val d09Sql = {
    val cos = graft.OracleSql.seqCosine("va", "vb", 64)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |sk AS (SELECT vec_id, v, $sketchDuck AS sketch FROM e),
       |bands AS (SELECT vec_id, v, sketch, c.c AS c, (sketch >> CAST(6*c.c AS INTEGER)) & 63 AS chunk
       |  FROM sk, range(0, 4) c(c)),
       |p AS (SELECT a.vec_id AS train_id, b.vec_id AS bench_id, a.v AS va, b.v AS vb
       |  FROM bands a JOIN bands b ON a.c = b.c AND a.chunk = b.chunk
       |  WHERE a.vec_id < 450 AND b.vec_id >= 450),
       |g AS (SELECT train_id, bench_id, max($cos) AS cosv FROM p GROUP BY train_id, bench_id),
       |f AS (SELECT train_id, bench_id, cosv,
       |    row_number() OVER (PARTITION BY train_id ORDER BY cosv DESC, bench_id) AS rnk
       |  FROM g WHERE cosv >= 0.3)
       |SELECT train_id, bench_id, round(cosv, 6) AS cos_sim
       |FROM f WHERE rnk = 1
       |ORDER BY train_id""".stripMargin
  }

  /** #24b near-dup CLUSTERING: connected components over the minhash
    * pair graph (est_sim ≥ 0.5), labeling every clustered doc with the
    * minimum doc_id in its component — the step that turns pairwise
    * near-dup detection into "keep one canonical doc per group"
    * (cluster_id == doc_id marks the keeper).
    *
    * Distributed algorithm: iterative min-label propagation —
    * label(x) ← min(label(x), min over neighbors' labels) until a
    * fixpoint, which Spark executes as one join+partial-min aggregation
    * per round. Near-dup components are near-cliques, so convergence is
    * 2–3 rounds regardless of corpus size; each round shuffles only the
    * edge list (for diameter-heavy graphs swap in large-star/small-star,
    * same skeleton). Labels are persisted per round and the fixpoint
    * check is an aggregate, never a driver-side collect of the data.
    * The DuckDB oracle replays the same fixpoint as a recursive CTE
    * (min over the reflexive-transitive reachability set). */
  private val d06: Q = (s, dir) => {
    val pairs = minhashPairs(s, dir)
      .filter(col("est_sim") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    components(pairs, "doc_a", "doc_b")
      .withColumnRenamed("id", "doc_id")
      .withColumnRenamed("label", "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
      .orderBy("doc_id")
  }

  /** Rounds the last components/componentsStar call took — read by the
    * diameter specs and the ScaleProbe chain case; NOT part of the
    * result contract (single-threaded observation only). */
  private[graft] val ccRounds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the O(log n)-round path for DIAMETER-HEAVY graphs,
    * where [[components]]' min-label propagation needs O(diameter)
    * rounds (a 10k-long chain: 10k joins vs ~a dozen here; near-dup
    * graphs are near-cliques so d06 keeps label propagation, but chain
    * shapes DO occur — shingled plagiarism chains a→b→c where only
    * adjacent revisions pair). Per round, on hi→lo directed edges:
    *   large-star  every node links its LARGER neighbors to the min of
    *               its neighborhood (incl. itself) — halves the depth
    *               of tall trees;
    *   small-star  every node links its smaller-or-equal neighbors and
    *               itself to that min — flattens local stars.
    * Both are one groupBy-min + one join over the edge list (shuffle
    * cost per round identical to a label-prop round); the fixpoint is
    * the star forest rooted at each component's minimum. Convergence
    * check: (count, Σsrc, Σdst in exact DECIMAL) stable AND a
    * containment join proving set equality on the candidate round —
    * never a driver collect. Self-pairs are singleton components.
    * Same output contract as [[components]]: (id, label = component
    * minimum, cluster_size); ClusterSpec-style equality with the
    * label-prop path is pinned by Round11Spec on clique AND chain
    * graphs. */
  def componentsStar(pairs: DataFrame, a: String, b: String): DataFrame = {
    val selfLabels = pairs.filter(col(a) === col(b))
      .select(col(a).as("id"), col(a).as("label")).distinct()
    var edges = graft.Checkpoints.stabilize(
      pairs.filter(col(a) =!= col(b))
        .select(greatest(col(a), col(b)).as("src"), least(col(a), col(b)).as("dst"))
        .distinct())
    def metric(df: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val r = df.agg(count(lit(1)),
        sum(col("src").cast("decimal(38,0)")),
        sum(col("dst").cast("decimal(38,0)"))).head()
      (r.getLong(0),
        Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO),
        Option(r.getDecimal(2)).getOrElse(java.math.BigDecimal.ZERO))
    }
    var prev = metric(edges)
    var rounds = 0
    var converged = prev._1 == 0L
    while (!converged) {
      rounds += 1
      require(rounds <= 64, s"componentsStar did not converge in 64 rounds")
      val sym = edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      val minsL = sym.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("m"))
      val large = sym.join(minsL, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
      val minsS = large.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("m"))
      val small = graft.Checkpoints.stabilize(
        large.join(minsS, "src")
          .select(col("dst").as("src"), col("m").as("dst"))
          .union(minsS.select(col("src"), col("m").as("dst")))
          .filter(col("src") =!= col("dst"))
          .distinct())
      val cur = metric(small)
      if (cur == prev) {
        // metrics agree — prove SET equality before declaring the
        // fixpoint: equal counts + (small ⊆ edges) ⟺ equal sets
        val contained = small.join(edges, Seq("src", "dst")).count()
        converged = contained == cur._1
      }
      graft.Checkpoints.free(edges)
      edges = small
      prev = cur
    }
    ccRounds.set(rounds)
    // fixpoint: every non-root points at its component min; roots are
    // the dst side (and isolated self-pair nodes their own label)
    val labels = edges.select(col("src").as("id"), col("dst").as("label"))
      .union(edges.select(col("dst").as("id"), col("dst").as("label")))
      .union(selfLabels)
      .groupBy(col("id")).agg(min(col("label")).as("label"))
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label").select(col("id"), col("label"), col("cluster_size"))
  }

  /** Connected components over an undirected pair list (public operator
    * behind [[graft.Graft.connectedComponents]] and d06): returns
    * (id, label = component minimum, cluster_size). O(diameter)
    * rounds — right for the near-clique graphs dedup produces; for
    * diameter-heavy graphs use [[componentsStar]] (O(log n) rounds,
    * same contract). */
  def components(pairs: DataFrame, a: String, b: String): DataFrame = {
    val edges = graft.Checkpoints.stabilize(
      pairs.select(col(a).as("src"), col(b).as("dst"))
        .union(pairs.select(col(b).as("src"), col(a).as("dst"))))
    // label(x) ← min(label(x), labels of neighbors) as ONE join + one
    // partial-min aggregation per round. localCheckpoint (reliable
    // checkpoint on a real cluster) truncates lineage each round —
    // without it Catalyst re-optimizes a plan that doubles per
    // iteration and planning time swamps the tiny jobs. Convergence:
    // labels only ever decrease, so the label sum (exact DECIMAL — ids
    // may be large) is strictly monotone and a fixpoint ⟺ equal sums;
    // this needs no second join against the previous labels.
    // init = the first propagation round folded in: label(x) =
    // min(x, direct neighbors) — one groupBy replaces distinct + round 1
    var labels = graft.Checkpoints.stabilize(
      edges.groupBy(col("src").as("id"))
        .agg(least(col("src"), min(col("dst"))).as("label")))
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      // sum over an empty label set is NULL -> treat as 0 (empty graph:
      // no near-dup pairs at this threshold; the loop converges at once)
      val s = df.agg(sum(col("label").cast("decimal(38,0)"))).head().getDecimal(0)
      if (s == null) java.math.BigDecimal.ZERO else s
    }
    var prevSum = labelSum(labels)
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      val next = graft.Checkpoints.stabilize(
        edges.join(labels, edges("dst") === labels("id"))
          .select(col("src").as("id"), col("label"))
          .union(labels)
          .groupBy("id").agg(min(col("label")).as("label")))
      val s2 = labelSum(next) // next is fully materialized past this point
      graft.Checkpoints.free(labels) // previous round's blocks: done with
      labels = next
      converged = s2.compareTo(prevSum) == 0
      prevSum = s2
    }
    ccRounds.set(rounds)
    graft.Checkpoints.free(edges) // the result depends only on labels
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label").select(col("id"), col("label"), col("cluster_size"))
  }

  private val d06Sql =
    """WITH RECURSIVE w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
      |s3 AS (SELECT doc_id,
      |    list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
      |  FROM w WHERE len(ws) >= 3),
      |g AS (SELECT doc_id, GS_DUCK AS gs FROM s3),
      |sig AS (SELECT doc_id, SIG8_DUCK AS sig FROM g),
      |bands AS (SELECT doc_id, sig, b.b AS b,
      |    CAST(sig[2*b.b+1] AS VARCHAR) || '_' || CAST(sig[2*b.b+2] AS VARCHAR) AS bkey
      |  FROM sig, range(0, 4) b(b)),
      |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    list_reduce(list_transform(generate_series(1, 8),
      |      i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1.0 ELSE 0.0 END), (x, y) -> x + y) / CAST(8.0 AS DOUBLE) AS est_sim
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      |sim AS (SELECT doc_a, doc_b FROM p WHERE est_sim >= 0.5),
      |edges AS (SELECT doc_a AS src, doc_b AS dst FROM sim
      |  UNION SELECT doc_b, doc_a FROM sim
      |  UNION SELECT doc_a, doc_a FROM sim
      |  UNION SELECT doc_b, doc_b FROM sim),
      |reach(node, r) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src),
      |labels AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node),
      |sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size FROM labels GROUP BY 1)
      |SELECT doc_id, cluster_id, cluster_size, doc_id = cluster_id AS is_canonical
      |FROM labels JOIN sizes USING (cluster_id)
      |ORDER BY doc_id""".stripMargin
      .replace("GS_DUCK", gsDuck).replace("SIG8_DUCK", sigDuck(8))

  /** Boilerplate-segment removal over ANY (id, text) corpus (public
    * operator behind [[graft.Graft.stripBoilerplate]]) — the CCNet /
    * RefinedWeb line-dedup shape: split each doc on `delim`, count
    * each distinct segment's DOCUMENT frequency across the corpus,
    * and strip segments appearing in ≥ ceil(`minDocFrac`·N) docs from
    * every doc (headers, footers, cookie banners — content repeated
    * verbatim across a corpus carries no training signal). With
    * delim = "\n" this is classic boilerplate-line removal; any
    * delimiter works (the gate query uses " " on the single-line
    * testdata corpus = ubiquitous-token stripping).
    *
    * Returns one row per doc that had ≥ 1 non-empty segment:
    * (id, clean_text, n_kept, n_removed) — `clean_text` rejoins the
    * SURVIVING segments in original order with `delim` (empty
    * segments from consecutive delimiters are dropped, i.e. delimiter
    * runs collapse; all-boilerplate docs yield "").
    *
    * Scale shape: the frequency table is one (segment, id)-distinct
    * aggregate — segment-vocabulary-sized, never corpus-sized after
    * the map-side combine; the boilerplate subset (df ≥ threshold) is
    * tiny and BROADCASTS to the strip join; the rebuild is one
    * groupBy-doc shuffle carrying surviving segments (corpus-sized —
    * inherent to rewriting the corpus, same as t06 normalize). All
    * counts are exact integers and the rebuild order is pinned by
    * segment position, so output is bit-deterministic under any
    * partitioning. */
  def stripBoilerplateOf(docs: DataFrame, id: String, text: String,
                         delim: String, minDocFrac: Double): DataFrame = {
    require(delim.nonEmpty, "delim must be non-empty")
    require(minDocFrac > 0 && minDocFrac <= 1,
      s"minDocFrac must be in (0,1], got $minDocFrac")
    val toks = docs
      .select(col(id).as("__id"),
        posexplode(split(col(text), java.util.regex.Pattern.quote(delim)))
          .as(Seq("__pos", "__tok")))
      .filter(length(col("__tok")) > 0)
    // 1-row corpus count → the threshold is in-plan (scales with the
    // corpus, not a baked constant); both engines ceil the same double
    val total = docs.agg(count(lit(1)).as("__n"))
    val boiler = toks.groupBy(col("__tok"))
      .agg(countDistinct(col("__id")).as("__df"))
      .crossJoin(broadcast(total))
      .filter(col("__df") >= ceil(lit(minDocFrac) * col("__n")))
      .select(col("__tok"), lit(1).as("__b"))
    toks.join(broadcast(boiler), Seq("__tok"), "left")
      .groupBy(col("__id"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(when(col("__b").isNull,
              struct(col("__pos"), col("__tok"))))),
            x => x.getField("__tok")),
          delim).as("clean_text"),
        count(when(col("__b").isNull, 1)).as("n_kept"),
        count(when(col("__b").isNotNull, 1)).as("n_removed"))
      .select(col("__id").as(id), col("clean_text"), col("n_kept"), col("n_removed"))
  }

  /** #d08 boilerplate stripping on the documents corpus: segments =
    * space-separated tokens (the testdata corpus is single-line),
    * threshold 78% of docs — the handful of ubiquitous tokens
    * vanish from every doc, everything else survives in order. */
  private val d08: Q = (s, dir) =>
    stripBoilerplateOf(t(s, dir, "documents"), "doc_id", "text",
        delim = " ", minDocFrac = 0.78)
      .orderBy("doc_id")

  private val d08Sql =
    """WITH raw AS (
      |  SELECT doc_id,
      |    unnest(string_split(text, ' ')) AS tok,
      |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
      |  FROM documents),
      |tf AS (SELECT doc_id, pos, tok FROM raw WHERE tok <> ''),
      |dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
      |boiler AS (SELECT tok FROM dfreq
      |  WHERE df >= ceil(0.78 * (SELECT count(*) FROM documents))),
      |j AS (SELECT t.doc_id, t.pos, t.tok, b.tok AS btok
      |  FROM tf t LEFT JOIN boiler b ON t.tok = b.tok)
      |SELECT doc_id,
      |  coalesce(string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE btok IS NULL), '') AS clean_text,
      |  count(*) FILTER (WHERE btok IS NULL) AS n_kept,
      |  count(*) FILTER (WHERE btok IS NOT NULL) AS n_removed
      |FROM j
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  /** PageRank over a directed edge list (public operator behind
    * [[graft.Graft.pageRank]]) — graph CENTRALITY where [[components]]
    * gives membership: within a near-dup cluster the highest-rank doc
    * is the best canonical pick (the one most-connected to the rest),
    * and on a transition graph it ranks the hub states. Full-batch
    * power iteration with damping:
    *   r⁰ = 1/N;  rᵗ(v) = (1−d)/N + d·Σ_{(u,v)∈E} rᵗ⁻¹(u)/outdeg(u).
    *
    * Contract: every node must have ≥ 1 out-edge (no dangling mass —
    * symmetrize undirected graphs, or add self-loops; validated with
    * one count). Ranks stay a DISTRIBUTED table (corpus-sized, unlike
    * the kmeans driver state); each iteration is one src-keyed join +
    * one dst-keyed window fold — two shuffles, contributions summed
    * as cumulative folds in (dst, src) order (the q33 rule) so every
    * iteration is bit-reproducible. N and (1−d)/N are one driver
    * scalar each. */
  def pageRankOf(edges: DataFrame, srcCol: String, dstCol: String,
                 damping: Double = 0.85, iters: Int = 3): DataFrame = {
    require(damping > 0 && damping < 1, s"damping must be in (0,1), got $damping")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val e = graft.Checkpoints.stabilize(
      edges.select(col(srcCol).as("__s"), col(dstCol).as("__d")).distinct())
    val nodes = graft.Checkpoints.stabilize(
      e.select(col("__s").as("node")).union(e.select(col("__d"))).distinct())
    val n = nodes.count()
    require(n > 0, "empty graph")
    val dangling = nodes.join(e.select(col("__s")).distinct()
      .withColumnRenamed("__s", "node"), Seq("node"), "left_anti").count()
    require(dangling == 0,
      s"$dangling dangling node(s): every node needs an out-edge " +
        "(symmetrize undirected graphs or add self-loops)")
    val outDeg = e.groupBy(col("__s")).agg(count(lit(1)).as("__deg"))
    val base = (1.0 - damping) / n
    val wOrd = Window.partitionBy(col("__d")).orderBy(col("__s"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var r = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to iters) {
      val sums = e
        .join(r.withColumnRenamed("node", "__s"), "__s")
        .join(outDeg, "__s")
        .withColumn("__c", col("rank") / col("__deg"))
        .withColumn("__rn", row_number().over(wOrd))
        .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(col("__d"))))
        .withColumn("__sr", sum(col("__c")).over(wCum))
        .filter(col("__rn") === col("__cnt"))
        .select(col("__d").as("node"), col("__sr"))
      r = nodes.join(sums, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + lit(damping) * coalesce(col("__sr"), lit(0.0))).as("rank"))
    }
    r
  }

  /** #d10 PageRank centrality over the SYMMETRIZED minhash near-dup
    * graph (the d06 edge list): rank ∝ how connected a doc is inside
    * its duplicate neighborhood — the centrality-based canonical pick.
    * The oracle replays the full power iteration as chained CTEs on
    * the identical d02 pair pipeline. */
  private val d10: Q = (s, dir) => {
    val pairs = minhashPairs(s, dir).filter(col("est_sim") >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    val sym = pairs.union(pairs.select(col("doc_b"), col("doc_a")))
    pageRankOf(sym, "doc_a", "doc_b", damping = 0.85, iters = 3)
      .select(col("node").as("doc_id"), r6(col("rank")).as("rank"))
      .orderBy("doc_id")
  }

  private val d10Sql: String = {
    val iters = 3
    val sb = new StringBuilder
    sb ++= """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
             |s3 AS (SELECT doc_id,
             |    list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
             |  FROM w WHERE len(ws) >= 3),
             |g AS (SELECT doc_id, GS_DUCK AS gs FROM s3),
             |sig AS (SELECT doc_id, SIG8_DUCK AS sig FROM g),
             |bands AS (SELECT doc_id, sig, b.b AS b,
             |    CAST(sig[2*b.b+1] AS VARCHAR) || '_' || CAST(sig[2*b.b+2] AS VARCHAR) AS bkey
             |  FROM sig, range(0, 4) b(b)),
             |p AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             |    list_reduce(list_transform(generate_series(1, 8),
             |      i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1.0 ELSE 0.0 END), (x, y) -> x + y) / CAST(8.0 AS DOUBLE) AS est_sim
             |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
             |sim AS (SELECT doc_a, doc_b FROM p WHERE est_sim >= 0.5),
             |e AS (SELECT doc_a AS s, doc_b AS d FROM sim
             |  UNION SELECT doc_b, doc_a FROM sim),
             |nodes AS (SELECT DISTINCT s AS node FROM (SELECT s FROM e UNION ALL SELECT d FROM e)),
             |nn AS (SELECT count(*) AS n FROM nodes),
             |od AS (SELECT s, count(*) AS deg FROM e GROUP BY s),
             |rr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes),
             |""".stripMargin
    for (t <- 1 to iters) {
      sb ++= s"""cc$t AS (
                |  SELECT e.d, e.s, r.rank / od.deg AS c
                |  FROM e JOIN rr${t - 1} r ON e.s = r.node JOIN od ON od.s = e.s),
                |ss$t AS (
                |  SELECT d, sr FROM (
                |    SELECT d, row_number() OVER o AS rn,
                |      count(*) OVER (PARTITION BY d) AS cnt,
                |      sum(c) OVER w AS sr
                |    FROM cc$t
                |    WINDOW o AS (PARTITION BY d ORDER BY s),
                |      w AS (PARTITION BY d ORDER BY s
                |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                |  WHERE rn = cnt),
                |rr$t AS (
                |  SELECT n.node,
                |    (1.0 - 0.85) / (SELECT n FROM nn) + 0.85 * coalesce(ss$t.sr, 0.0) AS rank
                |  FROM nodes n LEFT JOIN ss$t ON n.node = ss$t.d),
                |""".stripMargin
    }
    sb ++= s"""fin AS (SELECT node AS doc_id, round(rank, 6) AS rank FROM rr$iters)
              |SELECT doc_id, rank FROM fin ORDER BY doc_id""".stripMargin
    sb.toString.replace("GS_DUCK", gsDuck).replace("SIG8_DUCK", sigDuck(8))
  }

  /** Exact duplicated-SPAN statistics over ANY (id, text) table (public
    * operator behind [[graft.Graft.substringDupStats]]) — the
    * suffix-array exact-substring dedup of Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better",
    * arXiv:2107.06499) re-expressed relationally: a span of `w` tokens
    * is duplicated iff its stride-1 rolling window hash occurs more
    * than once in the corpus (cross-doc AND within-doc repeats both
    * count, as in the paper). Per surviving doc:
    * (doc_id, n_tokens, n_windows, dup_windows, dup_tokens, dup_frac)
    * where dup_tokens is the MERGED-interval token coverage of the
    * duplicated windows (overlapping spans counted once — the lag-based
    * contribution min(w, p − prevP) is exactly interval union for
    * fixed-width intervals sorted by start).
    *
    * Scale stance: the window table is corpus-token-sized — the
    * irreducible cost of EXACT substring dedup (a suffix array is also
    * O(total tokens)); each row is just (doc_id, pos, 60-bit hash), no
    * text. The duplicate test is a COUNT WINDOW over the hash — one
    * shuffle keyed by h, no self-join, so a span repeated k times costs
    * k rows (never k², unlike pair-emitting LSH: hot hashes are safe
    * by construction). Coverage is one doc_id-keyed shuffle; the final
    * agg reuses that partitioning. Tokenization runs once per side of
    * the stats join (map-only rescans, nothing shuffled twice). */
  def substringDupStatsOf(docs: DataFrame, idCol: String, textCol: String,
                          w: Int): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    // d feeds BOTH the window-explosion chain (wins → dup → cov) and
    // the final per-doc roster join, with DIFFERENT pruned projections
    // — un-checkpointed, the whole tokenize pass over `docs` (and, for
    // p03, the entire surv2 anti-join chain underneath it) executed
    // twice, and the projections defeat ReuseExchange (round-18, guide
    // §1.2 step 1; values bit-identical)
    val d = graft.Checkpoints.stabilize(docs
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("ws"))
      .filter(size(col("ws")) >= w)
      .withColumn("n_tokens", size(col("ws")).cast("long")))
    val wins = d
      .withColumn("p", explode(sequence(lit(0), (col("n_tokens") - w).cast("int"))))
      .withColumn("h", hash60(concat_ws(" ", slice(col("ws"), col("p") + 1, lit(w)))))
      .select(col("doc_id"), col("p"), col("h"))
    val dup = wins
      .withColumn("__cnt", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("__cnt") > 1)
    val cov = dup
      .withColumn("__prev", lag(col("p"), 1).over(
        Window.partitionBy(col("doc_id")).orderBy(col("p"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("dup_windows"),
        sum(when(col("__prev").isNull, lit(w.toLong))
          .otherwise(least(lit(w.toLong), col("p") - col("__prev")))).as("dup_tokens"))
    d.select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - (w - 1)).as("n_windows"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("dup_windows"), lit(0L)).as("dup_windows"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        r6(coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens").cast("double"))
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** #d12 exact duplicated-span stats on the documents corpus, w=10. */
  private val d12: Q = (s, dir) =>
    substringDupStatsOf(t(s, dir, "documents"), "doc_id", "text", w = 10)

  private val d12Sql =
    """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
      |d AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS n_tokens FROM w WHERE len(ws) >= 10),
      |wu AS (SELECT doc_id,
      |    unnest(list_transform(generate_series(1, CAST(n_tokens AS INT) - 9),
      |      i -> struct_pack(p := i - 1,
      |             h := CAST(('0x' || substr(md5(array_to_string(ws[i : i+9], ' ')), 1, 15)) AS BIGINT)))) AS u
      |  FROM d),
      |wins AS (SELECT doc_id, u.p AS p, u.h AS h FROM wu),
      |dh AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
      |dw AS (SELECT doc_id, p FROM wins JOIN dh USING (h)),
      |cov AS (SELECT doc_id, count(*) AS dup_windows,
      |    CAST(sum(CASE WHEN prev IS NULL THEN 10 ELSE least(10, p - prev) END) AS BIGINT) AS dup_tokens
      |  FROM (SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM dw) t
      |  GROUP BY doc_id)
      |SELECT d.doc_id AS doc_id, n_tokens, n_tokens - 9 AS n_windows,
      |  coalesce(dup_windows, 0) AS dup_windows,
      |  coalesce(dup_tokens, 0) AS dup_tokens,
      |  round(coalesce(dup_tokens, 0) / CAST(n_tokens AS DOUBLE), 6) AS dup_frac
      |FROM d LEFT JOIN cov ON d.doc_id = cov.doc_id
      |ORDER BY doc_id""".stripMargin

  /** INCREMENTAL dedup of a new batch against accumulated history (public
    * operator behind [[graft.Graft.incrementalDedup]]) — the daily-loop
    * shape of a 100 TB pipeline: yesterday's corpus is settled, only the
    * new batch needs a verdict. Per batch doc, one row
    * (doc_id, status, match_id, est_sim) with status precedence
    *   'exact' (normalized-md5 match in history; match_id = min matching
    *            history id, est_sim = 1.0)
    * > 'near'  (minhash band candidate vs history with signature
    *            agreement ≥ threshold; match_id = best history match by
    *            (est_sim desc, id asc) — est_sim is an exact multiple of
    *            1/k so the tie-break is deterministic)
    * > 'new'   (no history evidence; match_id/est_sim null).
    *
    * Scale stance: history never compares against itself — its md5 set
    * and minhash signatures are map-only projections (precompute them
    * once into a [[graft.sinks.VersionedStore]] fingerprint table and
    * pass THAT as `history` with `textCol` already reduced, or let this
    * recompute them). The exact probe is an equi-join on md5; the near
    * probe only pairs batch docs that survived the exact probe against
    * history rows sharing an LSH band bucket — candidates are
    * (batch ∩ bucket)×(history ∩ bucket), never batch×history.
    * `maxBucket` caps degenerate history buckets (same contract as
    * [[minhashPairsOf]]). Within-batch duplicates are deliberately NOT
    * flagged — run d01/d02 on the batch itself for that; this operator
    * answers "is it new relative to the store". */
  def incrementalDedupOf(history: DataFrame, batch: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int = 3, k: Int = 8, bands: Int = 4,
                         threshold: Double = 0.5,
                         maxBucket: Int = Int.MaxValue): DataFrame =
    incrementalDedupProbeOf(sigsOf(history, idCol, textCol, shingleN, k),
      sigsOf(batch, idCol, textCol, shingleN, k), k, bands, threshold, maxBucket)

  /** Normalized-md5 + minhash SIGNATURE table for ANY doc table — the
    * evidence columns [[incrementalDedupProbeOf]] probes: (doc_id,
    * __m, sig), sig NULL for docs too short to shingle (they still
    * exact-match by md5). At 100 TB this is the SIG-STORE shape: each
    * document's signature is computed ONCE, ever, and persisted;
    * every later batch probes stored signatures instead of re-hashing
    * the accumulated corpus per tick (the [[graft.streaming.StreamOps
    * .streamingIncrementalDedup]] store is exactly this table plus a
    * batch_id partition column). */
  def sigsOf(docs: DataFrame, idCol: String, textCol: String,
             shingleN: Int = 3, k: Int = 8): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .withColumn("__m", md5(trim(regexp_replace(lower(col("__text")), "\\s+", " "))))
      .withColumn("__ws", words(col("__text")))
      .withColumn("sig",
        when(size(col("__ws")) >= shingleN, expr(s"graft_minhash(__ws, $shingleN, $k)")))
      .select(col("doc_id"), col("__m"), col("sig"))

  /** The probe half of [[incrementalDedupOf]], over PRECOMPUTED
    * signature tables (both sides in [[sigsOf]] layout — history ids
    * read from its `doc_id`): exact md5 match (min history id wins) >
    * banded minhash near ≥ threshold (best est_sim, min id tie-break)
    * > new. Verdict set and values identical to the text form — the
    * split exists so a streaming/incremental deployment pays the
    * signature computation once per document instead of once per
    * (document × tick). */
  def incrementalDedupProbeOf(histSigs: DataFrame, batchSigs: DataFrame,
                              k: Int = 8, bands: Int = 4,
                              threshold: Double = 0.5,
                              maxBucket: Int = Int.MaxValue): DataFrame = {
    require(k % bands == 0, "k must divide evenly into bands")
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1], got $threshold")
    val h = histSigs.select(col("doc_id").as("hid"), col("__m"), col("sig"))
    val b = batchSigs.select(col("doc_id"), col("__m"), col("sig"))
    val hMd5 = h.groupBy(col("__m")).agg(min(col("hid")).as("match_id"))
    val probed = b.join(hMd5, Seq("__m"), "left")
    val exactDup = probed.filter(col("match_id").isNotNull)
      .select(col("doc_id"), lit("exact").as("status"), col("match_id"),
        lit(1.0).as("est_sim"))
    val rest = probed.filter(col("match_id").isNull).select(col("doc_id"), col("sig"))

    val r = k / bands
    val bkey = (0 until r)
      .map(i => s"CAST(sig[$r*b+$i] AS STRING)").mkString("concat_ws('_', ", ", ", ")")
    def banded(df: DataFrame): DataFrame = df
      .filter(col("sig").isNotNull)
      .withColumn("b", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("bkey", expr(bkey))
    val hb = dropHotBuckets(banded(h.select(col("hid"), col("sig"))),
        Seq("b", "bkey"), maxBucket)
      .select(col("hid"), col("sig").as("hsig"), col("b"), col("bkey"))
    val rb = banded(rest)
      .select(col("doc_id"), col("sig"), col("b"), col("bkey"))
    val near = rb.join(hb, Seq("b", "bkey"))
      .withColumn("est_sim", expr("graft_sig_agree(sig, hsig)").cast("double") / k.toDouble)
      .filter(col("est_sim") >= threshold)
      .select(col("doc_id"), col("hid"), col("est_sim")).distinct()
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("est_sim").desc, col("hid"))))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), lit("near").as("status"),
        col("hid").as("match_id"), col("est_sim"))
    val fresh = rest.select(col("doc_id")).join(near, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("new").as("status"),
        lit(null).cast("long").as("match_id"), lit(null).cast("double").as("est_sim"))
    exactDup.union(near).union(fresh).orderBy("doc_id")
  }

  /** #d13 incremental dedup on the documents corpus: batch = every 5th
    * doc_id, history = the rest — the store-vs-tick split. */
  private val d13: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    incrementalDedupOf(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0),
      "doc_id", "text")
  }

  private val d13Sql =
    """WITH hist AS (SELECT doc_id AS hid, text FROM documents WHERE doc_id % 5 <> 0),
      |bat AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
      |hmd5 AS (SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS m,
      |    min(hid) AS match_id
      |  FROM hist GROUP BY 1),
      |probed AS (SELECT b.doc_id, b.text, h.match_id
      |  FROM bat b LEFT JOIN hmd5 h
      |    ON md5(trim(regexp_replace(lower(b.text), '\s+', ' ', 'g'))) = h.m),
      |hw AS (SELECT hid, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM hist),
      |hs3 AS (SELECT hid,
      |    list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
      |  FROM hw WHERE len(ws) >= 3),
      |hg AS (SELECT hid, GS_DUCK AS gs FROM hs3),
      |hsig AS (SELECT hid, SIG8_DUCK AS sig FROM hg),
      |rw AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      |  FROM probed WHERE match_id IS NULL),
      |rs3 AS (SELECT doc_id,
      |    list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
      |  FROM rw WHERE len(ws) >= 3),
      |rg AS (SELECT doc_id, GS_DUCK AS gs FROM rs3),
      |rsig AS (SELECT doc_id, SIG8_DUCK AS sig FROM rg),
      |hb AS (SELECT hid, sig, b.b AS b,
      |    CAST(sig[2*b.b+1] AS VARCHAR) || '_' || CAST(sig[2*b.b+2] AS VARCHAR) AS bkey
      |  FROM hsig, range(0, 4) b(b)),
      |rb AS (SELECT doc_id, sig, b.b AS b,
      |    CAST(sig[2*b.b+1] AS VARCHAR) || '_' || CAST(sig[2*b.b+2] AS VARCHAR) AS bkey
      |  FROM rsig, range(0, 4) b(b)),
      |cand AS (SELECT DISTINCT r.doc_id, h.hid,
      |    list_reduce(list_transform(generate_series(1, 8),
      |      i -> CASE WHEN r.sig[i] = h.sig[i] THEN 1.0 ELSE 0.0 END), (x, y) -> x + y) / 8.0 AS est_sim
      |  FROM rb r JOIN hb h ON r.b = h.b AND r.bkey = h.bkey),
      |near AS (SELECT doc_id, 'near' AS status,
      |    first(hid ORDER BY est_sim DESC, hid) AS match_id, max(est_sim) AS est_sim
      |  FROM cand WHERE est_sim >= 0.5 GROUP BY doc_id),
      |ex AS (SELECT doc_id, 'exact' AS status, match_id, CAST(1.0 AS DOUBLE) AS est_sim
      |  FROM probed WHERE match_id IS NOT NULL),
      |fresh AS (SELECT p.doc_id, 'new' AS status, CAST(NULL AS BIGINT) AS match_id,
      |    CAST(NULL AS DOUBLE) AS est_sim
      |  FROM probed p
      |  WHERE p.match_id IS NULL AND NOT EXISTS (SELECT 1 FROM near n WHERE n.doc_id = p.doc_id))
      |SELECT doc_id, status, match_id, est_sim FROM ex
      |UNION ALL SELECT doc_id, status, match_id, est_sim FROM near
      |UNION ALL SELECT doc_id, status, match_id, est_sim FROM fresh
      |ORDER BY doc_id""".stripMargin
      .replace("GS_DUCK", gsDuck).replace("SIG8_DUCK", sigDuck(8))

  /** #st09 the streaming incremental-dedup LOOP as a two-tick batch
    * REPLAY (the batch-equivalent entry for [[graft.streaming
    * .StreamOps.streamingIncrementalDedup]], the d13 rule applied per
    * tick over an ADVANCING history): signatures computed ONCE for the
    * whole corpus ([[sigsOf]] — the sig-store shape), then tick 1
    * probes batch₁ (even gate docs) against the seed history and
    * tick 2 probes batch₂ (odd gate docs) against seed ∪ batch₁ — so
    * a batch₂ doc whose only duplicate arrived IN batch₁ must flag,
    * which is precisely the wiring a one-shot d13 can't see. The
    * oracle replays both ticks from one shared signature CTE. */
  private val st09: Q = (s, dir) => {
    // materialized once: both ticks traverse the signature table (the
    // phashPairsOf sig-checkpoint rule — no cross-tick CSE in Catalyst);
    // the streaming deployment reads sigs from its parquet store instead
    val sigs = graft.Checkpoints.stabilize(
      sigsOf(t(s, dir, "documents"), "doc_id", "text"))
    val h1 = sigs.filter(col("doc_id") % 5 =!= 0)
    val b1 = sigs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 2 === 0)
    val b2 = sigs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 2 =!= 0)
    val t1 = incrementalDedupProbeOf(h1, b1).withColumn("tick", lit(1L))
    val t2 = incrementalDedupProbeOf(h1.union(b1), b2).withColumn("tick", lit(2L))
    t1.union(t2)
      .select(col("tick"), col("doc_id"), col("status"), col("match_id"), col("est_sim"))
      .orderBy("tick", "doc_id")
  }

  private def st09Tick(n: Int, hist: String, bat: String): String =
    s"""hmd5_$n AS (SELECT m, min(doc_id) AS match_id FROM $hist GROUP BY m),
       |p_$n AS (SELECT b.doc_id, b.sig, h.match_id
       |  FROM $bat b LEFT JOIN hmd5_$n h ON b.m = h.m),
       |hb_$n AS (SELECT doc_id AS hid, sig, b.b AS b,
       |    CAST(sig[2*b.b+1] AS VARCHAR) || '_' || CAST(sig[2*b.b+2] AS VARCHAR) AS bkey
       |  FROM $hist, range(0, 4) b(b) WHERE sig IS NOT NULL),
       |rb_$n AS (SELECT doc_id, sig, b.b AS b,
       |    CAST(sig[2*b.b+1] AS VARCHAR) || '_' || CAST(sig[2*b.b+2] AS VARCHAR) AS bkey
       |  FROM p_$n, range(0, 4) b(b) WHERE match_id IS NULL AND sig IS NOT NULL),
       |cand_$n AS (SELECT DISTINCT r.doc_id, h.hid,
       |    list_reduce(list_transform(generate_series(1, 8),
       |      i -> CASE WHEN r.sig[i] = h.sig[i] THEN 1.0 ELSE 0.0 END), (x, y) -> x + y) / 8.0 AS est_sim
       |  FROM rb_$n r JOIN hb_$n h ON r.b = h.b AND r.bkey = h.bkey),
       |near_$n AS (SELECT doc_id, 'near' AS status,
       |    first(hid ORDER BY est_sim DESC, hid) AS match_id, max(est_sim) AS est_sim
       |  FROM cand_$n WHERE est_sim >= 0.5 GROUP BY doc_id),
       |ex_$n AS (SELECT doc_id, 'exact' AS status, match_id, CAST(1.0 AS DOUBLE) AS est_sim
       |  FROM p_$n WHERE match_id IS NOT NULL),
       |fresh_$n AS (SELECT p.doc_id, 'new' AS status, CAST(NULL AS BIGINT) AS match_id,
       |    CAST(NULL AS DOUBLE) AS est_sim
       |  FROM p_$n p
       |  WHERE p.match_id IS NULL AND NOT EXISTS (SELECT 1 FROM near_$n q WHERE q.doc_id = p.doc_id)),
       |t_$n AS (SELECT CAST($n AS BIGINT) AS tick, doc_id, status, match_id, est_sim FROM ex_$n
       |  UNION ALL SELECT CAST($n AS BIGINT), doc_id, status, match_id, est_sim FROM near_$n
       |  UNION ALL SELECT CAST($n AS BIGINT), doc_id, status, match_id, est_sim FROM fresh_$n)""".stripMargin

  private val st09Sql =
    s"""WITH w AS (SELECT doc_id,
       |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS m,
       |    regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |  FROM documents),
       |s3 AS (SELECT doc_id,
       |    list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
       |  FROM w WHERE len(ws) >= 3),
       |g AS (SELECT doc_id, GS_DUCK AS gs FROM s3),
       |sg AS (SELECT doc_id, SIG8_DUCK AS sig FROM g),
       |sigs AS (SELECT w.doc_id, w.m, sg.sig FROM w LEFT JOIN sg ON w.doc_id = sg.doc_id),
       |h1 AS (SELECT * FROM sigs WHERE doc_id % 5 <> 0),
       |b1 AS (SELECT * FROM sigs WHERE doc_id % 5 = 0 AND doc_id % 2 = 0),
       |b2 AS (SELECT * FROM sigs WHERE doc_id % 5 = 0 AND doc_id % 2 <> 0),
       |h2 AS (SELECT * FROM h1 UNION ALL SELECT * FROM b1),
       |${st09Tick(1, "h1", "b1")},
       |${st09Tick(2, "h2", "b2")}
       |SELECT tick, doc_id, status, match_id, est_sim FROM t_1
       |UNION ALL SELECT tick, doc_id, status, match_id, est_sim FROM t_2
       |ORDER BY tick, doc_id""".stripMargin
      .replace("GS_DUCK", gsDuck).replace("SIG8_DUCK", sigDuck(8))

  /** #p03 the DEDUP GAUNTLET as ONE oracle-checked plan (the curation
    * sibling of p01's split/pack pipeline and p02's market loop): every
    * document gets a PROVENANCE VERDICT from the three-stage chain a
    * pretraining corpus actually runs —
    *   'exact_dup'  not the min-id keeper of its normalized-md5 group
    *                (the d01 rule);
    *   'near_dup'   among exact survivors, has a ≥0.5 minhash-band
    *                pair with ANY smaller id (the d11 greedy
    *                keep-lowest-id drop, transitive-over-drop);
    *   'substr_dup' among near survivors, ≥60% of its tokens covered
    *                by spans duplicated WITHIN the survivor corpus
    *                (the d12 stats — stage order matters: spans killed
    *                with their exact/near duplicates no longer count);
    *   'kept'       everything else.
    * One row per doc: (doc_id, verdict, n_tokens, dup_frac — null
    * before stage 3). The oracle replays all three stages as one CTE
    * chain, so the gate proves the WIRING: stage-2 pairs computed on
    * stage-1 survivors, stage-3 windows on stage-2 survivors.
    *
    * The corpus carries no exact duplicates and its span-duplicates
    * are all near-dups, so (t07 precedent) the gate plants
    * deterministic in-plan augmentations that make every verdict
    * observable: ids+10000 = byte-identical copies of docs 0–4
    * (exact_dup), ids 20000–20004 = SELF-REPEATING docs (a 10-token
    * phrase twice + filler) whose windows duplicate internally at
    * 95.8% coverage while their shingles pair with nothing —
    * substr_dup by construction, unreachable by stages 1–2. */
  private def selfRepText(i: Int): String = {
    val p = ('a' to 'j').map(c => s"rep$i$c").mkString(" ")
    val f = ('w' to 'z').map(c => s"fill$i$c").mkString(" ")
    s"$p $p $f"
  }

  private val p03: Q = (s, dir) => {
    import s.implicits._
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val exactPlants = base.filter(col("doc_id") < 5)
      .select((col("doc_id") + 10000L).as("doc_id"), col("text"))
    val selfRep = (0 until 5).map(i => (20000L + i, selfRepText(i))).toDF("doc_id", "text")
    val docs = base.union(exactPlants).union(selfRep)
    val norm = docs
      .withColumn("__m", md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))))
      .withColumn("n_tokens", size(words(col("text"))).cast("long"))
    val keepers = norm.groupBy(col("__m")).agg(min(col("doc_id")).as("__keep"))
    val st1 = norm.join(keepers, Seq("__m"))
      .withColumn("__exact_dup", col("doc_id") =!= col("__keep"))
    val surv1 = st1.filter(!col("__exact_dup")).select(col("doc_id"), col("text"))
    // __near rides on the SHARED dropNear frame and the stage-2 anti
    // join becomes a left join + isNull filter (identical semantics:
    // dropNear is distinct, so multiplicity is exactly 1). The frame is
    // checkpointed: its two consumers now live in SEPARATE plans (the
    // stage-2 copy moved inside substringDupStatsOf's tokenize
    // checkpoint lineage), so the in-action ReuseExchange sharing that
    // made the round-17 dropNear checkpoint a loss no longer exists to
    // be broken — without the checkpoint the band self-join chain would
    // execute once per plan (round-18; values bit-identical).
    val dropNear = graft.Checkpoints.stabilize(
      minhashPairsOf(surv1, "doc_id", "text", shingleN = 3, k = 8, bands = 4)
        .filter(col("est_sim") >= 0.5)
        .select(col("doc_b").as("doc_id")).distinct()
        .withColumn("__near", lit(1)))
    val surv2 = surv1.join(dropNear, Seq("doc_id"), "left")
      .filter(col("__near").isNull)
      .select(col("doc_id"), col("text"))
    val frac = substringDupStatsOf(surv2, "doc_id", "text", w = 10)
      .select(col("doc_id"), col("dup_frac"))
    st1.select(col("doc_id"), col("n_tokens"), col("__exact_dup"))
      .join(dropNear, Seq("doc_id"), "left")
      .join(frac, Seq("doc_id"), "left")
      .withColumn("verdict",
        when(col("__exact_dup"), lit("exact_dup"))
          .when(col("__near").isNotNull, lit("near_dup"))
          .when(col("dup_frac") >= 0.6, lit("substr_dup"))
          .otherwise(lit("kept")))
      .select(col("doc_id"), col("verdict"), col("n_tokens"), col("dup_frac"))
      .orderBy("doc_id")
  }

  private val p03Sql = {
    val plantRows = (0 until 5)
      .map(i => s"(${20000L + i}, '${selfRepText(i)}')").mkString(", ")
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 10000, text FROM documents WHERE doc_id < 5
      |  UNION ALL SELECT * FROM (VALUES PLANT_ROWS) pl(doc_id, text)),
      |n AS (SELECT doc_id, text,
      |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS m,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
      |  FROM aug),
      |k AS (SELECT m, min(doc_id) AS keep FROM n GROUP BY m),
      |s1 AS (SELECT n.doc_id, n.text, n.n_tokens, (n.doc_id <> k.keep) AS exact_dup
      |  FROM n JOIN k ON n.m = k.m),
      |surv1 AS (SELECT doc_id, text FROM s1 WHERE NOT exact_dup),
      |w1 AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM surv1),
      |s3 AS (SELECT doc_id,
      |    list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS sh
      |  FROM w1 WHERE len(ws) >= 3),
      |g AS (SELECT doc_id, GS_DUCK AS gs FROM s3),
      |sig AS (SELECT doc_id, SIG8_DUCK AS sig FROM g),
      |bands AS (SELECT doc_id, sig, b.b AS b,
      |    CAST(sig[2*b.b+1] AS VARCHAR) || '_' || CAST(sig[2*b.b+2] AS VARCHAR) AS bkey
      |  FROM sig, range(0, 4) b(b)),
      |p AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
      |    list_reduce(list_transform(generate_series(1, 8),
      |      i -> CASE WHEN a.sig[i] = b.sig[i] THEN 1.0 ELSE 0.0 END), (x, y) -> x + y) / 8.0 AS sim
      |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      |dropn AS (SELECT DISTINCT db AS doc_id FROM p WHERE sim >= 0.5),
      |surv2 AS (SELECT s.doc_id, s.text FROM surv1 s
      |  WHERE NOT EXISTS (SELECT 1 FROM dropn d WHERE d.doc_id = s.doc_id)),
      |w2 AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM surv2),
      |d2 AS (SELECT doc_id, ws, CAST(len(ws) AS BIGINT) AS nt FROM w2 WHERE len(ws) >= 10),
      |wu AS (SELECT doc_id,
      |    unnest(list_transform(generate_series(1, CAST(nt AS INT) - 9),
      |      i -> struct_pack(p := i - 1,
      |             h := CAST(('0x' || substr(md5(array_to_string(ws[i : i+9], ' ')), 1, 15)) AS BIGINT)))) AS u
      |  FROM d2),
      |wins AS (SELECT doc_id, u.p AS p, u.h AS h FROM wu),
      |dh AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
      |dw AS (SELECT doc_id, p FROM wins JOIN dh USING (h)),
      |cov AS (SELECT doc_id,
      |    CAST(sum(CASE WHEN prev IS NULL THEN 10 ELSE least(10, p - prev) END) AS BIGINT) AS c
      |  FROM (SELECT doc_id, p, lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev FROM dw) t
      |  GROUP BY doc_id),
      |frac AS (SELECT d2.doc_id AS doc_id,
      |    round(coalesce(c, 0) / CAST(nt AS DOUBLE), 6) AS dup_frac
      |  FROM d2 LEFT JOIN cov ON d2.doc_id = cov.doc_id)
      |SELECT s1.doc_id AS doc_id,
      |  CASE WHEN s1.exact_dup THEN 'exact_dup'
      |       WHEN dropn.doc_id IS NOT NULL THEN 'near_dup'
      |       WHEN frac.dup_frac >= 0.6 THEN 'substr_dup'
      |       ELSE 'kept' END AS verdict,
      |  s1.n_tokens, frac.dup_frac
      |FROM s1
      |LEFT JOIN dropn ON s1.doc_id = dropn.doc_id
      |LEFT JOIN frac ON s1.doc_id = frac.doc_id
      |ORDER BY doc_id""".stripMargin
      .replace("PLANT_ROWS", plantRows)
      .replace("GS_DUCK", gsDuck).replace("SIG8_DUCK", sigDuck(8))
  }

  val queries: Map[String, Q] = Map(
    "p03_curation_pipeline" -> p03,
    "ds20_split_leakage" -> ds20,
    "ds22_dedup_curve" -> ds22,
    "d14_minhash_calibration" -> d14,
    "d13_incremental_dedup" -> d13,
    "st09_stream_inc_dedup" -> st09,
    "d12_substring_dedup" -> d12,
    "d10_graph_rank" -> d10,
    "d08_boilerplate" -> d08,
    "d01_dedup_exact" -> d01,
    "d02_minhash_lsh" -> d02,
    "d03_simhash" -> d03,
    "d04_ngram_jaccard" -> d04,
    "d05_embedding_neardup" -> d05,
    "d09_embed_decontaminate" -> d09,
    "d06_neardup_clusters" -> d06,
    "d07_edit_distance" -> d07)

  val oracle: Map[String, String] = Map(
    "p03_curation_pipeline" -> p03Sql,
    "ds20_split_leakage" -> ds20Sql,
    "ds22_dedup_curve" -> ds22Sql,
    "d14_minhash_calibration" -> d14Sql,
    "d13_incremental_dedup" -> d13Sql,
    "st09_stream_inc_dedup" -> st09Sql,
    "d12_substring_dedup" -> d12Sql,
    "d10_graph_rank" -> d10Sql,
    "d08_boilerplate" -> d08Sql,
    "d01_dedup_exact" -> d01Sql,
    "d02_minhash_lsh" -> d02Sql,
    "d03_simhash" -> d03Sql,
    "d04_ngram_jaccard" -> d04Sql,
    "d05_embedding_neardup" -> d05Sql,
    "d09_embed_decontaminate" -> d09Sql,
    "d06_neardup_clusters" -> d06Sql,
    "d07_edit_distance" -> d07Sql)
}
