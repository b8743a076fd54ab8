package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The public operator API — every capability the oracle-checked
  * queries demonstrate, as parameterized, reusable functions over any
  * DataFrame with the named columns. The `SparkEntry.queries` entries
  * are thin instantiations of these (fixed columns + presentation
  * rounding/epoch-ms/ordering for the DuckDB hash compare); a library
  * user calls these directly with their own schema.
  *
  * Contract: operators return full-fidelity values (no rounding) and
  * no presentation ordering; every operator keeps the single-shuffle /
  * blocked-join scale shapes documented in SURVEY.md §4.
  */
object Graft {

  /** Dedup keep-last per key: the highest `priority` row wins (the
    * reference's drop_duplicates(keep='last') with an explicit order —
    * pandas row order does not exist in a distributed table). */
  def dedupKeepLast(df: DataFrame, keys: Seq[String], priority: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(priority.map(_.desc): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Resample to coarser OHLCV bars: first/last by (ts, id), min/max,
    * volume sum and count per (key, time bucket). `unit` is a
    * date_trunc unit ("hour", "day", ...). */
  def resampleOhlc(df: DataFrame, key: String, ts: String, id: String,
                   value: String, unit: String): DataFrame =
    df.groupBy(col(key), date_trunc(unit, col(ts)).as("bucket"))
      .agg(
        min_by(col(value), struct(col(ts), col(id))).as("open"),
        max(col(value)).as("high"),
        min(col(value)).as("low"),
        max_by(col(value), struct(col(ts), col(id))).as("close"),
        sum(col(value)).as("volume"),
        count(lit(1)).as("n_trades"))

  /** Linearly-weighted moving average over the last `n` rows per key
    * (pandas_ta semantics: null until the window is full). Appends
    * `wma`. Every sum runs over the bounded n-row frame, with
    * FRAME-RELATIVE weights so no term grows with the history: with
    * m = rn mod 2n, row j of the frame ending at row t weighs
    * m_j − m_t + n, less 2n on the rows before m wraps (m_j ≥ n while
    * m_t < n), so
    *   Σw·x = Σx·m − (m_t − n)·Σx − [m_t < n]·2n·Σ(x where m ≥ n).
    * Error and cost, one key of 10^6 random-walk rows near 50 at
    * local[4] against a direct convolution: 1.9e-15 relative at n = 12
    * and 5.0e-15 at n = 120, where an O(1)-per-row running-sum
    * difference (cum − lag(cum, n), terms growing as rn²·x̄) reaches
    * 2.4e-5 and 7.9e-7. The window step takes 1.6–2.9 s at n = 12
    * (running-sum difference: 1.0–1.4 s) and 8.0–10.5 s at n = 120
    * (1.4–1.8 s), because a bounded frame re-sums its n rows on every
    * row (SURVEY §6) — the price of a bounded error. */
  def wma(df: DataFrame, key: String, ts: String, id: String,
          value: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val ord = Window.partitionBy(col(key)).orderBy(col(ts), col(id))
    val frame = ord.rowsBetween(1 - n, Window.currentRow)
    val m = col("__m")
    df.withColumn("__rn", row_number().over(ord))
      .withColumn("__m", col("__rn") % (2 * n))
      .withColumn("__sxm", sum(col(value) * m).over(frame))
      .withColumn("__sx", sum(col(value)).over(frame))
      .withColumn("__sxh", sum(when(m >= n, col(value)).otherwise(lit(0.0))).over(frame))
      .withColumn("wma",
        when(col("__rn") >= n,
          (col("__sxm") - (m - n) * col("__sx") -
            when(m < n, lit(2.0 * n) * col("__sxh")).otherwise(lit(0.0))) /
            lit(n * (n + 1) / 2.0)))
      .drop("__rn", "__m", "__sxm", "__sx", "__sxh")
  }

  /** Rolling Pearson correlation between `value` and its 1-step lag
    * over the last `n` (value, lag) pairs per key (autocorrelation of
    * the series). Appends `corr` to EVERY input row; null until the
    * window is full (including the first row per key, which has no
    * lag pair) or on zero variance. The five sums run over the bounded
    * n-row frame; the first row contributes nothing to them (its gated
    * terms are null), so the window math is gated on the running count
    * of valid pairs rather than filtering rows out. */
  def rollingAutoCorr(df: DataFrame, key: String, ts: String, id: String,
                      value: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val ord = Window.partitionBy(col(key)).orderBy(col(ts), col(id))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val frame = ord.rowsBetween(1 - n, Window.currentRow)
    df.withColumn("__y", lag(col(value), 1).over(ord))
      .withColumn("__x", when(col("__y").isNotNull, col(value)))
      .withColumn("__rn", count(col("__y")).over(cum)) // valid pairs so far
      .withColumn("__sx", sum(col("__x")).over(frame))
      .withColumn("__sy", sum(col("__y")).over(frame))
      .withColumn("__sxy", sum(col("__x") * col("__y")).over(frame))
      .withColumn("__sx2", sum(col("__x") * col("__x")).over(frame))
      .withColumn("__sy2", sum(col("__y") * col("__y")).over(frame))
      .withColumn("__vx", lit(n) * col("__sx2") - col("__sx") * col("__sx"))
      .withColumn("__vy", lit(n) * col("__sy2") - col("__sy") * col("__sy"))
      .withColumn("corr",
        when(col("__rn") >= n && col("__vx") > 0 && col("__vy") > 0,
          (lit(n) * col("__sxy") - col("__sx") * col("__sy")) /
            (sqrt(col("__vx")) * sqrt(col("__vy")))))
      .drop("__y", "__x", "__rn", "__sx", "__sy", "__sxy", "__sx2", "__sy2", "__vx", "__vy")
  }

  /** Gap-based sessionization: rows within `gapMs` of the previous row
    * (per key) share a session. Returns per-session summaries
    * (key, session_id, start/end ts, n_events, total of `value`). */
  def sessionize(df: DataFrame, key: String, ts: String, id: String,
                 value: String, gapMs: Long): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(id))
    val wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("__prev", lag(col(ts), 1).over(w))
      .withColumn("__new",
        when(col("__prev").isNull ||
          unix_millis(col(ts).cast("timestamp")) - unix_millis(col("__prev")) > gapMs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__new")).over(wrun))
      .groupBy(col(key), col("session_id"))
      .agg(min(col(ts)).as("start_ts"), max(col(ts)).as("end_ts"),
        count(lit(1)).as("n_events"), sum(col(value)).as("total_value"))
  }

  /** Per-series time-gap report: successor gaps larger than `minGapMs`
    * (the reference's validate_data completeness check). */
  def gaps(df: DataFrame, key: String, ts: String, id: String, minGapMs: Long): DataFrame = {
    val ord = Window.partitionBy(col(key)).orderBy(col(ts), col(id))
    df.withColumn("__ms", unix_millis(col(ts).cast("timestamp")))
      .withColumn("__next", lead(col("__ms"), 1).over(ord))
      .filter(col("__next").isNotNull && col("__next") - col("__ms") > minGapMs)
      .select(col(key), col("__ms").as("gap_start_ms"),
        col("__next").as("gap_end_ms"), (col("__next") - col("__ms")).as("gap_ms"))
  }

  /** As-of join — the operator Spark lacks natively: each left row
    * gains the latest right row at-or-before its timestamp per key
    * (plus `asof_ts`, the matched right timestamp; all null when no
    * right row precedes). Implemented as the union + carry-last-
    * non-null plan: ONE shuffle on the key, one sort, no range
    * explosion — at 100 TB this is the scalable as-of shape (a range
    * join would explode; per-key loops would not distribute).
    *
    * The matched right row is carried as ONE struct of
    * (right ts, valueCols), so the output always reflects a single
    * right row — a null value column in the matched row stays null
    * rather than being back-filled from an older right row (DuckDB /
    * pandas `merge_asof` semantics).
    *
    * Contract: `right` is unique per (key, ts) — pre-aggregate it
    * (e.g. [[dedupKeepLast]]) if not. At equal timestamps the right
    * row is visible to the left row (`>=` as-of semantics backward,
    * `<=` forward — both inclusive, the pandas/DuckDB convention).
    * Carried column names and `asof_ts` must not collide with left
    * columns (validated); internal temp names are generated
    * collision-free against both schemas.
    *
    * @param valueCols right columns carried onto matches
    * @param direction "backward" (default: latest right at-or-BEFORE
    *   the left ts — enrichment with the last known state) or
    *   "forward" (earliest right at-or-AFTER — label joins: the next
    *   fill after an order, the next observation after an event;
    *   pandas `merge_asof(direction='forward')`). Same single-shuffle
    *   union+carry plan either way, with the carry frame reversed. */
  def asofJoin(left: DataFrame, right: DataFrame, key: String, ts: String,
               valueCols: Seq[String], direction: String = "backward"): DataFrame = {
    require(direction == "backward" || direction == "forward",
      s"""direction must be "backward" or "forward", got "$direction"""")
    val forward = direction == "forward"
    val lCols = left.columns.filterNot(c => c == key || c == ts).toSeq
    val clash = valueCols.filter(c => c == key || c == ts || lCols.contains(c)) ++
      (if (left.columns.contains("asof_ts") || valueCols.contains("asof_ts")) Seq("asof_ts") else Nil)
    require(clash.isEmpty,
      s"asofJoin output name collision on ${clash.distinct.mkString(", ")}: " +
        "carried right columns and asof_ts must not collide with left columns")
    val taken = (left.columns ++ right.columns).toSet
    val p = Iterator.from(0).map(i => s"__asof${if (i == 0) "" else i.toString}_")
      .find(pfx => !taken.exists(_.startsWith(pfx))).get
    val side = p + "side"
    val carry = p + "carry"
    val rtsField = p + "rts" // struct-internal; valueCols can't collide with the prefix
    // backward: right sorts before left at equal ts (side 0 < 1) and the
    // frame looks back => latest right <= ts is visible, `>=` semantics.
    // forward: right sorts AFTER left at equal ts (side 2 > 1) and the
    // frame looks ahead => earliest right >= ts is visible, `<=`
    // semantics. Either way the carried struct at a left row is uniquely
    // determined because right rows are unique per (key, ts).
    val rSide = right.select(Seq(col(key), col(ts),
      lit(if (forward) 2 else 0).as(side),
      struct(col(ts).as(rtsField) +: valueCols.map(col): _*).as(carry)) ++
      lCols.map(c => lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val carryType = rSide.schema(carry).dataType
    val lSide = left.select(Seq(col(key), col(ts), lit(1).as(side),
      lit(null).cast(carryType).as(carry)) ++ lCols.map(col): _*)
    val ord = Window.partitionBy(col(key)).orderBy(col(ts), col(side))
    val w =
      if (forward) ord.rowsBetween(0, Window.unboundedFollowing)
      else ord.rowsBetween(Window.unboundedPreceding, 0)
    val carried =
      if (forward) first(col(carry), ignoreNulls = true).over(w)
      else last(col(carry), ignoreNulls = true).over(w)
    rSide.unionAll(lSide)
      .withColumn(carry, carried)
      .filter(col(side) === 1)
      .select(Seq(col(key), col(ts)) ++ lCols.map(col) ++
        valueCols.map(c => col(carry).getField(c).as(c)) :+
        col(carry).getField(rtsField).as("asof_ts"): _*)
  }

  /** Range (interval) join — the second temporal join Spark lacks
    * natively: each `points` row joins every `intervals` row of the
    * same key whose [start, end) window contains the point's
    * timestamp. Implemented as a BIN join: intervals explode into the
    * fixed-width time buckets they cover, points land in exactly one
    * bucket, and the join is a plain equi-join on (key, bucket) with
    * an exact containment filter after — never the O(rows²) cross
    * product a raw inequality join plans (BroadcastNestedLoopJoin).
    * Each matching pair appears exactly once (the point's bucket is
    * unique), so no dedup pass is needed.
    *
    * `bucketMs` is the scale knob: row amplification of the interval
    * side is ceil(intervalLength / bucketMs) + 1, so pick it near the
    * TYPICAL interval length — one bucket of amplification joins
    * co-partitioned on (key, bucket) at any corpus size. Intervals
    * with end <= start match nothing. Non-key column names must be
    * disjoint between the two inputs (validated).
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame, key: String,
                ts: String, start: String, end: String, bucketMs: Long): DataFrame = {
    require(bucketMs > 0, "bucketMs must be positive")
    val overlap = points.columns.filterNot(_ == key).toSet
      .intersect(intervals.columns.filterNot(_ == key).toSet)
    require(overlap.isEmpty,
      s"rangeJoin inputs share non-key columns ${overlap.mkString(", ")}: rename one side")
    val taken = (points.columns ++ intervals.columns).toSet
    val b = Iterator.from(0).map(i => s"__rj${if (i == 0) "" else i.toString}_bucket")
      .find(n => !taken.contains(n)).get
    val p = points.withColumn(b, floor(unix_millis(col(ts).cast("timestamp")) / bucketMs).cast("long"))
    val iv = intervals
      .filter(col(end) > col(start))
      .withColumn(b, explode(sequence(
        floor(unix_millis(col(start).cast("timestamp")) / bucketMs).cast("long"),
        floor((unix_millis(col(end).cast("timestamp")) - 1) / bucketMs).cast("long"))))
    p.join(iv, Seq(key, b))
      .filter(unix_millis(col(ts).cast("timestamp")) >= unix_millis(col(start).cast("timestamp")) &&
        unix_millis(col(ts).cast("timestamp")) < unix_millis(col(end).cast("timestamp")))
      .drop(b)
  }

  /** Edit-distance near-dup pairs: minhash-band-blocked candidates
    * confirmed by Levenshtein distance ≤ maxDist. The confirm uses
    * Spark's banded threshold algorithm (O(maxDist·len) per pair, not
    * O(len²)), and only DISTINCT blocked candidates ever reach it —
    * never a full cross join. Returns (doc_a, doc_b, edit_dist).
    *
    * PRODUCTION ORDERING CONTRACT: cost is candidate-pair-bound
    * (pairs × maxDist × length). Run EXACT dedup first ([[normalizeText]]
    * md5 + keep-one, the d01 plan) so exact copies collapse to one
    * representative — a k-copy group otherwise contributes k² candidate
    * pairs to every blocked pair operator, this one at the highest
    * per-pair cost. The same ordering applies to [[minhashPairs]],
    * [[simhashPairs]], [[ngramJaccardPairs]] and [[connectedComponents]]. */
  def editDistancePairs(docs: DataFrame, id: String, text: String,
                        maxDist: Int, shingleN: Int = 3, k: Int = 8,
                        bands: Int = 4): DataFrame =
    ops.DedupOps.editDistancePairsOf(docs, id, text, maxDist, shingleN, k, bands)

  /** Canonical text normalization — the cleanup pass ahead of exact
    * dedup: lowercase, strip non-alphanumerics, collapse whitespace.
    * Returns per-doc (clean_text, clean_md5, raw/clean char counts,
    * n_words, removed_ratio). Map-only, runs at scan speed. */
  def normalizeText(docs: DataFrame, id: String, text: String): DataFrame =
    ops.TextOps.normalizeTextOf(docs, id, text)

  /** Sliding-window document chunking for retrieval indexing:
    * overlapping `size`-token windows every `stride` tokens with
    * (doc_id, chunk_id, start_token) provenance — the table an
    * embedding/ANN index ingests. Map-side explode, no shuffle;
    * empty docs emit no chunks, tail chunks may be short. */
  def chunkText(docs: DataFrame, id: String, text: String,
                size: Int = 256, stride: Int = 192): DataFrame =
    ops.TextOps.chunkTextOf(docs, id, text, size, stride)

  /** HTML → text extraction (the first web-pipeline stage):
    * script/style/comment blocks dropped wholesale, tags stripped,
    * the six ubiquitous entities decoded, whitespace collapsed.
    * Map-only; returns clean_text + raw/clean char counts (the
    * shrink ratio doubles as a markup-heaviness signal). */
  def htmlToText(docs: DataFrame, id: String, html: String): DataFrame =
    ops.TextOps.htmlToTextOf(docs, id, html)

  /** The as-of join as a NATIVE physical operator — the same contract
    * as [[asofJoin]] (matched right row verbatim, `asof_ts`, `>=`
    * semantics, unique-(key, ts) right), executed by
    * [[graft.plans.AsofJoinExec]]: both sides co-partitioned on the
    * key, sorted by (key, ts), merged in one forward pass with O(1)
    * state per partition. Requires a [[Sessions]]-built session (the
    * strategy is injected via SparkSessionExtensions). [[asofJoin]]
    * remains the default — fully codegen'd and one shuffle of L+R;
    * this is the whole-operator extension path (custom LogicalPlan +
    * SparkStrategy + SparkPlan) with one exchange per side. */
  def asofJoinNative(left: DataFrame, right: DataFrame, key: String, ts: String,
                     valueCols: Seq[String]): DataFrame =
    plans.AsofJoin.native(left, right, key, ts, valueCols)

  /** Gap healing for a bar series — the reference's missing-bar
    * repair: densify each key's [min, max] bucket range on a fixed
    * `step` grid and fill the holes. `mode` "ffill" carries the last
    * observed value forward; "linear" interpolates between the
    * surrounding observations (time-weighted; forward-fills after the
    * last observation). Input must be unique per (key, bucket) (e.g.
    * [[resampleOhlc]] output). Returns (key, bucket, value,
    * is_filled) where `is_filled` marks synthesized rows. The grid is
    * generated per key from one aggregate row — the explode's
    * amplification IS the output size — and both fill modes are
    * window passes over ONE partition sort (the look-ahead frame
    * reuses the ascending order; no reverse sort). */
  def fillGaps(df: DataFrame, key: String, bucket: String, value: String,
               step: String = "interval 1 hour", mode: String = "ffill"): DataFrame = {
    require(mode == "ffill" || mode == "linear", s"fillGaps mode must be ffill|linear, got $mode")
    val grid = df.groupBy(col(key))
      .agg(min(col(bucket)).as("__mn"), max(col(bucket)).as("__mx"))
      .select(col(key), explode(sequence(col("__mn"), col("__mx"), expr(step))).as(bucket))
    val w = Window.partitionBy(col(key)).orderBy(col(bucket))
    val back = w.rowsBetween(Window.unboundedPreceding, 0)
    val fwd = w.rowsBetween(0, Window.unboundedFollowing)
    val joined = grid.join(df.select(col(key), col(bucket), col(value)), Seq(key, bucket), "left")
      .withColumn("is_filled", col(value).isNull)
    val filled =
      if (mode == "ffill")
        joined.withColumn(value, last(col(value), ignoreNulls = true).over(back))
      else {
        val ms = unix_millis(col(bucket).cast("timestamp"))
        joined
          .withColumn("__pv", last(col(value), ignoreNulls = true).over(back))
          .withColumn("__pt", last(when(col(value).isNotNull, ms), ignoreNulls = true).over(back))
          .withColumn("__nv", first(col(value), ignoreNulls = true).over(fwd))
          .withColumn("__nt", first(when(col(value).isNotNull, ms), ignoreNulls = true).over(fwd))
          .withColumn(value,
            when(!col("is_filled"), col(value))
              .when(col("__nv").isNull, col("__pv")) // past the last observation
              .when(col("__pv").isNull, lit(null))   // before the first (grid starts at min: unreachable)
              .otherwise(col("__pv") + (col("__nv") - col("__pv")) *
                (ms - col("__pt")) / (col("__nt") - col("__pt"))))
          .drop("__pv", "__pt", "__nv", "__nt")
      }
    filled.select(col(key), col(bucket), col(value), col("is_filled"))
  }

  /** Incremental high-watermark per series (the reference's
    * get_latest_update, as a query over any keyed time column). */
  def watermarks(df: DataFrame, key: String, ts: String): DataFrame =
    df.groupBy(col(key)).agg(max(col(ts)).as("watermark"), count(lit(1)).as("n"))

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors by exact cosine (ties broken by corpus id). Corpus
    * and queries carry (id, vector) under the given column names; the
    * query side is broadcast — one corpus scan, no corpus shuffle.
    *
    * @param excludeSelf when true (default), a corpus row whose id
    *   equals the query's id is excluded — correct when queries are
    *   drawn from the corpus itself (self is trivially nearest).
    *   Queries from a DIFFERENT id space must pass false, or any
    *   accidental id coincidence silently drops a neighbor. */
  def knnBrute(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
               k: Int, excludeSelf: Boolean = true): DataFrame = {
    val q = broadcast(queries.select(col(id).as("q_id"), col(vec).as("__qv")))
    val w = Window.partitionBy(col("q_id")).orderBy(col("__cos").desc, col(id))
    corpus.join(q, if (excludeSelf) col(id) =!= col("q_id") else lit(true))
      .withColumn("__cos", expr(s"graft_cosine(__qv, $vec)"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col(id), col("__cos").as("cos_sim"))
  }

  /** IVF-style approximate nearest neighbors — the first similarity
    * scale path as a library operator: assign the corpus to broadcast
    * centroid cells (typically [[kmeans]] output), probe each query's
    * `probes` nearest cells, exact-cosine top-`k` within them. The
    * corpus scans once and shuffles only on the cell key. Returns
    * (q_id, rank, <id>, cell, cos_sim). */
  def annIvf(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
             id: String, vec: String, centroidId: String, centroidVec: String,
             k: Int, probes: Int = 2, excludeSelf: Boolean = true): DataFrame =
    ops.SimOps.ivfAnnOf(corpus, queries, centroids, id, vec, centroidId, centroidVec,
        k, probes, excludeSelf)
      .select(col("q_id"), col("rank"), col("vec_id").as(id), col("cell"),
        col("cos").as("cos_sim"))

  /** LSH-bucketed approximate nearest neighbors — the second
    * similarity scale path: a `sketchBits`-bit deterministic sign
    * sketch bands the corpus with NO training pass (a pure map index);
    * candidates share any band value, exact-cosine top-`k`. Band bits
    * should grow with log(corpus) — see
    * [[ops.DedupOps.lshBandBits]]. Returns (q_id, rank, <id>,
    * cos_sim). */
  def annLsh(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
             dims: Int, k: Int, sketchBits: Int = 24, bands: Int = 4,
             excludeSelf: Boolean = true): DataFrame =
    ops.SimOps.lshAnnOf(corpus, queries, id, vec, k, sketchBits, bands, dims, excludeSelf)
      .select(col("q_id"), col("rank"), col("vec_id").as(id), col("cosv").as("cos_sim"))

  /** Deterministic k-NN graph build — the index half of the graph-ANN
    * (fifth) scale path: shared-centroid-cell candidate seeding
    * (keep centroid count proportional to the corpus — cell size is
    * the seed fan-out; hot cells bounded to `maxCellOcc`
    * representatives so skewed corpora stay corpus-linear),
    * `descentRounds` NN-descent rounds, top-`r`
    * by cosine per source. Returns the directed edge list
    * (src, dst, cos). Pair with [[annGraph]]; localCheckpoint the
    * result when searching many query batches. */
  def knnGraph(corpus: DataFrame, centroids: DataFrame, id: String,
               vec: String, centroidId: String, centroidVec: String,
               r: Int, cellProbes: Int = 2, descentRounds: Int = 1,
               maxCellOcc: Int = 256): DataFrame =
    ops.SimOps.knnGraphOf(corpus, centroids, id, vec, centroidId, centroidVec,
      r, cellProbes, descentRounds, maxCellOcc)

  /** INCREMENTAL [[knnGraph]] maintenance (FreshDiskANN lineage):
    * beam-search each delta vector over the existing graph
    * (per-insert cost = the search budget, corpus-independent),
    * connect it to the top-`r` of its scored ∪ delta-cell candidates,
    * and repair targets' lists with the reversed new edges. Returns
    * the full updated edge list (src, dst, cos) — ≤ r per src;
    * untouched nodes keep their lists bit-identically. Full doc at
    * [[ops.SimOps.graphInsertOf]]. */
  def graphInsert(corpus: DataFrame, delta: DataFrame, edges: DataFrame,
                  centroids: DataFrame, anchors: DataFrame, id: String,
                  vec: String, r: Int, beam: Int, hops: Int,
                  cellProbes: Int = 2, maxCellOcc: Int = 256): DataFrame =
    ops.SimOps.graphInsertOf(corpus, delta, edges, centroids, anchors,
      id, vec, r, beam, hops, cellProbes, maxCellOcc)

  /** FreshDiskANN delete consolidation: drop all edges touching
    * `deleted` ids and stitch severed paths p→d→x into p's re-ranked
    * top-r list. Untouched nodes keep lists bit-identically; stitch
    * volume is edge-bounded, never corpus-bounded. */
  def graphDelete(corpus: DataFrame, deleted: DataFrame, edges: DataFrame,
                  id: String, vec: String, r: Int = 8): DataFrame =
    ops.SimOps.graphDeleteOf(corpus, deleted, edges, id, vec, r)

  /** Graph ANN beam search over a [[knnGraph]] edge list (traversed
    * symmetrized): enter at the query's best anchor, expand `hops`
    * rounds with a `beam`-wide frontier, rank every scored candidate.
    * The scored set is the candidate budget — the recall-at-low-budget
    * frontier vs [[annIvf]]'s probed cells (GraphAnnSpec measures
    * both). The search executes while it is built, in 3 + 2·hops jobs,
    * and returns a local relation: collecting it runs no job. The
    * driver holds the queries, then ids and cosines only — |q| entry
    * rows plus ≤ beam·(r + in-degree)·|q| scored rows per hop — and,
    * during one hop, the vectors of its ≤ min(corpus, beam·(r + in-degree)·|q|)
    * proposed ids. Returns (q_id, rank, <id>, cos_sim). */
  def annGraph(corpus: DataFrame, queries: DataFrame, anchors: DataFrame,
               edges: DataFrame, id: String, vec: String, k: Int,
               beam: Int = 4, hops: Int = 3,
               excludeSelf: Boolean = true): DataFrame =
    ops.SimOps.graphAnnOf(corpus, queries, anchors, edges, id, vec, k, beam, hops, excludeSelf)
      .select(col("q_id"), col("rank"), col("vec_id").as(id), col("cos").as("cos_sim"))

  /** FILTERED graph ANN (Filtered-DiskANN shape): top-k among vectors
    * in the `matching` id set, traversing the FULL graph for
    * navigability and ranking only matching candidates. The search
    * executes while it is built, in 3 + 2·hops jobs: the driver holds
    * the queries, then ids and cosines only — |q| entry rows plus
    * ≤ beam·(r + in-degree)·|q| scored rows per hop — and, during one
    * hop, the vectors of its proposed ids. Full doc at
    * [[ops.SimOps.filteredAnnOf]]. */
  def annFiltered(corpus: DataFrame, queries: DataFrame, anchors: DataFrame,
                  edges: DataFrame, id: String, vec: String,
                  matching: DataFrame, k: Int,
                  beam: Int = 4, hops: Int = 3): DataFrame =
    ops.SimOps.filteredAnnOf(corpus, queries, anchors, edges, id, vec,
        matching, k, beam, hops)
      .select(col("q_id"), col("rank"), col("vec_id").as(id), col("cos").as("cos_sim"))

  /** LABEL-PARTITIONED [[knnGraph]] (Filtered-DiskANN's label-aware
    * index, the LOW-selectivity complement of [[annFiltered]]'s
    * over-fetch budget): one pass builds every label's own sub-graph
    * — search the target label's slice with [[annGraph]] at the plain
    * beam, at any selectivity. Returns (<label>, src, dst, cos);
    * restricted to one label the output is bit-identical to
    * [[knnGraph]] on that slice (spec-pinned law). Full doc at
    * [[ops.SimOps.labeledGraphOf]]. */
  def labeledGraph(corpus: DataFrame, id: String, vec: String,
                   label: String, r: Int, cellProbes: Int = 2,
                   descentRounds: Int = 1, maxCellOcc: Int = 256,
                   anchorMod: Int = 64): DataFrame =
    ops.SimOps.labeledGraphOf(corpus, id, vec, label, r, cellProbes,
      descentRounds, maxCellOcc, anchorMod)

  /** MOSS winnowing fingerprint summary per document (native
    * single-pass expression): n_grams, n_fp, fp_min/max/xor. */
  def winnowFingerprints(docs: DataFrame, id: String, text: String,
                         kGram: Int, window: Int): DataFrame =
    docs.filter(length(col(text)) >= kGram + window - 1)
      .withColumn("__fp", expr(s"graft_winnow($text, $kGram, $window)"))
      .select(col(id), col("__fp.n_grams").as("n_grams"), col("__fp.n_fp").as("n_fp"),
        col("__fp.fp_min").as("fp_min"), col("__fp.fp_max").as("fp_max"),
        col("__fp.fp_xor").as("fp_xor"))

  /** MOSS-style fingerprint-overlap near-dup pairs: docs sharing ≥
    * `minOverlap` of the smaller winnowed fingerprint set
    * ([[winnowFingerprints]]' join-ready sibling — the native
    * `graft_winnow_set` kernel emits each doc's sorted fingerprint
    * set, the self-join blocks per fingerprint value). Returns
    * (doc_a, doc_b, n_shared, overlap); see
    * [[ops.TextOps.winnowPairsOf]] for the scale contract. */
  def winnowPairs(docs: DataFrame, id: String, text: String, kGram: Int = 8,
                  window: Int = 4, minOverlap: Double = 0.5,
                  maxDf: Int = 100): DataFrame =
    ops.TextOps.winnowPairsOf(docs, id, text, kGram, window, minOverlap, maxDf)

  /** Connected components over an undirected pair list: labels every
    * member with its component-minimum id (iterative min-label
    * propagation; see DedupOps.d06 for the convergence machinery). */
  def connectedComponents(pairs: DataFrame, a: String, b: String): DataFrame =
    ops.DedupOps.components(pairs, a, b)

  /** Connected components for DIAMETER-HEAVY graphs — the alternating
    * large-star/small-star algorithm, O(log n) rounds where
    * [[connectedComponents]]' label propagation needs O(diameter).
    * Same (id, label = component min, cluster_size) contract. */
  def connectedComponentsStar(pairs: DataFrame, a: String, b: String): DataFrame =
    ops.DedupOps.componentsStar(pairs, a, b)

  /** Dedup threshold sweep over a candidate-pair list: per threshold,
    * pairs declared near-dup and docs covered — the τ-tuning artifact.
    * See [[ops.DedupOps.dedupCurveOf]]. */
  def dedupCurve(pairs: DataFrame, a: String, b: String, simCol: String,
                 taus: Seq[Double]): DataFrame =
    ops.DedupOps.dedupCurveOf(pairs, a, b, simCol, taus)

  /** Per-doc n-gram novelty (fraction of a doc's distinct n-grams
    * first seen in it, doc_id order) — the incremental-information
    * curation signal. See [[ops.TextStatsOps.ngramNoveltyOf]]. */
  def ngramNovelty(docs: DataFrame, id: String, text: String, n: Int = 8): DataFrame =
    ops.TextStatsOps.ngramNoveltyOf(docs, id, text, n)

  /** Dickey–Fuller unit-root test per series (df_stat < −2.86 ⇒
    * stationary at 5%) — the Engle–Granger step-2 gate. See
    * [[ops.EconOps.adfOf]]. */
  def adfTest(bars: DataFrame, key: String, ts: String, close: String): DataFrame =
    ops.EconOps.adfOf(bars, key, ts, close)

  /** Ljung–Box white-noise test per series (Q vs χ²(h) at `crit`) —
    * the formal decision over [[acf]]'s lag profile. See
    * [[ops.EconOps.ljungBoxOf]]. */
  def ljungBox(df: DataFrame, key: String, ts: String, value: String,
               h: Int = 10, crit: Double = 18.307): DataFrame =
    ops.EconOps.ljungBoxOf(df, key, ts, value, h, crit)

  /** Simplified silhouette of a centroid assignment (per-cell means;
    * O(n·k) against broadcast centroids, never O(n²)). See
    * [[ops.SimOps.silhouetteOf]]. */
  def silhouette(corpus: DataFrame, centroids: DataFrame, id: String,
                 vec: String): DataFrame =
    ops.SimOps.silhouetteOf(corpus, centroids, id, vec)

  /** Deterministic k-fold assignment (md5 mod k — rerun-stable,
    * disjoint by construction). See [[ops.DataOps.kfoldOf]]. */
  def kfold(df: DataFrame, id: String, salt: String, k: Int): DataFrame =
    ops.DataOps.kfoldOf(df, id, salt, k)

  /** Engle–Granger cointegration test for one pair (q88 hedge residual
    * → ADF at the EG 5% bar). See [[ops.EconOps.cointTestOf]]. */
  def cointTest(bars: DataFrame, key: String, ts: String, close: String,
                seriesA: String, seriesB: String, crit: Double = -3.34): DataFrame =
    ops.EconOps.cointTestOf(bars, key, ts, close, seriesA, seriesB, crit)

  /** Ornstein–Uhlenbeck mean-reversion half-life per series
    * (κ = −ln(1+β̂) from the ADF drift regression; halflife = ln2/κ
    * bars). See [[ops.EconOps.ouHalflifeOf]]. */
  def ouHalflife(bars: DataFrame, key: String, ts: String, close: String): DataFrame =
    ops.EconOps.ouHalflifeOf(bars, key, ts, close)

  /** Barndorff-Nielsen–Shephard bipower jump decomposition per
    * (series, day): realized variance, jump-robust bipower variation,
    * jump component and relative-jump flag.
    * See [[ops.EconOps.jumpTestOf]]. */
  def jumpTest(bars: DataFrame, key: String, ts: String, close: String): DataFrame =
    ops.EconOps.jumpTestOf(bars, key, ts, close)

  /** Keyframe-overlap near-dup video pairs: distinct sampled-frame
    * signatures per payload, candidates from shared-signature joins
    * (df-capped), scored by containment |A∩B|/min(|A|,|B|).
    * See [[ops.MultiOps.keyframeDupPairsOf]]. */
  def keyframeDupPairs(df: DataFrame, id: String, bin: String,
                       every: Int = 4, minContain: Double = 0.5,
                       maxVidsPerSig: Int = 50): DataFrame =
    ops.MultiOps.keyframeDupPairsOf(df, id, bin, every, minContain, maxVidsPerSig)

  /** Gopher-style hard quality-rule battery: word count, mean word
    * length, symbol ratio, alphabetic-token fraction, distinct
    * stopword hits — each as signal + boolean, ANDed into `passed`.
    * See [[ops.TextOps.gopherRulesOf]]. */
  def gopherRules(docs: DataFrame, id: String, text: String,
                  minWords: Long = 20, maxWords: Long = 80): DataFrame =
    ops.TextOps.gopherRulesOf(docs, id, text, minWords, maxWords)

  /** Risk-adjusted performance ratios per series over daily returns:
    * mean/stdev/downside deviation, annualized Sharpe and Sortino,
    * log-space max drawdown, Calmar. See [[ops.FinOps.riskRatiosOf]]. */
  def riskRatios(bars: DataFrame, key: String, ts: String, close: String): DataFrame =
    ops.FinOps.riskRatiosOf(bars, key, ts, close)

  /** Corwin–Schultz high-low spread estimator: per (series, day),
    * two-bar-span β/γ separation of variance from the bid-ask bounce.
    * See [[ops.EconOps.csSpreadOf]]. */
  def csSpread(bars: DataFrame, key: String, ts: String,
               high: String, low: String): DataFrame =
    ops.EconOps.csSpreadOf(bars, key, ts, high, low)

  /** Kupiec proportion-of-failures VaR backtest: fit VaR(α) on the
    * first half of each series' return history, test the exceedance
    * rate of the second half. See [[ops.FinOps.varBacktestOf]]. */
  def varBacktest(bars: DataFrame, key: String, ts: String, close: String,
                  alpha: Double = 0.05): DataFrame =
    ops.FinOps.varBacktestOf(bars, key, ts, close, alpha)

  /** MinHash+LSH near-dup candidate pairs: k md5-minhashes over
    * shingleN-word shingles, banded `bands` × (k/bands); returns
    * (doc_a, doc_b, est_sim), blocked per band — never a full cross.
    * `maxBucket` is the hot-bucket guard: band buckets over that size
    * are dropped (a degenerate non-discriminating key — see
    * DedupOps.dropHotBuckets); default off, set ~1000 at corpus
    * scale. */
  def minhashPairs(docs: DataFrame, id: String, text: String,
                   shingleN: Int = 3, k: Int = 8, bands: Int = 4,
                   maxBucket: Int = Int.MaxValue): DataFrame =
    ops.DedupOps.minhashPairsOf(docs, id, text, shingleN, k, bands, maxBucket)

  /** Incremental dedup of a new batch against accumulated history — the
    * daily-loop verdict per batch doc: 'exact' (md5 in history), 'near'
    * (minhash-band match ≥ threshold, best history match as evidence),
    * or 'new'. History never self-compares; candidates exist only
    * inside shared LSH band buckets. Pass a precomputed fingerprint
    * table as `history` to skip re-hashing the store each tick. */
  def incrementalDedup(history: DataFrame, batch: DataFrame,
                       id: String, text: String,
                       shingleN: Int = 3, k: Int = 8, bands: Int = 4,
                       threshold: Double = 0.5,
                       maxBucket: Int = Int.MaxValue): DataFrame =
    ops.DedupOps.incrementalDedupOf(history, batch, id, text, shingleN, k, bands,
      threshold, maxBucket)

  /** Exact duplicated-substring statistics (Lee et al. 2022): per doc,
    * how many w-token spans occur more than once in the corpus and the
    * merged-interval token coverage of those spans — the signal behind
    * remove-duplicated-substrings curation. One shuffle keyed by the
    * rolling window hash (count window, no self-join: hot spans cost
    * k rows, never k²), one keyed by doc. */
  def substringDupStats(docs: DataFrame, id: String, text: String,
                        w: Int = 10): DataFrame =
    ops.DedupOps.substringDupStatsOf(docs, id, text, w)

  /** SimHash near-dup pairs at hamming ≤ maxHamming, blocked by
    * `chunks` bit slices (full recall while maxHamming < chunks). */
  def simhashPairs(docs: DataFrame, id: String, text: String,
                   bits: Int = 60, chunks: Int = 4, maxHamming: Int = 3): DataFrame =
    ops.DedupOps.simhashPairsOf(docs, id, text, bits, chunks, maxHamming)

  /** Exact n-gram-Jaccard near-dup pairs ≥ threshold, minhash-band
    * blocked; the confirm joins each DISTINCT candidate pair's shingle
    * sets back exactly once (codegen'd hash-set jaccard). */
  def ngramJaccardPairs(docs: DataFrame, id: String, text: String,
                        shingleN: Int = 3, threshold: Double = 0.5,
                        k: Int = 8, bands: Int = 4): DataFrame =
    ops.DedupOps.ngramJaccardPairsOf(docs, id, text, shingleN, threshold, k, bands)

  /** Embedding-cosine near-dup pairs ≥ threshold via a random-
    * hyperplane sign sketch (`sketchBits`, banded); exact-cosine
    * confirm. Band bits should grow with log(corpus size). */
  def embeddingNearDupPairs(vecs: DataFrame, id: String, vec: String, dims: Int,
                            threshold: Double = 0.95, sketchBits: Int = 24,
                            bands: Int = 4,
                            maxBucket: Int = Int.MaxValue): DataFrame =
    ops.DedupOps.embeddingNearDupOf(vecs, id, vec, threshold, sketchBits, bands,
      dims, maxBucket)

  /** [[embeddingNearDupPairs]] with the per-band sketch width derived
    * from an `approx_count_distinct` pre-pass instead of a manual
    * knob: bits = clamp(ceil(log2(n / targetBucket))) per band
    * ([[ops.DedupOps.lshBandBits]]), so expected band-bucket occupancy
    * stays ~`targetBucket` as the corpus grows — the documented log(n)
    * band-bits rule turned automatically. The pre-pass is one
    * partial-aggregated HLL scan collecting a single row (the same
    * driver-state budget as the k-means centroids). MinHash banding
    * (d02/d04) stays manual by design: its band count sets the
    * similarity S-curve threshold, a semantic choice, not a
    * corpus-size one. */
  def embeddingNearDupPairsAuto(vecs: DataFrame, id: String, vec: String, dims: Int,
                                threshold: Double = 0.95, bands: Int = 4,
                                targetBucket: Long = 32L): DataFrame = {
    // 60 / bands must leave at least the 6-bit floor per band (the
    // sketch is one 64-bit word); fail here with the parameter named,
    // not two layers down in lshBandBits' bare require
    require(bands >= 1 && bands <= 10,
      s"bands must be in [1, 10] (60-bit sketch word / 6-bit floor), got $bands")
    val n = vecs.agg(approx_count_distinct(col(id))).head().getLong(0)
    val cb = ops.DedupOps.lshBandBits(n, targetBucket, minBits = 6, maxBits = 60 / bands)
    ops.DedupOps.embeddingNearDupOf(vecs, id, vec, threshold, cb * bands, bands, dims)
  }

  /** [[crossNearDupPairs]] with the band width auto-sized from the
    * LEFT (corpus) side — the same `approx_count_distinct` pre-pass +
    * log(n) rule as [[embeddingNearDupPairsAuto]]. The left side
    * drives bucket occupancy; the right (benchmark) side is small by
    * contract. */
  def crossNearDupPairsAuto(left: DataFrame, right: DataFrame, id: String,
                            vec: String, dims: Int, threshold: Double,
                            bands: Int = 4, targetBucket: Long = 32L): DataFrame = {
    require(bands >= 1 && bands <= 10,
      s"bands must be in [1, 10] (60-bit sketch word / 6-bit floor), got $bands")
    val n = left.agg(approx_count_distinct(col(id))).head().getLong(0)
    val cb = ops.DedupOps.lshBandBits(n, targetBucket, minBits = 6, maxBits = 60 / bands)
    ops.DedupOps.crossNearDupOf(left, right, id, vec, threshold, cb * bands, bands, dims)
  }

  /** [[annLsh]] with the band width auto-sized from the corpus — the
    * same `approx_count_distinct` pre-pass + log(n) rule as
    * [[embeddingNearDupPairsAuto]], so a 100× corpus gets wider
    * buckets with no manual knob change. */
  def annLshAuto(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
                 dims: Int, k: Int, bands: Int = 4, targetBucket: Long = 32L,
                 excludeSelf: Boolean = true): DataFrame = {
    require(bands >= 1 && bands <= 10,
      s"bands must be in [1, 10] (60-bit sketch word / 6-bit floor), got $bands")
    val n = corpus.agg(approx_count_distinct(col(id))).head().getLong(0)
    val cb = ops.DedupOps.lshBandBits(n, targetBucket, minBits = 6, maxBits = 60 / bands)
    annLsh(corpus, queries, id, vec, dims, k, sketchBits = cb * bands, bands, excludeSelf)
  }

  /** Stopword-heuristic language ID features + predicted language;
    * `keep` carries extra input columns (e.g. a gold label). */
  def langId(docs: DataFrame, id: String, text: String,
             keep: Seq[String] = Nil): DataFrame =
    ops.TextOps.langIdOf(docs, id, text, keep)

  /** Pretraining quality-gate features: length, punctuation/stopword
    * ratios, mean word length, fixed-weight composite score. */
  def textQuality(docs: DataFrame, id: String, text: String): DataFrame =
    ops.TextOps.qualityFeaturesOf(docs, id, text)

  /** Whitespace token count, chars/4 subword estimate, char count. */
  def tokenCounts(docs: DataFrame, id: String, text: String): DataFrame =
    ops.TextOps.tokenCountsOf(docs, id, text)

  /** Gopher-style repetition signals: duplicate-word/-trigram ratios
    * and top-bigram coverage. Map-only. */
  def repetitionSignals(docs: DataFrame, id: String, text: String): DataFrame =
    ops.TextOps.repetitionSignalsOf(docs, id, text)

  /** Deterministic train/val/test split: md5(salt || id) mod 100 →
    * [0,trainPct) train, [trainPct,trainPct+valPct) val, rest test.
    * Appends `split_bucket` and `split`. Stable under reruns, retries
    * and cluster size — never rand(). */
  def hashSplit(df: DataFrame, id: String, salt: String = "graft",
                trainPct: Int = 80, valPct: Int = 10): DataFrame =
    ops.DataOps.hashSplitOf(df, id, salt, trainPct, valPct)

  /** Deterministic stratified sample: keeps rows whose md5 bucket of
    * (salt, stratum, id) mod 1000 is below `permille` — the same rate
    * in every stratum, reproducible bit-for-bit. Map-only. */
  def deterministicSample(df: DataFrame, stratum: String, id: String,
                          permille: Int, salt: String = "graft"): DataFrame =
    ops.DataOps.deterministicSampleOf(df, stratum, id, salt, permille)

  /** Sequence packing: docs in (shard, id) order are packed into bins
    * of `budget` tokens (bin = exclusive-prefix-sum div budget — the
    * first-fit-in-order rule tokenizer shard jobs use). Appends `bin`;
    * one window shuffle on the shard key. */
  def packBins(df: DataFrame, shard: String, id: String, tokens: String,
               budget: Long): DataFrame =
    ops.DataOps.packBinsOf(df, shard, id, tokens, budget)

  /** Concat-and-chunk: the deterministically shuffled token stream is
    * cut into fixed-`seqLen` training sequences, docs crossing
    * boundaries (the GPT-style zero-padding recipe; packBins is the
    * whole-doc alternative). One row per (doc, sequence) overlap with
    * `shard`, `seq_id`, `seq_off`, `n_toks`; zero-token docs drop. */
  def concatChunk(df: DataFrame, id: String, tokens: String,
                  seqLen: Long, nShards: Int,
                  salt: String = "graft"): DataFrame =
    ops.DataOps.concatChunkOf(df, id, tokens, seqLen, nShards, salt)

  /** Corpus-wide top-k term frequencies with a total tie-break; the
    * shuffle carries (term, partial count), not tokens. */
  def topTerms(docs: DataFrame, text: String, k: Int): DataFrame =
    ops.DataOps.topTermsOf(docs, text, k)

  /** Corpus bigram model stats: top-k adjacent word pairs with
    * P(w2 | w1); shuffles carry vocabulary-sized tables, not tokens. */
  def bigramStats(docs: DataFrame, text: String, k: Int): DataFrame =
    ops.DataOps.bigramStatsOf(docs, text, k)

  /** Fixed-width histogram of any numeric column: bin = floor(v/width),
    * per-bin count + mean + share of total. One map-side-combined
    * shuffle; the share window runs over bin rows, not the data. */
  def histogram(df: DataFrame, value: String, binWidth: Double): DataFrame =
    ops.CoreOps.histogramOf(df, value, binWidth)

  /** Sample-based corpus term profiling: exact top-k counts next to
    * the deterministic md5 `permille`/1000-document-sample estimate,
    * one aggregation; flip the filter to profile at sample cost. */
  def termProfile(docs: DataFrame, id: String, text: String, k: Int,
                  permille: Int, salt: String = "graft"): DataFrame =
    ops.CoreOps.termProfileOf(docs, id, text, k, permille, salt)

  /** Lloyd's k-means over an embedding column: deterministic init
    * (k smallest ids), `iters` assign→update rounds against a
    * BROADCAST k-row centroid table (the corpus never shuffles), final
    * per-vector (id, cluster, dist2). Centroids round to 6 dp between
    * rounds so results are reproducible across engines and cluster
    * layouts. The training pass behind an IVF index ([[knnBrute]]'s
    * scale path). */
  def kmeans(vecs: DataFrame, id: String, vec: String, dims: Int,
             k: Int, iters: Int): DataFrame =
    ops.SimOps.kmeansOf(vecs, id, vec, dims, k, iters)

  /** IVF index-freshness drift monitor: centroids trained on the
    * index-time corpus, both the index and the arriving batch
    * assigned against them map-only, per-cell occupancy PSI +
    * quantization cost — the when-do-I-retrain gate. PSI > 0.25 or
    * rising new-side cost ⇒ retrain. See
    * [[ops.SimOps.indexDriftOf]]. */
  def indexDrift(index: DataFrame, batch: DataFrame, id: String, vec: String,
                 dims: Int, k: Int, iters: Int): DataFrame =
    ops.SimOps.indexDriftOf(index, batch, id, vec, dims, k, iters)

  /** PCM-8 voice-activity segmentation profile: amplitude-threshold
    * run-length structure per payload — run counts, active mass,
    * longest burst/silence, trim offsets, active ratio. The
    * trim-before-transcribe step. See
    * [[ops.MultiOps.vadProfileOf]]. */
  def vadProfile(df: DataFrame, id: String, payload: String,
                 threshold: Int = 16): DataFrame =
    ops.MultiOps.vadProfileOf(df, id, payload, threshold)

  /** HLL set-operation algebra over sketch state: per key group the
    * two sides' cardinality estimates, the union via the register-max
    * merge law, the intersection by inclusion–exclusion, and the
    * Jaccard estimate — version/audience overlap from kilobytes of
    * state, never a distinct-join over raw history. See
    * [[ops.DataOps.sketchOverlapOf]]. */
  def sketchOverlap(a: DataFrame, b: DataFrame, keys: Seq[String],
                    value: String, p: Int = 12): DataFrame =
    ops.DataOps.sketchOverlapOf(a, b, keys, value, p)

  /** RAKE keyphrase extraction: candidate phrases between stopword
    * boundaries, word score = degree/frequency over the per-doc
    * co-occurrence graph, phrase score = Σ word scores, top-k
    * distinct phrases per doc. Corpus-independent per doc. See
    * [[ops.TextOps.rakeKeywordsOf]]. */
  def rakeKeywords(docs: DataFrame, id: String, text: String, k: Int,
                   stopwords: Seq[String]): DataFrame =
    ops.TextOps.rakeKeywordsOf(docs, id, text, k, stopwords)

  /** fastText-shaped linear classifier trained in-engine on hashed
    * sparse features over weak labels (the FineWeb-Edu distillation
    * shape): the labeled subset trains, the fitted model scores EVERY
    * tokened doc (unlabeled docs keep score, null y/correct). Driver
    * state is `dim` doubles; the GD loop is oracle-replayable. */
  def hashClassifier(docs: DataFrame, id: String, text: String,
                     labels: DataFrame, y: String, dim: Int = 64,
                     lr: Double = 0.5, iters: Int = 3): DataFrame =
    ops.TextOps.hashClassifierOf(docs, id, text, labels, y, dim, lr, iters)

  /** PII detection + redaction: emails, phones, IPv4s counted and
    * replaced by placeholders in a fixed order; patterns stay within
    * the Java∩RE2 regex subset. Map-only. */
  def piiRedact(docs: DataFrame, id: String, text: String): DataFrame =
    ops.TextOps.piiRedactOf(docs, id, text)

  /** Per-document bigram-LM quality score: mean log P(w2|w1) under the
    * corpus's own add-k-smoothed bigram model + perplexity. The model
    * is vocabulary-sized; the per-doc mean is a deterministic
    * position-ordered fold. */
  def bigramScore(docs: DataFrame, id: String, text: String,
                  addK: Double = 0.5): DataFrame =
    ops.TextOps.bigramScoreOf(docs, id, text, addK)

  /** Domain-weighted mixture sampling: each domain contributes docs up
    * to its token budget, picked in md5(salt:domain:id) order —
    * deterministic LLM data mixing (see DataOps.mixtureSampleOf). */
  def mixtureSample(df: DataFrame, domain: String, id: String, tokens: String,
                    budgets: Map[String, Long], salt: String = "graft"): DataFrame =
    ops.DataOps.mixtureSampleOf(df, domain, id, tokens, budgets, salt)

  /** Benchmark decontamination: training docs sharing any word n-gram
    * with a benchmark doc, with shared-gram / benchmark-doc counts;
    * ids+hashes only through the join. */
  def decontaminate(train: DataFrame, bench: DataFrame, id: String,
                    text: String, n: Int = 8): DataFrame =
    ops.DataOps.decontaminateOf(train, bench, id, text, n)

  /** Bollinger bands: rolling mean ± `width`·σ over the `n` rows
    * STRICTLY BEFORE each row per key (population σ), plus a breakout
    * flag (+1 above the upper band, −1 below the lower, 0 inside,
    * null until n prior rows exist). The band window excludes the
    * current row — with the point inside its own band the max
    * achievable deviation is (n−1)/√n σ, so a genuine spike both
    * inflates the band and can never break it at small n; the
    * trailing-exclusive window is the standard look-ahead-free signal
    * form. Appends `mid`, `upper`, `lower`, `breakout`. The sums run
    * over the bounded frame of rows [t−n, t−1]. */
  def bollinger(df: DataFrame, key: String, ts: String, id: String,
                value: String, n: Int, width: Double): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val ord = Window.partitionBy(col(key)).orderBy(col(ts), col(id))
    val before = ord.rowsBetween(-n, -1)
    df.withColumn("__rn", row_number().over(ord))
      .withColumn("__sx", sum(col(value)).over(before))
      .withColumn("__sx2", sum(col(value) * col(value)).over(before))
      .withColumn("mid", when(col("__rn") >= n + 1, col("__sx") / n))
      .withColumn("__var", col("__sx2") / n - (col("__sx") / n) * (col("__sx") / n))
      .withColumn("__sd", when(col("__rn") >= n + 1,
        when(col("__var") > 0, sqrt(col("__var"))).otherwise(lit(0.0))))
      .withColumn("upper", col("mid") + lit(width) * col("__sd"))
      .withColumn("lower", col("mid") - lit(width) * col("__sd"))
      .withColumn("breakout",
        when(col("mid").isNull, lit(null).cast("int"))
          .when(col(value) > col("upper"), 1)
          .when(col(value) < col("lower"), -1)
          .otherwise(0))
      .drop("__rn", "__sx", "__sx2", "__var", "__sd")
  }

  /** Max drawdown per series: running peak (incremental unbounded-
    * preceding max), per-row drawdown (value − peak)/peak, reduced to
    * one row per key — the deepest trough, tie-broken by (dd, ts, id)
    * so the pick is total-ordered. Returns (key, max_dd, trough_ts,
    * trough_id, peak, trough_value, n_rows). */
  def maxDrawdown(df: DataFrame, key: String, ts: String, id: String,
                  value: String): DataFrame = {
    val cum = Window.partitionBy(col(key)).orderBy(col(ts), col(id))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pick = struct(col("__dd"), col(ts), col(id))
    df.withColumn("__peak", max(col(value)).over(cum))
      .withColumn("__dd", (col(value) - col("__peak")) / col("__peak"))
      .groupBy(col(key))
      .agg(min(col("__dd")).as("max_dd"),
        min_by(col(ts), pick).as("trough_ts"),
        min_by(col(id), pick).as("trough_id"),
        min_by(col("__peak"), pick).as("peak"),
        min_by(col(value), pick).as("trough_value"),
        count(lit(1)).as("n_rows"))
  }

  /** Pearson correlation between every pair of series aligned on a
    * shared bucket grid. Input is one row per (key, bucket) with the
    * bucket's `value` (e.g. [[resampleOhlc]]'s close); output one row
    * per unordered key pair (key_a < key_b) over their common buckets:
    * (type_a, type_b, n_buckets, corr). The corr sums run as cumulative
    * window sums over the (pair, bucket) order — a sequential fold,
    * deterministic under any partitioning (a hash-agg sum would be
    * order-dependent in the last float bits). Null corr on degenerate
    * variance or fewer than 2 shared buckets. */
  def pairCorr(df: DataFrame, key: String, bucket: String, value: String): DataFrame = {
    // both join sides derive from df; without the barrier Spark
    // recomputes the (usually aggregated) input twice — no cross-side
    // common-subtree elimination. The grid is bucket-sized, so the
    // checkpoint is tiny.
    val grid = Checkpoints.stabilize(df)
    val a = grid.select(col(key).as("type_a"), col(bucket).as("__b"), col(value).as("__x"))
    val b = grid.select(col(key).as("type_b"), col(bucket).as("__b2"), col(value).as("__y"))
    val ord = Window.partitionBy(col("type_a"), col("type_b")).orderBy(col("__b"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pw = Window.partitionBy(col("type_a"), col("type_b"))
    a.join(b, col("__b") === col("__b2") && col("type_a") < col("type_b"))
      .drop("__b2")
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__n", count(lit(1)).over(pw))
      .withColumn("__sx", sum(col("__x")).over(cum))
      .withColumn("__sy", sum(col("__y")).over(cum))
      .withColumn("__sxy", sum(col("__x") * col("__y")).over(cum))
      .withColumn("__sx2", sum(col("__x") * col("__x")).over(cum))
      .withColumn("__sy2", sum(col("__y") * col("__y")).over(cum))
      .filter(col("__rn") === col("__n"))
      .withColumn("__vx", col("__n") * col("__sx2") - col("__sx") * col("__sx"))
      .withColumn("__vy", col("__n") * col("__sy2") - col("__sy") * col("__sy"))
      .select(col("type_a"), col("type_b"), col("__n").as("n_buckets"),
        when(col("__n") >= 2 && col("__vx") > 0 && col("__vy") > 0,
          (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
            (sqrt(col("__vx")) * sqrt(col("__vy")))).as("corr"))
  }

  /** Market beta/alpha of every series against one benchmark series,
    * on a shared bucket grid (the regression companion of
    * [[pairCorr]]). Input is one row per (key, bucket) with the
    * bucket's `value`; per-bucket simple returns (v/prev − 1, rows
    * with a zero/missing previous value dropped) are aligned with the
    * benchmark's returns on common buckets, then
    * beta = cov(r_s, r_bench)/var(r_bench) and
    * alpha = mean(r_s) − beta·mean(r_bench). The sums run as
    * cumulative window folds in bucket order with the last row kept —
    * deterministic under any partitioning, like [[pairCorr]]. The
    * benchmark side is ONE series (grid-sized): it broadcasts, so the
    * join never shuffles the fact side at any volume. Returns
    * (series, n_buckets, beta, alpha); null beta/alpha on degenerate
    * benchmark variance or fewer than 2 shared buckets. */
  def betaVs(df: DataFrame, key: String, bucket: String, value: String,
             benchmark: String): DataFrame = {
    // both sides derive from the same (usually aggregated) grid — the
    // pairCorr cross-side-recompute barrier, tiny by construction
    val grid = Checkpoints.stabilize(df)
    val w = Window.partitionBy(col(key)).orderBy(col(bucket))
    val r = grid
      .withColumn("__prev", lag(col(value), 1).over(w))
      .filter(col("__prev").isNotNull && col("__prev") =!= 0)
      .withColumn("__r", col(value) / col("__prev") - 1)
    val s = r.filter(col(key) =!= benchmark)
      .select(col(key).as("series"), col(bucket).as("__b"), col("__r").as("__rs"))
    val b = broadcast(r.filter(col(key) === benchmark)
      .select(col(bucket).as("__b2"), col("__r").as("__rb")))
    val ord = Window.partitionBy(col("series")).orderBy(col("__b"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pw = Window.partitionBy(col("series"))
    s.join(b, col("__b") === col("__b2"))
      .drop("__b2")
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__n", count(lit(1)).over(pw))
      .withColumn("__ss", sum(col("__rs")).over(cum))
      .withColumn("__sb", sum(col("__rb")).over(cum))
      .withColumn("__ssb", sum(col("__rs") * col("__rb")).over(cum))
      .withColumn("__sb2", sum(col("__rb") * col("__rb")).over(cum))
      .filter(col("__rn") === col("__n"))
      .withColumn("__vb", col("__n") * col("__sb2") - col("__sb") * col("__sb"))
      .withColumn("beta",
        when(col("__n") >= 2 && col("__vb") > 0,
          (col("__n") * col("__ssb") - col("__ss") * col("__sb")) / col("__vb")))
      .select(col("series"), col("__n").as("n_buckets"), col("beta"),
        (col("__ss") / col("__n") - col("beta") * (col("__sb") / col("__n"))).as("alpha"))
  }

  /** Per-key OLS trend of a series against its own bar index: slope,
    * intercept, r² of value over x = 0,1,2,… in `ts` order — drift
    * estimation ([[betaVs]] regresses against a benchmark; this
    * against time). Σx/Σx² are closed forms of n, the y-moments run as
    * cumulative folds in time order ⇒ bit-reproducible at any
    * parallelism; one window shuffle on the key. Null slope/r² on
    * degenerate series instead of ±Inf/NaN. */
  def linearTrend(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    ops.FinOps.trendOf(df, key, ts, value)

  /** Offline CUSUM changepoint per series: S_i = Σ(y−μ) in time order,
    * changepoint = argmax |S| (total tie-break), score = |S|/(σ·√n).
    * Mean-drift detection for any metric stream — ingest volumes,
    * quality scores, prices. μ/σ/S are all cumulative folds ⇒
    * bit-reproducible; two window passes on the series key. */
  def cusum(df: DataFrame, key: String, ts: String, id: String,
            value: String): DataFrame =
    ops.TimeSeriesOps.cusumOf(df, key, ts, id, value)

  /** Page's ONLINE CUSUM drift detector, batch form: reference μ/σ
    * frozen on each series' first half, every later row a one-sided
    * decision-statistic pair with alarm + reset — the causal monitor
    * [[cusum]]'s offline argmax can't be (it sees the future). Twin
    * of [[streaming.StreamOps.streamingCusum]], bit-equal given the
    * same μ/k/h. See [[streaming.StreamOps.pageCusumOf]]. */
  def pageCusum(df: DataFrame, key: String, ts: String, id: String,
                value: String, slackSigma: Double = 0.5,
                hSigma: Double = 4.0): DataFrame =
    streaming.StreamOps.pageCusumOf(df, key, ts, id, value, slackSigma, hSigma)

  /** Hour-of-day seasonal profile per series: per (series, hour 0-23)
    * the count, mean, and hour-mean / series-mean ratio — the diurnal
    * baseline an anomaly gate divides by. Cumulative-fold exact; the
    * second pass runs over ≤24 rows per series. */
  def seasonality(df: DataFrame, key: String, ts: String, id: String,
                  value: String): DataFrame =
    ops.TimeSeriesOps.seasonalityOf(df, key, ts, id, value)

  /** Classical additive decomposition per series: centered-MA trend
    * (a sum over the bounded centred frame), hour-of-day seasonal means
    * of the DETRENDED series, and the residual — level and season
    * explained, anomaly rules run on what's left. One shuffle on the
    * key. */
  def decompose(df: DataFrame, key: String, ts: String, value: String,
                window: Int = 25): DataFrame =
    ops.TimeSeriesOps.decomposeOf(df, key, ts, value, window)

  /** Seasonal-residual anomaly rows: subtract the per-(series, hour)
    * seasonal baseline, then flag rows whose residual is a med/MAD
    * robust outlier within its series (|z| > k). Baseline and
    * percentile tables broadcast; signed `robust_z` gives spike vs
    * drop. `approx_percentile` is the 100 TB med/MAD swap. */
  def seasonalAnomalies(df: DataFrame, key: String, ts: String, id: String,
                        value: String, k: Double = 3.0): DataFrame =
    ops.TimeSeriesOps.seasonalAnomaliesOf(df, key, ts, id, value, k)

  /** SCD Type-2 dimension history: per entity `key`, the `state`
    * stream ordered by (ts, id) compresses into change intervals —
    * consecutive repeats collapse; each change opens a version row
    * with [effective_from, effective_to) spanning to the NEXT change
    * (effective_to null ⇒ is_current). One window shuffle on the
    * entity key. Returns (key, version, state, effective_from,
    * effective_to, is_current). */
  def scd2(df: DataFrame, key: String, ts: String, id: String, state: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(id))
    df.withColumn("__prev", lag(col(state), 1).over(w))
      .filter(col("__prev").isNull || col(state) =!= col("__prev"))
      .withColumn("version", row_number().over(w).cast("long"))
      .withColumn("effective_from", col(ts))
      .withColumn("effective_to", lead(col(ts), 1).over(w))
      .withColumn("is_current", col("effective_to").isNull)
      .select(col(key), col("version"), col(state), col("effective_from"),
        col("effective_to"), col("is_current"))
  }

  /** Relative Strength Index (Cutler's RSI: simple-mean gains/losses,
    * the order-independent window form — Wilder's smoothing is a
    * linear recurrence, i.e. a segmented scan at scale, while this is
    * a fixed window on one sort). Per key ordered by (ts, id):
    * delta = value − lag(value); RSI_t = 100·ΣgainsN/(ΣgainsN+ΣlossesN)
    * over the last `n` deltas (50 when both sums are 0 — a flat
    * window); null until n deltas exist. Appends `rsi`. Both sums run
    * over the bounded n-row frame. */
  def rsi(df: DataFrame, key: String, ts: String, id: String,
          value: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val ord = Window.partitionBy(col(key)).orderBy(col(ts), col(id))
    val frame = ord.rowsBetween(1 - n, Window.currentRow)
    df.withColumn("__d", col(value) - lag(col(value), 1).over(ord))
      .withColumn("__g", when(col("__d") > 0, col("__d")).otherwise(lit(0.0)))
      .withColumn("__l", when(col("__d") < 0, -col("__d")).otherwise(lit(0.0)))
      // row 1 has no delta: its gain/loss stay null and drop out of the sums
      .withColumn("__g", when(col("__d").isNotNull, col("__g")))
      .withColumn("__l", when(col("__d").isNotNull, col("__l")))
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__sg", sum(col("__g")).over(frame))
      .withColumn("__sl", sum(col("__l")).over(frame))
      .withColumn("rsi",
        when(col("__rn") >= n + 1,
          when(col("__sg") + col("__sl") === 0, lit(50.0))
            .otherwise(lit(100.0) * col("__sg") / (col("__sg") + col("__sl")))))
      .drop("__d", "__g", "__l", "__rn", "__sg", "__sl")
  }

  /** Average True Range over a bar table (e.g. [[resampleOhlc]]
    * output, unique per (key, bucket)): true range = max(high−low,
    * |high−prevClose|, |low−prevClose|) (first bar: high−low), ATR =
    * simple mean of the last `n` true ranges (the window form; Wilder
    * smoothing is a recurrence — see [[rsi]]), summed over the bounded
    * n-row frame. Appends `tr` and `atr` (null until n bars). One
    * window shuffle on the series key. */
  def atr(bars: DataFrame, key: String, bucket: String, high: String,
          low: String, close: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val ord = Window.partitionBy(col(key)).orderBy(col(bucket))
    val frame = ord.rowsBetween(1 - n, Window.currentRow)
    bars.withColumn("__pc", lag(col(close), 1).over(ord))
      .withColumn("tr",
        when(col("__pc").isNull, col(high) - col(low))
          .otherwise(greatest(col(high) - col(low),
            abs(col(high) - col("__pc")), abs(col(low) - col("__pc")))))
      .withColumn("__rn", row_number().over(ord))
      .withColumn("atr", when(col("__rn") >= n, sum(col("tr")).over(frame) / n))
      .drop("__pc", "__rn")
  }

  /** On-balance volume over a bar table: OBV_t = Σ sign(close_i −
    * close_{i−1})·volume_i — volume flows with the price direction
    * (the first bar contributes 0). A cumulative window sum per key —
    * a sequential per-key fold, deterministic under any partitioning.
    * Appends `obv`. */
  def obv(bars: DataFrame, key: String, bucket: String, close: String,
          volume: String): DataFrame = {
    val ord = Window.partitionBy(col(key)).orderBy(col(bucket))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bars.withColumn("__dc", col(close) - lag(col(close), 1).over(ord))
      .withColumn("__sv",
        when(col("__dc") > 0, col(volume))
          .when(col("__dc") < 0, -col(volume))
          .otherwise(lit(0.0)))
      .withColumn("obv", sum(col("__sv")).over(cum))
      .drop("__dc", "__sv")
  }

  /** Stochastic oscillator over a bar table (unique per (key,
    * bucket)): %K = 100·(close − min(low, n))/(max(high, n) −
    * min(low, n)) over the trailing `n` bars INCLUDING the current
    * one (null until `n` bars; a flat window — hh = ll — reads 50),
    * %D = the plain mean of the last `dPeriod` %K values (null until
    * they exist). Appends `pct_k` and `pct_d`. One window shuffle on
    * the series key; the rolling min/max are exact value picks, so
    * every downstream double is bit-reproducible under any
    * partitioning. The n-row frame re-aggregates O(n) per row — n is
    * a small constant (14 here; a monotonic-deque segmented scan is
    * the O(1)-amortized path if a caller ever needs n in the
    * thousands), and %D is an explicit lag chain, not a frame sum, so
    * both engines fold the same three doubles in the same order. */
  def stochastic(bars: DataFrame, key: String, bucket: String, high: String,
                 low: String, close: String, n: Int, dPeriod: Int = 3): DataFrame = {
    require(n >= 1 && dPeriod >= 1, s"n >= 1 and dPeriod >= 1 required, got n=$n d=$dPeriod")
    val ord = Window.partitionBy(col(key)).orderBy(col(bucket))
    val frame = ord.rowsBetween(-(n - 1), Window.currentRow)
    val dSum = (dPeriod - 1 to 0 by -1)
      .map(j => if (j == 0) col("pct_k") else lag(col("pct_k"), j).over(ord))
      .reduce(_ + _)
    bars.withColumn("__ll", min(col(low)).over(frame))
      .withColumn("__hh", max(col(high)).over(frame))
      .withColumn("__rn", row_number().over(ord))
      // ratio FIRST, scale second: (c−ll)/(hh−ll) of c ∈ [ll, hh] is a
      // correctly-rounded value ≤ 1.0, so %K ∈ [0, 100] exactly —
      // 100·(c−ll) pre-rounding can overshoot by an ulp
      .withColumn("pct_k",
        when(col("__rn") >= n,
          when(col("__hh") === col("__ll"), lit(50.0))
            .otherwise((col(close) - col("__ll")) / (col("__hh") - col("__ll")) * lit(100.0))))
      .withColumn("pct_d", dSum / lit(dPeriod.toDouble))
      .drop("__ll", "__hh", "__rn")
  }

  /** Deterministic global shuffle + sharding — the order-randomizing
    * step before training-data export: rows order by md5(salt:id),
    * shard = hash mod `nShards`, `pos` = rank within the shard by the
    * same hash order. A pure function of (salt, ids): reruns, retries
    * and cluster size reproduce the permutation bit-for-bit (never
    * rand()/shuffle()). Appends `shard` and `pos`; one window shuffle
    * on the shard key. */
  def shuffleShards(df: DataFrame, id: String, nShards: Int,
                    salt: String = "graft"): DataFrame =
    ops.DataOps.shuffleShardsOf(df, id, nShards, salt)

  /** Boilerplate-segment removal — the CCNet-style line-dedup scrub:
    * segments (split on `delim`; "\n" for the classic line form)
    * appearing verbatim in ≥ ceil(`minDocFrac`·N) documents are
    * stripped from every document, the survivors rejoined in order.
    * Returns (id, clean_text, n_kept, n_removed). The frequency table
    * is segment-vocabulary-sized and the boilerplate set broadcasts;
    * see [[ops.DedupOps.stripBoilerplateOf]] for the full contract. */
  def stripBoilerplate(docs: DataFrame, id: String, text: String,
                       delim: String = "\n", minDocFrac: Double = 0.5): DataFrame =
    ops.DedupOps.stripBoilerplateOf(docs, id, text, delim, minDocFrac)

  /** Content-defined-chunk dedup over binary payloads — dedup ×
    * multimodal: Gear-CDC partitions each payload at CONTENT
    * positions (an inserted byte re-aligns within one chunk; fixed
    * windows shift every boundary after it), then per payload reports
    * chunks/bytes shared with other payloads — the storage-dedup
    * signal. Payload bytes never shuffle, only (id, chunk-md5, len);
    * see [[ops.MultiOps.cdcDedupOf]] and the `graft_cdc` kernel. */
  def cdcDedup(df: DataFrame, id: String, bin: String, maskBits: Int = 13,
               minLen: Int = 2048, maxLen: Int = 65536): DataFrame =
    ops.MultiOps.cdcDedupOf(df, id, bin, maskBits, minLen, maxLen)

  /** Graded benchmark-contamination scoring — [[decontaminate]]'s
    * PaLM-style sibling: per training doc, the fraction of its
    * distinct word-`n`-grams found anywhere in the pooled benchmark
    * gram set, flagged at `flagFrac` (sustained overlap condemns, one
    * shared gram does not). No pair join — the benchmark collapses to
    * a broadcast gram set; see [[ops.DataOps.contaminationFracOf]]. */
  def contaminationScore(train: DataFrame, bench: DataFrame, id: String,
                         text: String, n: Int = 8,
                         flagFrac: Double = 0.2): DataFrame =
    ops.DataOps.contaminationFracOf(train, bench, id, text, n, flagFrac)

  /** MAD-based robust outlier flags per key — [[winsorize]]'s robust
    * sibling: med/MAD thresholds cannot be dragged by the outliers
    * they hunt; |x − med| > k·1.4826·MAD flags, appending `med`,
    * `mad`, `robust_z`, `is_outlier` (zero MAD ⇒ any deviation
    * flags). Two key-sized broadcast percentile aggs; see
    * [[ops.CoreOps.madOutliersOf]]. */
  def madOutliers(df: DataFrame, key: String, value: String,
                  k: Double = 3.0): DataFrame =
    ops.CoreOps.madOutliersOf(df, key, value, k)

  /** Product-quantization ANN — the third ANN scale path next to
    * [[annIvf]]/[[annLsh]], and the one that compresses the corpus:
    * vectors are stored as `m` codebook codes (128× smaller at
    * dims=64/m=4), queries score by ADC lookup sums and
    * exact-cosine-confirm the top `k`. Codebooks = the `kCodes`
    * smallest-id rows of `codebookSource` sliced per subspace
    * (deterministic init; [[kmeans]] per subspace is the production
    * trainer). See [[ops.SimOps.pqAnnOf]]. */
  def annPq(corpus: DataFrame, queries: DataFrame, codebookSource: DataFrame,
            id: String, vec: String, dims: Int, m: Int, kCodes: Int, k: Int,
            excludeSelf: Boolean = true): DataFrame =
    ops.SimOps.pqAnnOf(corpus, queries, codebookSource, id, vec, dims, m, kCodes, k, excludeSelf)

  /** PQ + exact-cosine refine: [[annPq]] widened to k·rerankFactor ADC
    * candidates, then only those re-ranked by exact cosine — FAISS's
    * refine wrapper. See [[ops.SimOps.pqRefineOf]]. */
  def annPqRefine(corpus: DataFrame, queries: DataFrame, codebookSource: DataFrame,
                  id: String, vec: String, dims: Int, m: Int, kCodes: Int, k: Int,
                  rerankFactor: Int = 4): DataFrame =
    ops.SimOps.pqRefineOf(corpus, queries, codebookSource, id, vec, dims, m,
      kCodes, k, rerankFactor)

  /** Scalar-quantized (SQ8) ANN — the fourth ANN representation next
    * to [[annIvf]]/[[annLsh]]/[[annPq]]: per-dim min/max define a
    * 256-level grid (codes 4–8× smaller at rest, see [[sqEncode]]);
    * search is asymmetric (original query vs decoded corpus), true
    * cosine reported per hit. Stats are one 1-row broadcast aggregate;
    * the query pass is the s01 shape (queries broadcast, one corpus
    * scan). See [[ops.SimOps.sqAnnOf]]. */
  def annSq(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
            dims: Int, k: Int, excludeSelf: Boolean = true): DataFrame =
    ops.SimOps.sqAnnOf(corpus, queries, id, vec, dims, k, excludeSelf)

  /** The stored SQ8 representation: (id, codes array<int> 0..255),
    * map-only encode against the corpus min/max grid. */
  def sqEncode(corpus: DataFrame, id: String, vec: String, dims: Int): DataFrame =
    ops.SimOps.sqEncodeOf(corpus, id, vec, dims)

  /** DSIR data selection (Xie et al. 2023): hashed-bigram importance
    * ratios of each pool doc between a target-corpus model and the
    * pool model, then a deterministic Gumbel-top-k draw ∝ exp(lr).
    * Models are bucket-sized broadcasts; per-doc sums are cumulative
    * folds; the draw is a pure function of (salt, ids, text). */
  def dsirSelect(target: DataFrame, pool: DataFrame, id: String, text: String,
                 buckets: Int = 4096, salt: String = "dsir",
                 sampleN: Int = 50): DataFrame =
    ops.TextOps.dsirSelectOf(target, pool, id, text, buckets, salt, sampleN)

  /** Reliability-diagram calibration bins — AUC measures ranking, this
    * measures whether score LEVELS mean what they say: per equal-width
    * score bin over the exact [min,max], (n, n_pos, mean_score,
    * frac_pos); counts integer-exact, the bin mean a cumulative fold.
    * See [[ops.SimOps.calibrationOf]]. */
  def calibrationBins(df: DataFrame, score: String, label: String, tie: String,
                      bins: Int = 10): DataFrame =
    ops.SimOps.calibrationOf(df, score, label, tie, bins)

  /** Matryoshka truncation recall sweep: per query and prefix length,
    * recall@k of prefix-cosine retrieval vs the full-dim exact top-k —
    * the eval behind storing d of fullDims floats. One corpus scan for
    * ALL prefixes (one window shuffle keyed (q_id, dims)), not one
    * pass per prefix. `prefixes` must include `fullDims`. */
  def mrlRecall(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
                fullDims: Int, prefixes: Seq[Int], k: Int,
                excludeSelf: Boolean = true): DataFrame =
    ops.SimOps.mrlRecallOf(corpus, queries, id, vec, fullDims, prefixes, k, excludeSelf)

  /** Graded-relevance ranking eval: nDCG@k + MRR of `candidate`
    * against the exact `truth` ranking (both (q_id, rank, id)) —
    * relevance k+1−truth_rank, exponential gains, rank-ordered DCG
    * fold so the result is engine-reproducible. Returns
    * (q_id, n_rel_found, mrr, dcg_at_k, ndcg_at_k). */
  def rankEval(truth: DataFrame, candidate: DataFrame, id: String, k: Int): DataFrame =
    ops.SimOps.rankEvalOf(truth, candidate, id, k)

  /** Count-min-sketch heavy hitters: the exact top-`k` corpus terms
    * with their estimates from a `rows`×`width` md5-bucketed counter
    * matrix — the mergeable fixed-size frequency state a 100 TB
    * stream maintains directly; deterministic buckets make every
    * estimate reproducible (and ≥ exact by construction). Returns
    * (term, n_exact, n_est, overest); see
    * [[ops.DataOps.cmsHeavyHittersOf]]. */
  def heavyHitters(docs: DataFrame, text: String, k: Int,
                   rows: Int = 4, width: Int = 1024): DataFrame =
    ops.DataOps.cmsHeavyHittersOf(docs, text, k, rows, width)

  /** Percentile winsorization per key — the outlier-clipping scrub
    * before numeric feature training: values below the key's exact
    * `lo`-percentile (or above `hi`) are clamped to it; appends
    * `winsorized` + `clip` (−1/0/1). The percentile table is
    * key-cardinality-sized and broadcasts; at 100 TB swap in
    * `approx_percentile` (see [[ops.CoreOps.winsorizeOf]]). */
  def winsorize(df: DataFrame, key: String, value: String,
                lo: Double = 0.01, hi: Double = 0.99): DataFrame =
    ops.CoreOps.winsorizeOf(df, key, value, lo, hi)

  /** Rolling min AND max of the trailing `n` rows per series via the
    * monotonic-deque sliding-extrema scan — O(1) amortized per row at
    * ANY window size, where a `rowsBetween` frame re-aggregates
    * O(n)/row (fine at n = 14, quadratic pain at n in the thousands).
    * Null until `n` rows; bit-identical to the frame form (exact
    * value picks). Returns (key, ts_ms, tie, roll_min, roll_max);
    * join back on (key, ts_ms, tie) for other columns. */
  def rollingExtrema(df: DataFrame, key: String, ts: String, tie: String,
                     value: String, n: Int): DataFrame =
    ops.ScanOps.rollingExtremaOf(df, key, ts, tie, value, n)

  /** MACD(fast, slow, signal) — the exact adjust=False composition of
    * three [[ewmaExact]] recurrences in ONE segmented-scan pass:
    * macd = EWMA_fast(x) − EWMA_slow(x), signal = EWMA_signal(macd),
    * hist = macd − signal (α = 2/(span+1), all series init to the
    * first value ⇒ macd₁ = signal₁ = 0). One shuffle on the series
    * key, O(1) state per series. Returns (key, ts_ms, tie, macd,
    * signal, hist); join back on (key, ts_ms, tie) for other columns.
    * Continuous twin: [[graft.streaming.StreamOps.streamingMacd]]. */
  def macd(df: DataFrame, key: String, ts: String, tie: String, value: String,
           fast: Int = 12, slow: Int = 26, signal: Int = 9): DataFrame =
    ops.ScanOps.macdOf(df, key, ts, tie, value, fast, slow, signal)

  /** Per-document top-k TF-IDF terms: tf = in-doc term count, idf =
    * ln((1+N)/(1+df)) + 1 (smoothed); terms ranked per doc by
    * (tf·idf desc, term). Shuffles carry (doc, term, count) — never
    * text; the doc-frequency table is vocabulary-sized. */
  def tfidfTopTerms(docs: DataFrame, id: String, text: String, k: Int): DataFrame =
    ops.TextOps.tfidfTopTermsOf(docs, id, text, k)

  /** EXACT infinite-history EWMA — pandas `ewm(alpha,
    * adjust=False).mean()`: y₁ = x₁, yᵢ = (1−α)·yᵢ₋₁ + α·xᵢ. An
    * irreducibly sequential recurrence, run as a distributed segmented
    * scan (one shuffle on `key`, each series folded in (`ts`, `tie`)
    * order with O(1) state — see [[ops.ScanOps]]). Returns (`key` AS
    * STRING, `ts_ms`, `tie`, `ewma`); join back on those for other
    * columns. Prefer [[ewma]] (truncated, pure window algebra) when a
    * bounded tail weight is acceptable. */
  def ewmaExact(df: DataFrame, key: String, ts: String, tie: String,
                value: String, alpha: Double): DataFrame =
    ops.ScanOps.ewmaExactOf(df, key, ts, tie, value, alpha)

  /** 1-D local-level Kalman filter per series (segmented scan): the
    * adaptive-gain generalization of [[ewmaExact]] — gain anneals
    * from 1 to the steady state the procVar/obsVar ratio implies.
    * Returns the filtered `level` and posterior `variance` per row. */
  def kalman(df: DataFrame, key: String, ts: String, tie: String,
             value: String, procVar: Double, obsVar: Double): DataFrame =
    ops.ScanOps.kalmanOf(df, key, ts, tie, value, procVar, obsVar)

  /** GARCH(1,1) conditional-variance filtering with fixed (ω, α, β)
    * over an innovation series (segmented scan): σ² reacts to each
    * shock and decays geometrically — per-tick volatility where the
    * daily estimators only see day aggregates. Returns `sigma2` and
    * `sigma` per row. */
  def garch(df: DataFrame, key: String, ts: String, tie: String,
            value: String, omega: Double, alpha: Double,
            beta: Double): DataFrame =
    ops.ScanOps.garchOf(df, key, ts, tie, value, omega, alpha, beta)

  /** Wilder-smoothed RSI(n) — the exact recurrence form (pandas_ta
    * RMA: `ewm(alpha=1/n, adjust=False)` over gains/losses), run as a
    * distributed segmented scan; [[rsi]] is Cutler's window form of
    * the same indicator. Output shape as [[ewmaExact]], `rsi` null
    * until `n` deltas, flat series pin to 50. */
  def rsiWilder(df: DataFrame, key: String, ts: String, tie: String,
                value: String, n: Int): DataFrame =
    ops.ScanOps.rsiWilderOf(df, key, ts, tie, value, n)

  /** Truncated exponentially-weighted moving average — pandas
    * ewm(alpha, adjust=True) over the last `w` observations:
    * ewma_t = Σ_{j<min(rn,w)} (1−α)^j·x_{t-j} / Σ_j (1−α)^j. Appends
    * `ewma`. The weights are materialized Scala doubles and the sums
    * are balanced adjacent-pair trees ([[F]]'s janino-safe shape); the
    * untruncated EWMA is a linear recurrence (segmented scan at scale),
    * while this form is a fixed set of lags on one window sort. Pick
    * `w` so (1−α)^w is below the tolerated tail weight. */
  /** Per-column data-quality profile (the Deequ `ColumnProfiler` /
    * pandas `describe` shape): one row per requested column with row
    * count, non-null count, null fraction, distinct count and min/max
    * (numerics/timestamps as doubles, strings as strings). ONE
    * aggregation pass over one scan regardless of column count. At
    * 100 TB pass `exactDistinct = false` — HLL++ buffers, no Expand. */
  def profileTable(df: DataFrame, cols: Seq[String],
                   exactDistinct: Boolean = true): DataFrame =
    ops.QualityOps.profileOf(df, cols, exactDistinct)

  /** Declarative data-quality expectation suite (the
    * Deequ/Great-Expectations shape): every check's aggregate metric is
    * computed in ONE pass over one scan; returns the k-row report
    * (check, metric, threshold, passed). Failing checks don't abort —
    * gate on `passed` downstream. */
  def checkConstraints(df: DataFrame, checks: Seq[ops.QualityOps.Check]): DataFrame =
    ops.QualityOps.checkConstraintsOf(df, checks)

  /** Snapshot diff between two dataset versions: per id, added /
    * removed / changed (by content md5); unchanged rows drop. Each side
    * reduces map-side to (id, hash) before the one id-keyed full outer
    * join — content never shuffles. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, id: String,
                   content: String): DataFrame =
    ops.DataOps.snapshotDiffOf(oldDf, newDf, id, content)

  /** Per-source term-distribution drift vs the corpus: KL divergence
    * and total-variation distance over the Laplace-smoothed top-V
    * vocabulary — the "did this source's language shift?" monitor.
    * One token-level count shuffle; everything after is
    * vocabulary-sized. */
  def termDrift(docs: DataFrame, source: String, text: String,
                topV: Int = 200): DataFrame =
    ops.TextOps.termDriftOf(docs, source, text, topV)

  /** Cross-table embedding near-dup pairs — the d05 sign-sketch band
    * machinery between TWO vector tables (semantic decontamination,
    * retrieval-vs-corpus overlap): both sides sketch with the same
    * deterministic planes, candidates pair only inside shared (band,
    * chunk) buckets, exact cosine ≥ `threshold` confirms. When `right`
    * is small (a benchmark suite) AQE broadcasts it and the left
    * corpus never shuffles. */
  def crossNearDupPairs(left: DataFrame, right: DataFrame, id: String,
                        vec: String, threshold: Double, sketchBits: Int = 24,
                        bands: Int = 4, dims: Int = 64): DataFrame =
    ops.DedupOps.crossNearDupOf(left, right, id, vec, threshold, sketchBits, bands, dims)

  /** Distributed BPE vocabulary training (Sennrich word-level BPE):
    * `nMerges` rounds of pair-count → merge over the word-frequency
    * table (never the corpus), deterministic (count desc, left, right)
    * tie-break, greedy left-to-right merge application. Returns the
    * merge table (rank, left, right, pair_count).
    *
    * Wall-clock contract: BPE merges are inherently sequential (merge
    * k+1 reads the vocab after merge k), so **jobs = nMerges** — each
    * a vocabulary-sized pair-count shuffle plus a 1-row driver argmax;
    * the corpus is scanned exactly once, to build the word table. A
    * 32k-merge tokenizer is a 32k-job nightly batch whose per-round
    * cost is independent of corpus size. To restart after a driver
    * failure, replay the merges already persisted via `priorMerges`
    * (map-only, no shuffles) and training continues bit-identically —
    * the argmax tie-break is total, so resumed and uninterrupted runs
    * learn the same table. */
  def bpeTrain(docs: DataFrame, id: String, text: String, nMerges: Int,
               priorMerges: Seq[(String, String)] = Nil): DataFrame =
    ops.TextOps.bpeTrainOf(docs, id, text, nMerges, priorMerges)

  /** BPE tokenization with a learned merge table ([[bpeTrain]]'s
    * output, rank order): map-only chained merge-kernel passes, no
    * shuffle. Appends (tokens, n_tokens) per doc. */
  def bpeEncode(docs: DataFrame, id: String, text: String,
                merges: Seq[(String, String)]): DataFrame =
    ops.TextOps.bpeEncodeOf(docs, id, text, merges)

  /** Hashed sparse feature vectors (the hashing trick): token →
    * md5 bucket mod `dim` with an independent ±1 sign hash, one sparse
    * cell (doc_id, bucket, feat, n_tokens) per (doc, bucket). No vocab
    * table to build or ship — the feature space is a pure function of
    * the bytes, so independently hashed corpora are feature-compatible;
    * map-side explode + one integer-sum shuffle, ≤ `dim` cells/doc. */
  def featureHash(docs: DataFrame, id: String, text: String, dim: Int,
                  salt: String = "graft"): DataFrame =
    ops.TextOps.featureHashOf(docs, id, text, dim, salt)

  /** BM25 ranked retrieval over any (id, text) table: top-`topK` docs
    * for a small literal term set, Robertson idf + k1/b length
    * normalization. Map-only scoring (per-row array filters, one
    * broadcast stats row), TakeOrdered top-k — no token shuffle. */
  def bm25Search(docs: DataFrame, id: String, text: String, terms: Seq[String],
                 k1: Double = 1.2, b: Double = 0.75, topK: Int = 20): DataFrame =
    ops.TextOps.bm25Of(docs, id, text, terms, k1, b, topK)

  /** Deterministic weighted sampling without replacement
    * (Efraimidis–Spirakis with md5-derived uniforms): inclusion
    * probability ∝ `weight`, drawn set a pure function of
    * (salt, ids, weights) — reproducible across reruns and cluster
    * sizes, never rand(). */
  def weightedSample(df: DataFrame, id: String, weight: String, salt: String,
                     n: Int): DataFrame =
    ops.DataOps.weightedSampleOf(df, id, weight, salt, n)

  /** Keep the top ⌈pct·n/100⌉ rows of each group by (score desc, tie) —
    * per-domain quality pruning that cannot empty weak domains the way
    * a global cut does. One window shuffle on the group key. */
  def topPctPerGroup(df: DataFrame, group: String, score: String, tie: String,
                     pct: Int): DataFrame =
    ops.DataOps.topPctPerGroupOf(df, group, score, tie, pct)

  /** Ordered conversion funnel: step i counts users whose first step-i
    * event at-or-after their step-(i−1) entry exists (min-timestamp
    * chaining — strict in-order progress). One row per step with
    * conversion rates. Every stage is a user-sized aggregate joined on
    * the user key; the raw log never self-joins. */
  def funnel(events: DataFrame, user: String, eventType: String, ts: String,
             steps: Seq[String]): DataFrame =
    ops.BehaviorOps.funnelOf(events, user, eventType, ts, steps)

  /** Day-cohort retention: cohort = first active day per user; cell
    * (cohort, k) = users active k days later, with retention fractions.
    * One pass over the log into user-sized tables. */
  def retention(events: DataFrame, user: String, ts: String, maxK: Int): DataFrame =
    ops.BehaviorOps.retentionOf(events, user, ts, maxK)

  /** First-order Markov transition matrix: per user in time order,
    * consecutive event pairs → (from_type, to_type) edge counts and
    * row-stochastic probabilities — where users actually go next. One
    * user-key window pass + one edge-count aggregation. */
  def transitions(events: DataFrame, user: String, ts: String, id: String,
                  eventType: String): DataFrame =
    ops.BehaviorOps.transitionsOf(events, user, ts, id, eventType)

  /** Trailing k-day distinct active users per observed day (the WAU/MAU
    * curve). Distinct (user, day) activity fans out to the ≤ k window
    * ends it covers (map-side explode) — never a distinct-per-frame
    * window or a range self-join. */
  def rollingActive(events: DataFrame, user: String, ts: String, k: Int): DataFrame =
    ops.BehaviorOps.rollingActiveOf(events, user, ts, k)

  /** Top session journeys: gap-sessionize per user, join each session's
    * first k event types into a path string, count sessions per path.
    * Two user-key window passes + one path-count aggregation. */
  def topPaths(events: DataFrame, user: String, ts: String, id: String,
               eventType: String, gapMs: Long = 1800000L, k: Int = 3): DataFrame =
    ops.BehaviorOps.topPathsOf(events, user, ts, id, eventType, gapMs, k)

  /** Daily volatility estimators over an OHLC bar table: per (series,
    * day) close-to-close realized variance, Parkinson, and
    * Garman–Klass — the risk columns scheduled next to ATR. Day sums
    * are cumulative folds in bar order (bit-reproducible); one
    * (series, day) window shuffle. */
  def volatility(bars: DataFrame, key: String, ts: String, open: String,
                 high: String, low: String, close: String): DataFrame =
    ops.FinOps.volatilityOf(bars, key, ts, open, high, low, close)

  /** Volume-clock bars (AFML information-driven bars): re-bucket a
    * fill stream into bars of `budget` traded volume each — OHLC,
    * volume, notional, vwap per (series, bar). Bar boundaries are a
    * deterministic cumulative fold of the volume column in
    * (`ts`, `tieCols`…) order; one shuffle on the series key (the
    * (series, bar) window reuses it). Zero-volume rows are dropped —
    * they don't advance the volume clock. */
  def volumeBars(df: DataFrame, key: String, ts: String, tieCols: Seq[String],
                 price: String, volume: String, budget: Double): DataFrame =
    ops.FinOps.volumeBarsOf(df, key, ts, tieCols, price, volume, budget)

  /** Spearman rank correlation per group (the quant "rank IC"):
    * monotone association outliers can't drag. Ranks are total-ordered
    * via the tie column, so the integer no-ties closed form applies —
    * bit-exact at any parallelism with zero float-fold discipline. */
  def rankCorr(df: DataFrame, group: String, x: String, y: String,
               tie: String): DataFrame =
    ops.FinOps.rankCorrOf(df, group, x, y, tie)

  /** Historical VaR(alpha) + Expected Shortfall per series from a
    * one-row-per-(key, ts) close series: exact-interp return quantile
    * + deterministic tail-mean fold. `approx_percentile` is the
    * 100 TB quantile swap. */
  def varEs(bars: DataFrame, key: String, ts: String, close: String,
            alpha: Double = 0.05): DataFrame =
    ops.FinOps.varEsOf(bars, key, ts, close, alpha)

  /** Per-key quantile discretization (MLlib QuantileDiscretizer shape
    * on the q20 exact-percentile machinery): appends `bin` ∈
    * [0, nBins−1], cut points at i/nBins per key, equal-boundary values
    * to the upper bin. At 100 TB swap exact percentile for the sketch,
    * or collect global cuts and use the `graft_searchsorted` kernel. */
  def quantileBins(df: DataFrame, key: String, value: String, nBins: Int): DataFrame =
    ops.CoreOps.quantileBinsOf(df, key, value, nBins)

  /** Population covariance matrix of a vector column, long-form upper
    * triangle (i, j, n, cov); moments run as cumulative window sums so
    * results are bit-reproducible.
    *
    * 100 TB recipe IS the parameter: pass `samplePermille < 1000` and
    * the pass runs over an md5-deterministic id sample (ds02 formula) —
    * a d×d matrix needs ~d² effective rows, not the corpus, and the
    * sampled moments are reproducible across reruns and cluster sizes.
    * Default 1000 = full pass. */
  def covariance(df: DataFrame, id: String, vec: String,
                 samplePermille: Int = 1000): DataFrame =
    ops.SimOps.covarianceOf(df, id, vec, samplePermille)

  /** Token-budget mixture planning (the static schedule ds06's
    * mixture sampling executes): per domain — available tokens
    * (exact integer sum), target = weight·budget, epochs to fill the
    * slot under an epoch cap, and the `capped` bit that signals an
    * under-resourced domain. One integer agg shuffle. */
  def mixturePlan(docs: DataFrame, domain: String, tokens: String,
                  weights: Map[String, Double], budgetTokens: Long,
                  maxEpochs: Double = 4.0): DataFrame =
    ops.DataOps.mixturePlanOf(docs, domain, tokens, weights, budgetTokens, maxEpochs)

  /** Multi-epoch mixture materialization — the row-level executor of
    * [[mixturePlan]]'s repeat factors: every doc once per full epoch
    * plus a deterministic md5-order fill of the fractional final epoch
    * (the [[mixtureSample]] rule at the leftover budget). Appends
    * `epoch`; the mix is a pure function of (weights, budget, cap,
    * salt, keys). One domain-key window shuffle; the epoch fan-out is
    * a map-side explode after it. */
  def epochMix(docs: DataFrame, domain: String, id: String, tokens: String,
               weights: Map[String, Double], budgetTokens: Long,
               maxEpochs: Double = 4.0, salt: String = "graft"): DataFrame =
    ops.DataOps.epochMixOf(docs, domain, id, tokens, weights, budgetTokens,
      maxEpochs, salt)

  /** Length-grouped batching with measured padding: batches of
    * `batchSize` under the length-sorted scheme vs the arrival-order
    * baseline, each batch reporting its pad-token waste. Membership is
    * a pure function of (ids, lengths); both global sorts run as
    * bucketed ranks (never a partitionless corpus window). */
  def lengthGroups(df: DataFrame, id: String, len: String, batchSize: Int,
                   idBucketWidth: Long = 4096L): DataFrame =
    ops.DataOps.lengthGroupsOf(df, id, len, batchSize, idBucketWidth)

  /** Supertrend(n, mult) — the ATR trailing-stop indicator: Wilder-RMA
    * ATR bands around hl2 with the band ratchet and close-cross trend
    * flip, run as an exact O(1)-state segmented scan per series (five
    * carried states with data-dependent branching — nothing a window
    * frame expresses). See [[ops.ScanOps.supertrendOf]]. */
  def supertrend(bars: DataFrame, key: String, ts: String, high: String,
                 low: String, close: String, n: Int = 10,
                 mult: Double = 3.0): DataFrame =
    ops.ScanOps.supertrendOf(bars, key, ts, high, low, close, n, mult)

  /** Ichimoku Kinkō Hyō: the five-line window composite (tenkan/kijun
    * range midpoints, the two cloud edges as lags, the lagging span as
    * a lead) — exact picks and 2-term means, one window shuffle.
    * See [[ops.FinOps.ichimokuOf]]. */
  def ichimoku(bars: DataFrame, key: String, ts: String, high: String,
               low: String, close: String, pT: Int = 9, pK: Int = 26,
               pB: Int = 52): DataFrame =
    ops.FinOps.ichimokuOf(bars, key, ts, high, low, close, pT, pK, pB)

  /** Parabolic SAR (Wilder): the stop-and-reverse companion of
    * [[supertrend]] — SAR accelerates toward the extreme point, clamps
    * to the prior two bars, reverses when pierced; four carried states
    * plus clamp history as an exact segmented scan.
    * See [[ops.ScanOps.psarOf]]. */
  def psar(bars: DataFrame, key: String, ts: String, high: String,
           low: String, close: String, af0: Double = 0.02,
           afMax: Double = 0.2): DataFrame =
    ops.ScanOps.psarOf(bars, key, ts, high, low, close, af0, afMax)

  /** Holt's linear-trend double exponential smoothing: level+trend
    * recurrence with one-step-ahead forecast and error columns.
    * See [[ops.ScanOps.holtOf]]. */
  def holt(df: DataFrame, key: String, ts: String, tie: String, value: String,
           alpha: Double = 0.3, beta: Double = 0.1): DataFrame =
    ops.ScanOps.holtOf(df, key, ts, tie, value, alpha, beta)

  /** Population Stability Index drift report between a reference and a
    * current dataset over a numeric column: equal-width bins on the
    * reference range, add-1 smoothed shares, per-bin contributions and
    * the total PSI. See [[ops.QualityOps.psiDriftOf]]. */
  def psiDrift(ref: DataFrame, cur: DataFrame, valueCol: String,
               bins: Int = 10): DataFrame =
    ops.QualityOps.psiDriftOf(ref, cur, valueCol, bins)

  /** Per-entity Shannon entropy of a categorical column (plus the 0..1
    * normalized form) — behavioral-variety scoring.
    * See [[ops.BehaviorOps.behaviorEntropyOf]]. */
  def behaviorEntropy(df: DataFrame, entity: String, category: String): DataFrame =
    ops.BehaviorOps.behaviorEntropyOf(df, entity, category)

  /** Per-entity inter-event timing profile: gap count/total/mean/sd/
    * min/max in epoch-ms, integer-exact. See
    * [[ops.BehaviorOps.interEventStatsOf]]. */
  def interEventStats(df: DataFrame, entity: String, ts: String): DataFrame =
    ops.BehaviorOps.interEventStatsOf(df, entity, ts)

  /** Gini concentration of activity per group over entities — 0 even,
    * →1 dominated; integer arithmetic until the final division.
    * See [[ops.BehaviorOps.giniConcentrationOf]]. */
  def giniConcentration(df: DataFrame, group: String, entity: String): DataFrame =
    ops.BehaviorOps.giniConcentrationOf(df, group, entity)

  /** Cosine range search: every corpus vector with cos ≥ tau per query
    * — the radius variant of [[knnBrute]] (queries broadcast, one
    * map-only corpus scan). See [[ops.SimOps.rangeSearchOf]]. */
  def rangeSearch(corpus: DataFrame, queries: DataFrame, id: String,
                  vec: String, tau: Double, excludeSelf: Boolean = true): DataFrame =
    ops.SimOps.rangeSearchOf(corpus, queries, id, vec, tau, excludeSelf)

  /** ColBERT-style MaxSim late interaction over nSub sub-vector
    * "tokens": Σ per query token of the max cosine against any doc
    * token, top-k per query. See [[ops.SimOps.maxSimOf]]. */
  def maxSim(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
             dims: Int, nSub: Int, k: Int = 10,
             excludeSelf: Boolean = true): DataFrame =
    ops.SimOps.maxSimOf(corpus, queries, id, vec, dims, nSub, k, excludeSelf)

  /** Two-stage IVF+PQ ANN (the FAISS `IVFx,PQy` architecture): coarse
    * centroid cells bound the candidate set, PQ codes + a broadcast
    * ADC lookup bound the bytes per candidate; exact-cosine confirm on
    * the survivors. See [[ops.SimOps.ivfPqAnnOf]]. */
  def annIvfPq(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
               codebooks: DataFrame, id: String, vec: String, dims: Int,
               m: Int, kCodes: Int, k: Int = 10, probes: Int = 2,
               excludeSelf: Boolean = true): DataFrame =
    ops.SimOps.ivfPqAnnOf(corpus, queries, centroids, codebooks, id, vec,
      dims, m, kCodes, k, probes, excludeSelf)

  /** Per-payload byte-distribution Shannon entropy over a binary
    * column (codec-free, UDF-free): byte_len, distinct bytes,
    * entropy in bits and fill_ratio = entropy/8 — the
    * compressibility/corruption ingest profile.
    * See [[ops.MultiOps.byteEntropyOf]]. */
  def byteEntropy(df: DataFrame, id: String, payload: String): DataFrame =
    ops.MultiOps.byteEntropyOf(df, id, payload)

  /** Poisson-bootstrap confidence interval for a metric mean — the
    * single-pass, md5-deterministic bootstrap (no materialized
    * resamples; Poisson(1) weights drawn in-flight per replica).
    * Returns one row (n_rows, n_replicas, mean, ci_lo, ci_hi).
    * See [[ops.DataOps.bootstrapCiOf]]. */
  def bootstrapCi(df: DataFrame, id: String, value: String, b: Int = 50,
                  level: Double = 0.95, salt: String = "graft"): DataFrame =
    ops.DataOps.bootstrapCiOf(df, id, value, b, level, salt)

  /** Kaplan–Meier churn survival over an activity log: per lifetime
    * level, at-risk/churned/censored counts, hazard and the product-
    * limit survival curve (censored entities handled exactly).
    * See [[ops.BehaviorOps.survivalOf]]. */
  def survival(events: DataFrame, entity: String, ts: String,
               censorDays: Int = 3): DataFrame =
    ops.BehaviorOps.survivalOf(events, entity, ts, censorDays)

  /** VPIN flow toxicity: tick-rule-signed fills re-bucketed by the
    * volume clock, per-bucket |signed|/total imbalance, rolling n-bucket
    * mean. See [[ops.EconOps.vpinOf]]. */
  def vpin(fills: DataFrame, key: String, ts: String, tie: Seq[String],
           price: String, vol: String, budget: Double, n: Int = 50): DataFrame =
    ops.EconOps.vpinOf(fills, key, ts, tie, price, vol, budget, n)

  /** Kyle (1985) price-impact lambda per series: OLS of the bar price
    * change on signed volume — price impact per unit of net flow, the
    * regression companion of [[amihud]]. See
    * [[ops.EconOps.kyleLambdaOf]]. */
  def kyleLambda(bars: DataFrame, key: String, ts: String, close: String,
                 vol: String): DataFrame =
    ops.EconOps.kyleLambdaOf(bars, key, ts, close, vol)

  /** Zipf's-law fit over the corpus top-V rank-frequency curve:
    * zipf_alpha = −slope of ln(count) on ln(rank), with r² — the
    * one-row distributional health check. See
    * [[ops.TextStatsOps.zipfFitOf]]. */
  def zipfFit(docs: DataFrame, text: String, topV: Int = 200): DataFrame =
    ops.TextStatsOps.zipfFitOf(docs, text, topV)

  /** Pairs-trading spread monitor: OLS hedge ratio of series A on
    * series B over the aligned grid, spread = a − (α + β·b), rolling
    * n-bar z-score with ±2σ signals. See [[ops.FinOps.pairsSpreadOf]]. */
  def pairsSpread(bars: DataFrame, key: String, ts: String, close: String,
                  seriesA: String, seriesB: String, n: Int = 24): DataFrame =
    ops.FinOps.pairsSpreadOf(bars, key, ts, close, seriesA, seriesB, n)

  /** Reciprocal-rank fusion of >= 2 ranked candidate lists — the
    * hybrid lexical+vector combiner (no score calibration needed,
    * only ranks): fused = Σ 1/(k0 + rank), absent-from-a-list ids
    * contribute 0 for that list. See [[ops.SimOps.rrfFuseOf]]. */
  def rrfFuse(lists: Seq[DataFrame], id: String, rank: String,
              k0: Int = 60, topK: Int = 10): DataFrame =
    ops.SimOps.rrfFuseOf(lists, id, rank, k0, topK)

  /** PMI collocations: adjacent-pair pointwise mutual information over
    * unigram/bigram corpus counts, min-count filtered, top-k.
    * See [[ops.TextStatsOps.pmiCollocationsOf]]. */
  def pmiCollocations(docs: DataFrame, text: String, minCount: Long = 10L,
                      k: Int = 25): DataFrame =
    ops.TextStatsOps.pmiCollocationsOf(docs, text, minCount, k)

  /** Per-doc lexical diversity: type-token ratio + hapax share from
    * integer-only aggregates. See [[ops.TextStatsOps.lexicalDiversityOf]]. */
  def lexicalDiversity(docs: DataFrame, id: String, text: String): DataFrame =
    ops.TextStatsOps.lexicalDiversityOf(docs, id, text)

  /** Flesch reading ease + FK grade per doc from regex word/sentence/
    * vowel-group counts — map-only. See [[ops.TextStatsOps.readabilityOf]]. */
  def readability(docs: DataFrame, id: String, text: String): DataFrame =
    ops.TextStatsOps.readabilityOf(docs, id, text)

  /** Class-balance audit: per-class counts, share, inverse-frequency
    * and effective-number (Cui et al.) weights normalized to mean 1.
    * See [[ops.TextStatsOps.classBalanceOf]]. */
  def classBalance(df: DataFrame, classCol: String, tokensCol: String,
                   beta: Double = 0.999): DataFrame =
    ops.TextStatsOps.classBalanceOf(df, classCol, tokensCol, beta)

  /** Amihud illiquidity: rolling mean of |return|/volume — the price
    * impact per unit volume. See [[ops.EconOps.amihudOf]]. */
  def amihud(bars: DataFrame, key: String, ts: String, close: String,
             vol: String, n: Int = 20): DataFrame =
    ops.EconOps.amihudOf(bars, key, ts, close, vol, n)

  /** Roll implied effective spread: 2·√(−autocov(Δp)) per series, from
    * the bid-ask-bounce negative autocorrelation of price changes.
    * See [[ops.EconOps.rollSpreadOf]]. */
  def rollSpread(df: DataFrame, key: String, ts: String, price: String): DataFrame =
    ops.EconOps.rollSpreadOf(df, key, ts, price)

  /** Autocorrelation function at lags 1..maxLag per series — one
    * window pass, one fold; q21's rolling form generalized to the
    * full lag profile. See [[ops.EconOps.acfOf]]. */
  def acf(df: DataFrame, key: String, ts: String, value: String,
          maxLag: Int = 10): DataFrame =
    ops.EconOps.acfOf(df, key, ts, value, maxLag)

  /** Hurst exponent by rescaled-range analysis: block R/S per scale,
    * log-mean per scale, OLS slope against log(scale). ≈0.5 random
    * walk, >0.5 trending, <0.5 mean-reverting.
    * See [[ops.EconOps.hurstOf]]. */
  def hurst(df: DataFrame, key: String, ts: String, value: String,
            scales: Seq[Int] = Seq(32, 64, 128)): DataFrame =
    ops.EconOps.hurstOf(df, key, ts, value, scales)

  /** Wilder's ADX(n): +DM/−DM/TR each RMA-smoothed, DI± ratios, DX,
    * and ADX as the RMA of DX — four coupled recurrences in one exact
    * segmented scan. See [[ops.ScanOps.adxOf]]. */
  def adx(bars: DataFrame, key: String, ts: String, high: String,
          low: String, close: String, n: Int = 14): DataFrame =
    ops.ScanOps.adxOf(bars, key, ts, high, low, close, n)

  /** Heikin-Ashi candles: ha_close per bar, ha_open by the two-state
    * recurrence, extrema vs both. See [[ops.ScanOps.heikinAshiOf]]. */
  def heikinAshi(bars: DataFrame, key: String, ts: String, open: String,
                 high: String, low: String, close: String): DataFrame =
    ops.ScanOps.heikinAshiOf(bars, key, ts, open, high, low, close)

  /** TRIX(n): 1-bar rate of change of a triple span-EWMA — three
    * carried doubles in one scan pass. See [[ops.ScanOps.trixOf]]. */
  def trix(df: DataFrame, key: String, ts: String, tie: String,
           value: String, n: Int = 15): DataFrame =
    ops.ScanOps.trixOf(df, key, ts, tie, value, n)

  /** Commodity Channel Index(n): (tp − SMA(tp))/(0.015·MeanDev) — the
    * mean absolute deviation folds the window's n tp values about the
    * window's own mean (a bounded collect_list per row; nothing a
    * frame sum expresses). See [[ops.IndicatorOps.cciOf]]. */
  def cci(bars: DataFrame, key: String, ts: String, high: String,
          low: String, close: String, n: Int = 20): DataFrame =
    ops.IndicatorOps.cciOf(bars, key, ts, high, low, close, n)

  /** Williams %R(n): −100·(HH−close)/(HH−LL), the inverted stochastic
    * — exact rolling extrema, one window shuffle.
    * See [[ops.IndicatorOps.williamsROf]]. */
  def williamsR(bars: DataFrame, key: String, ts: String, high: String,
                low: String, close: String, n: Int = 14): DataFrame =
    ops.IndicatorOps.williamsROf(bars, key, ts, high, low, close, n)

  /** Keltner channel (original SMA form): SMA(tp) ± SMA(high−low),
    * both rolling means as sums over the bounded n-bar frame.
    * See [[ops.IndicatorOps.keltnerOf]]. */
  def keltner(bars: DataFrame, key: String, ts: String, high: String,
              low: String, close: String, n: Int = 10): DataFrame =
    ops.IndicatorOps.keltnerOf(bars, key, ts, high, low, close, n)

  /** Money Flow Index(n): volume-weighted RSI over typical-price money
    * flows. See [[ops.IndicatorOps.mfiOf]]. */
  def mfi(bars: DataFrame, key: String, ts: String, high: String,
          low: String, close: String, vol: String, n: Int = 14): DataFrame =
    ops.IndicatorOps.mfiOf(bars, key, ts, high, low, close, vol, n)

  /** Vortex indicator(n): VM± range sums over the true-range sum.
    * See [[ops.IndicatorOps.vortexOf]]. */
  def vortex(bars: DataFrame, key: String, ts: String, high: String,
             low: String, close: String, n: Int = 14): DataFrame =
    ops.IndicatorOps.vortexOf(bars, key, ts, high, low, close, n)

  /** Chaikin A/D line: running Σ of close-location-weighted volume —
    * the weighted sibling of [[obv]]. See [[ops.IndicatorOps.chaikinAdOf]]. */
  def chaikinAd(bars: DataFrame, key: String, ts: String, high: String,
                low: String, close: String, vol: String): DataFrame =
    ops.IndicatorOps.chaikinAdOf(bars, key, ts, high, low, close, vol)

  /** Aroon(n) up/down: bars since the latest n-bar high/low scaled to
    * (0, 100] — pure list/position ops, no float folds.
    * See [[ops.IndicatorOps.aroonOf]]. */
  def aroon(bars: DataFrame, key: String, ts: String, high: String,
            low: String, n: Int = 25): DataFrame =
    ops.IndicatorOps.aroonOf(bars, key, ts, high, low, n)

  /** Perceptual average-hash of a binary column: `bits` evenly-strided
    * payload samples thresholded at the payload mean, packed into one
    * BIGINT — map-only at scan speed. With a real codec the same
    * expression runs on decoded pixels. */
  def phash(df: DataFrame, id: String, bin: String, bits: Int = 60): DataFrame =
    ops.MultiOps.phashOf(df, id, bin, bits)

  /** Perceptual near-dup pairs at hamming ≤ maxHamming, chunk-blocked
    * (full recall while maxHamming < chunks — the d03 pigeonhole). */
  def phashPairs(df: DataFrame, id: String, bin: String, bits: Int = 60,
                 chunks: Int = 4, maxHamming: Int = 3): DataFrame =
    ops.MultiOps.phashPairsOf(df, id, bin, bits, chunks, maxHamming)

  /** Deterministic Bloom-filter membership probe — the fixed-memory
    * form of [[incrementalDedup]]'s exact check: probing any amount of
    * history costs an ≤m-bit broadcast, no history-sized join. No
    * false negatives (the Bloom law); per-doc false-positive report
    * against the exact answer makes m/k sizing measurable. */
  def bloomProbe(history: DataFrame, batch: DataFrame, id: String, text: String,
                 mBits: Int = 2048, kHashes: Int = 4): DataFrame =
    ops.DataOps.bloomProbeOf(history, batch, id, text, mBits, kHashes)

  /** Temperature-scaled (α-sampling) domain mixture: q_d ∝ n_d^α
    * weights DERIVED from the corpus (α < 1 upweights tail domains —
    * the XLM-R/mT5 multilingual rule), reported as per-domain
    * natural/temperature shares, boost, target tokens and implied
    * epochs. [[mixturePlan]] is the executor for explicit weights. */
  def temperatureMix(docs: DataFrame, domain: String, tokens: String,
                     alpha: Double, budgetTokens: Long): DataFrame =
    ops.DataOps.temperatureMixOf(docs, domain, tokens, alpha, budgetTokens)

  /** PageRank over a directed edge list: graph centrality where
    * [[connectedComponents]] gives membership — rank the best
    * canonical doc inside a near-dup cluster, or the hub states of a
    * transition graph. Ranks stay a distributed table; every node
    * needs an out-edge (symmetrize undirected graphs; validated). */
  def pageRank(edges: DataFrame, src: String, dst: String,
               damping: Double = 0.85, iters: Int = 3): DataFrame =
    ops.DedupOps.pageRankOf(edges, src, dst, damping, iters)

  /** ROC-AUC of a score column vs a boolean label — the ranking
    * quality a filtering classifier is judged by. Mann–Whitney
    * rank-sum over a DISTRIBUTED exact global rank (score-range
    * buckets + broadcast offsets, never a partitionless window);
    * integer arithmetic to the final division. Returns one row
    * (n_pos, n_neg, auc). */
  def aucScore(df: DataFrame, score: String, label: String, tie: String,
               buckets: Int = 256): DataFrame =
    ops.SimOps.aucOf(df, score, label, tie, buckets)

  /** SemDeDup: semantic dedup with LEARNED cluster blocking — k-means
    * partitions the embedding space, pairs compare only within a
    * cluster, and every vector with a ≥-threshold cosine neighbor of
    * smaller id drops (greedy, deterministic). k bounds the pair work
    * (~n²/k); the third blocking scheme next to sign-sketch bands and
    * exact-hash groups. Returns (id, cluster, is_kept). */
  def semDedup(vecs: DataFrame, id: String, vec: String, dims: Int,
               k: Int, iters: Int = 2, threshold: Double = 0.95): DataFrame =
    ops.SimOps.semDedupOf(vecs, id, vec, dims, k, iters, threshold)

  /** Exact maximum-inner-product search: top-k by raw dot product —
    * the retrieval objective when magnitude carries signal (two-tower
    * recommenders). Queries broadcast, one corpus scan. */
  def mipsBrute(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
                k: Int, excludeSelf: Boolean = true): DataFrame =
    ops.SimOps.mipsBruteOf(corpus, queries, id, vec, k, excludeSelf)

  /** MIPS at scale via norm augmentation (asymmetric LSH): one extra
    * dimension makes every corpus norm equal, cosine order becomes
    * dot order, and the sign-sketch LSH bucket path applies.
    * Approximate; survivors re-scored with the exact dot. */
  def annMips(corpus: DataFrame, queries: DataFrame, id: String, vec: String,
              k: Int, sketchBits: Int = 24, bands: Int = 4,
              dims: Int = 64): DataFrame =
    ops.SimOps.annMipsOf(corpus, queries, id, vec, k, sketchBits, bands, dims)

  /** Train a linear probe on an embedding column (squared-loss
    * full-batch GD against a ±1 label column, weights as bounded
    * driver state) and score the full corpus map-only. The curation
    * classifier fit: `samplePermille` fits on the deterministic id
    * sample, the scoring pass always covers everything. Returns per
    * row (id, y, score, predicted, correct). */
  def linearProbe(df: DataFrame, id: String, vec: String, y: String,
                  dims: Int, lr: Double = 0.05, iters: Int = 3,
                  samplePermille: Int = 1000): DataFrame =
    ops.SimOps.linearProbeOf(df, id, vec, y, dims, lr, iters, samplePermille)

  /** The [[linearProbe]] fit alone: the d fitted weights (driver
    * state) for reuse in a map-only scoring pass elsewhere. */
  def fitLinearProbe(df: DataFrame, id: String, vec: String, y: String,
                     dims: Int, lr: Double = 0.05, iters: Int = 3,
                     samplePermille: Int = 1000): Array[Double] =
    ops.SimOps.fitLinearProbe(df, id, vec, y, dims, lr, iters, samplePermille)

  /** PCA fit + map-only projection: one distributed covariance pass, a
    * driver-side d×d Jacobi eigensolve (the kmeans driver-state shape),
    * then `pc0..pc{k-1}` appended as centered dots with the top
    * components. Components are sign-normalized (largest-|coordinate|
    * entry positive) so the output is deterministic.
    *
    * `samplePermille < 1000` fits covariance + means on a deterministic
    * id sample while the projection still maps over the FULL input —
    * the 100 TB default recipe in one call. */
  def pcaProject(df: DataFrame, id: String, vec: String, dims: Int,
                 nComp: Int, samplePermille: Int = 1000): DataFrame = {
    val (_, comps, means) = ops.SimOps.pcaFitOf(df, id, vec, dims, nComp, samplePermille)
    ops.SimOps.pcaProjectOf(df, vec, comps, means)
  }

  def ewma(df: DataFrame, key: String, ts: String, id: String, value: String,
           alpha: Double, w: Int): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    require(w >= 1, s"w must be >= 1, got $w")
    val ord = Window.partitionBy(col(key)).orderBy(col(ts), col(id))
    val weights = (0 until w).map(j => math.pow(1.0 - alpha, j))
    def balSum(xs: Seq[Column]): Column =
      if (xs.sizeIs == 1) xs.head
      else balSum(xs.grouped(2).map(g => if (g.sizeIs == 2) g(0) + g(1) else g(0)).toSeq)
    val num = balSum(weights.zipWithIndex.map { case (wt, j) =>
      coalesce(lag(col(value), j).over(ord), lit(0.0)) * lit(wt) })
    val den = balSum(weights.zipWithIndex.map { case (wt, j) =>
      when(lag(col(value), j).over(ord).isNotNull, lit(wt)).otherwise(lit(0.0)) })
    df.withColumn("ewma", num / den)
  }
}
