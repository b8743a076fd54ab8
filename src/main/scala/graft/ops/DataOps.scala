package graft.ops

import graft.{F, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dataset management (SURVEY.md §2 #36-39) — the split/sample/pack
  * bookkeeping a training-data pipeline runs after cleaning: every
  * assignment is a DETERMINISTIC function of content keys (md5-derived,
  * like the dedup family), so datasets are reproducible bit-for-bit
  * across runs, engines and cluster sizes — never `rand()`, which
  * resamples on every retry and can't be oracle-checked.
  *
  * Scale stance: ds01/ds02 are map-only (scan-speed filters); ds03
  * packs per shard key so the running sum parallelizes; ds04 is one
  * partial-aggregated shuffle on the term.
  */
object DataOps {
  type Q = (SparkSession, String) => DataFrame
  import Tables.t
  import F._

  /** Deterministic train/val/test split over ANY keyed table (public
    * operator behind [[graft.Graft.hashSplit]]): bucket = md5 of
    * (salt || id) mod 100; [0, trainPct) → train, [trainPct,
    * trainPct+valPct) → val, rest → test. Per-row, stable under
    * reruns/retries/cluster size; salt isolates independent splits. */
  def hashSplitOf(df: DataFrame, idCol: String, salt: String,
                  trainPct: Int, valPct: Int): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"hashSplit fractions must satisfy 0 <= train($trainPct) + val($valPct) <= 100")
    val bucket = pmod(hash60(concat(lit(salt + ":"), col(idCol).cast("string"))), lit(100L))
    df.withColumn("split_bucket", bucket)
      .withColumn("split",
        when(col("split_bucket") < trainPct, "train")
          .when(col("split_bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** #36 the 80/10/10 split of the documents corpus. */
  private val ds01: Q = (s, dir) =>
    hashSplitOf(t(s, dir, "documents"), "doc_id", "graft", 80, 10)
      .select(col("doc_id"), col("lang"), col("split_bucket"), col("split"))
      .orderBy("doc_id")

  private val ds01Sql =
    """SELECT doc_id, lang,
      |  CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS split_bucket,
      |  CASE WHEN CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
      |       WHEN CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** Deterministic stratified sample over ANY keyed table (public
    * operator behind [[graft.Graft.deterministicSample]]): keeps rows
    * whose md5 bucket (of salt || stratum || id, mod 1000) falls below
    * `permille`. Every stratum is sampled at the same rate; the kept
    * set is a pure function of the keys — re-running, scaling the
    * cluster, or retrying a stage cannot change it. */
  def deterministicSampleOf(df: DataFrame, stratumCol: String, idCol: String,
                            salt: String, permille: Int): DataFrame =
    df.filter(pmod(hash60(concat(lit(salt + ":"), col(stratumCol).cast("string"),
      lit(":"), col(idCol).cast("string"))), lit(1000L)) < permille)

  /** #37 a 10% per-event-type sample of the events stream. */
  private val ds02: Q = (s, dir) =>
    deterministicSampleOf(t(s, dir, "events"), "event_type", "event_id", "graft", 100)
      .select(col("event_id"), col("event_type"), col("user_id"),
        epochMs(col("ts")).as("ts_ms"), col("value"))
      .orderBy("event_id")

  private val ds02Sql =
    """SELECT event_id, event_type, user_id, epoch_ms(ts) AS ts_ms, value
      |FROM events
      |WHERE CAST(('0x' || substr(md5('graft:' || event_type || ':' || CAST(event_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 100
      |ORDER BY event_id""".stripMargin

  /** Sequence packing over ANY sharded doc table (public operator
    * behind [[graft.Graft.packBins]]): docs are packed in (shard,
    * order) sequence into bins of `budget` tokens — bin index =
    * floor(exclusive-prefix-sum / budget), the streaming-friendly
    * first-fit-in-order rule every pretraining tokenizer shard job
    * uses. One window shuffle on the shard key; O(1) per row. A doc
    * longer than the budget still lands in one bin (its own). */
  def packBinsOf(df: DataFrame, shardCol: String, idCol: String,
                 tokensCol: String, budget: Long): DataFrame = {
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(col(tokensCol)).over(w))
      .withColumn("bin", ((col("__cum") - col(tokensCol)) / budget).cast("long"))
      .drop("__cum")
  }

  /** #38 pack the documents corpus into 2048-token bins per language. */
  private val ds03: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
      .withColumn("n_tokens", size(words(col("text"))).cast("long"))
    packBinsOf(docs, "lang", "doc_id", "n_tokens", budget = 2048L)
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("bin"))
      .orderBy("doc_id")
  }

  private val ds03Sql =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, lang, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM d)
      |SELECT doc_id, lang, n_tokens, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin
      |FROM c
      |ORDER BY doc_id""".stripMargin

  /** Concat-and-chunk sequence assembly over ANY token-counted doc
    * table (public operator behind [[graft.Graft.concatChunk]]) — the
    * pretraining dataloader's OTHER packing discipline, next to
    * [[packBinsOf]]: ds03 keeps documents whole (first-fit bins, a
    * padded tail per bin); this one CONCATENATES the deterministically
    * shuffled token stream and cuts it into fixed-`seqLen` sequences,
    * documents crossing sequence boundaries — the GPT-2/LLaMA recipe
    * (zero padding; every sequence is exactly `seqLen` tokens except
    * each shard's last). Output is the SPAN map the loader and any
    * attention-boundary masking need: one row per (document, sequence)
    * overlap with the offset inside the sequence and the token count
    * contributed.
    *
    * Order is the ds08 deterministic permutation (md5(salt‖id), never
    * rand()): shard = h mod `nShards`, within-shard order (h, id) — so
    * the chunking is a pure function of (salt, ids, token counts),
    * bit-stable under reruns/retries/cluster size, and shards are
    * INDEPENDENT: one prefix-sum window per shard (nShards ≥ executor
    * count keeps every core busy; no global sort ever happens). A doc
    * spans sequences floor(start/L)..floor((end−1)/L) — the explode
    * emits ≤ n/L + 1 rows per doc, so output size is tokens/L + docs
    * rows, integer arithmetic end to end. Zero-token docs are dropped
    * (nothing to place; spec-pinned). */
  def concatChunkOf(df: DataFrame, idCol: String, tokensCol: String,
                    seqLen: Long, nShards: Int,
                    salt: String = "graft"): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val h = hash60(concat(lit(salt + ":"), col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.filter(col(tokensCol) > 0)
      .withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)).cast("int"))
      .withColumn("__end", sum(col(tokensCol).cast("long")).over(w))
      .withColumn("__start", col("__end") - col(tokensCol))
      // `div`, not `/`: Column./ is double division, whose 53-bit
      // mantissa would mis-round sequence ids once a shard's prefix sum
      // passes ~2^53 tokens — the oracle's `//` is exact, so the Spark
      // side must be too (the "integer arithmetic end to end" claim)
      .withColumn("seq_id", explode(sequence(
        expr(s"__start div ${seqLen}L"),
        expr(s"(__end - 1) div ${seqLen}L"))))
      .withColumn("seq_off",
        greatest(col("__start") - col("seq_id") * seqLen, lit(0L)))
      .withColumn("n_toks",
        least(col("__end"), (col("seq_id") + 1) * seqLen)
          - greatest(col("__start"), col("seq_id") * seqLen))
      .drop("__h", "__end", "__start")
  }

  /** #38b chunk the documents corpus into 512-token training
    * sequences over 8 shards (GPT-style concat-and-chunk; ds03's
    * whole-doc bins are the padded alternative). */
  private val ds24: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
      .withColumn("n_tokens", size(words(col("text"))).cast("long"))
    concatChunkOf(docs, "doc_id", "n_tokens", seqLen = 512L, nShards = 8)
      .select(col("shard"), col("seq_id"), col("doc_id"), col("seq_off"), col("n_toks"))
      .orderBy("shard", "seq_id", "seq_off")
  }

  private val ds24Sql =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
      |    CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, n_tokens, h % 8 AS shard,
      |    sum(n_tokens) OVER (PARTITION BY h % 8 ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS e
      |  FROM d WHERE n_tokens > 0),
      |x AS (
      |  SELECT shard, doc_id, e - n_tokens AS st, e,
      |    unnest(generate_series(CAST((e - n_tokens) // 512 AS BIGINT),
      |      CAST((e - 1) // 512 AS BIGINT))) AS seq_id
      |  FROM s)
      |SELECT CAST(shard AS INT) AS shard, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
      |  CAST(greatest(st - seq_id * 512, 0) AS BIGINT) AS seq_off,
      |  CAST(least(e, (seq_id + 1) * 512) - greatest(st, seq_id * 512) AS BIGINT) AS n_toks
      |FROM x
      |ORDER BY shard, seq_id, seq_off""".stripMargin

  /** Deterministic global shuffle + sharding (public operator behind
    * [[graft.Graft.shuffleShards]]) — the order-randomizing step before
    * training-data export: h = md5-hash of (salt || id), shard = h mod
    * `nShards`, `pos` = 0-based rank within the shard by (h, id).
    * A pure function of (salt, ids): reruns, retries and cluster size
    * reproduce the permutation bit-for-bit (never rand()/shuffle()).
    * One window shuffle on the shard key — each shard's rank sort is
    * independent, so nShards ≥ executor count keeps every core busy
    * and no single sort sees more than 1/nShards of the data.
    *
    * Assumes `idCol` is a unique key (like every keyed operator here):
    * duplicate ids tie on (h, id) and their relative `pos` is then
    * partition-order dependent. Output columns `shard` and `pos` (and
    * the transient `__h`) OVERWRITE same-named input columns. */
  def shuffleShardsOf(df: DataFrame, idCol: String, nShards: Int,
                      salt: String): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val h = hash60(concat(lit(salt + ":"), col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    df.withColumn("__h", h)
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)).cast("int"))
      .withColumn("pos", (row_number().over(w) - 1).cast("long"))
      .drop("__h")
  }

  /** Corpus-wide term frequencies, top k (public operator behind
    * [[graft.Graft.topTerms]]): explode → count → top-k with a total
    * tie-break. Map-side partial aggregation absorbs the explode —
    * only (term, partial count) rows shuffle, so the cost at 100 TB
    * is the distinct-term count, not the token count. */
  def topTermsOf(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs.select(explode(words(col(textCol))).as("term"))
      .groupBy("term")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(k)

  /** #39 the 50 most frequent corpus terms. */
  private val ds04: Q = (s, dir) =>
    topTermsOf(t(s, dir, "documents"), "text", 50)

  private val ds04Sql =
    """SELECT term, count(*) AS n
      |FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents)
      |GROUP BY term
      |ORDER BY n DESC, term
      |LIMIT 50""".stripMargin

  /** Corpus bigram statistics (public operator behind
    * [[graft.Graft.bigramStats]]): count of each adjacent word pair
    * and the conditional next-word probability
    * P(w2 | w1) = count(w1 w2) / count(w1 ·), top k pairs. The first
    * shuffle aggregates (w1, w2, partial count) — map-side combine
    * absorbs the token explode — and the head-count window shuffles
    * only the DISTINCT-bigram table, so corpus size enters through
    * vocabulary, not token count. */
  def bigramStatsOf(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs
      .select(words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(__ws)-2), i -> struct(__ws[i] AS w1, __ws[i+1] AS w2))")).as("__bg"))
      .select(col("__bg.w1").as("w1"), col("__bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .withColumn("__c1", sum(col("c12")).over(Window.partitionBy(col("w1"))))
      .select(col("w1"), col("w2"), col("c12"),
        (col("c12") / col("__c1").cast("double")).as("p_next"))
      .orderBy(col("c12").desc, col("w1"), col("w2"))
      .limit(k)

  /** #40 the 30 most frequent corpus bigrams with P(next | head). */
  private val ds05: Q = (s, dir) =>
    bigramStatsOf(t(s, dir, "documents"), "text", 30)
      .select(col("w1"), col("w2"), col("c12"), r6(col("p_next")).as("p_next"))

  private val ds05Sql =
    """WITH w AS (
      |  SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
      |bg AS (
      |  SELECT unnest(list_transform(generate_series(1, len(ws)-1),
      |    i -> ws[i] || ' ' || ws[i+1])) AS b
      |  FROM w WHERE len(ws) >= 2),
      |c AS (
      |  SELECT split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
      |    count(*) AS c12
      |  FROM bg GROUP BY 1, 2),
      |t AS (SELECT w1, w2, c12, sum(c12) OVER (PARTITION BY w1) AS c1 FROM c)
      |SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
      |  round(c12 / CAST(c1 AS DOUBLE), 6) AS p_next
      |FROM t
      |ORDER BY c12 DESC, w1, w2
      |LIMIT 30""".stripMargin

  /** Domain-weighted mixture sampling (public operator behind
    * [[graft.Graft.mixtureSample]]) — the LLM data-mixing step: each
    * domain contributes documents up to ITS token budget, picked in
    * md5(salt:domain:id) order. The pick set is a pure function of
    * keys and budgets: reruns, retries and cluster size reproduce the
    * mixture bit-for-bit (never rand()), which is what makes a 100 TB
    * training mix auditable. First-fit-in-order: a domain's last doc
    * may cross its budget (kept iff its EXCLUSIVE prefix is under);
    * domains missing from `budgets` contribute nothing. One window
    * shuffle on the domain key. Appends pick_rank + cum_tokens. */
  def mixtureSampleOf(df: DataFrame, domainCol: String, idCol: String,
                      tokensCol: String, budgets: Map[String, Long],
                      salt: String = "graft"): DataFrame = {
    require(budgets.nonEmpty, "mixtureSample needs at least one domain budget")
    require(budgets.values.forall(_ >= 0), "mixtureSample budgets must be >= 0")
    val w = Window.partitionBy(col(domainCol)).orderBy(col("__h"), col(idCol))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budget = budgets.toSeq.sortBy(_._1).foldLeft(lit(null).cast("long")) {
      case (acc, (d, b)) => when(col(domainCol) === d, lit(b)).otherwise(acc)
    }
    df.withColumn("__h", hash60(concat(lit(salt + ":"), col(domainCol).cast("string"),
        lit(":"), col(idCol).cast("string"))))
      .withColumn("__cum", sum(col(tokensCol)).over(cum))
      .withColumn("pick_rank", row_number().over(w).cast("long"))
      .filter(col("__cum") - col(tokensCol) < budget)
      .withColumn("cum_tokens", col("__cum"))
      .drop("__h", "__cum")
  }

  /** #41 a 20-domain mixture over the documents corpus: srcN's budget
    * is 300 + 150·(N mod 4) tokens. */
  private val ds06Budgets: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> (300L + 150L * (i % 4))).toMap

  private val ds06: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
      .withColumn("n_tokens", size(words(col("text"))).cast("long"))
    mixtureSampleOf(docs, "source", "doc_id", "n_tokens", ds06Budgets)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("pick_rank"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  private val ds06Sql = {
    val cases = ds06Budgets.toSeq.sortBy(_._1)
      .map { case (d, b) => s"WHEN '$d' THEN $b" }.mkString(" ")
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
       |    CAST(('0x' || substr(md5('graft:' || source || ':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM documents),
       |c AS (
       |  SELECT *,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS pick_rank
       |  FROM d),
       |b AS (SELECT *, CASE source $cases END AS budget FROM c)
       |SELECT doc_id, source, n_tokens, pick_rank, CAST(cum AS BIGINT) AS cum_tokens
       |FROM b
       |WHERE cum - n_tokens < budget
       |ORDER BY doc_id""".stripMargin
  }

  /** Benchmark decontamination (public operator behind
    * [[graft.Graft.decontaminate]]): flags every training document
    * sharing at least one word n-gram with any benchmark document —
    * the standard eval-leak scan before a pretraining run. Both sides
    * reduce to DISTINCT (id, ngram-hash) pairs first, so the join
    * shuffles ids+hashes only (never text), co-partitioned on the
    * hash; per flagged doc: distinct shared n-grams + distinct
    * benchmark docs hit. Returns (doc_id, n_shared_grams,
    * n_bench_docs). */
  def decontaminateOf(train: DataFrame, bench: DataFrame, idCol: String,
                      textCol: String, n: Int = 8): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    def grams(df: DataFrame, idAs: String): DataFrame = df
      .select(col(idCol).as(idAs), words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= n)
      .select(col(idAs), explode(expr(
        s"transform(sequence(0, size(__ws)-$n), i -> array_join(slice(__ws, i+1, $n), ' '))")).as("__g"))
      .select(col(idAs), hash60(col("__g")).as("__h"))
      .distinct()
    grams(train, "doc_id")
      .join(grams(bench, "__bench_id"), "__h")
      .groupBy(col("doc_id"))
      .agg(count_distinct(col("__h")).as("n_shared_grams"),
        count_distinct(col("__bench_id")).as("n_bench_docs"))
  }

  /** #42 contamination scan: benchmark = every 11th doc, train = the
    * rest; any shared word-8-gram flags the training doc. */
  private val ds07: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    decontaminateOf(
      docs.filter(pmod(col("doc_id"), lit(11L)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(11L)) === 0),
      "doc_id", "text", n = 8)
      .orderBy("doc_id")
  }

  private val ds07Sql =
    """WITH g AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h
      |  FROM (
      |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 7),
      |      i -> array_to_string(ws[i:i+7], ' '))) AS gram
      |    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      |          FROM documents)
      |    WHERE len(ws) >= 8)
      |  GROUP BY 1, 2),
      |tr AS (SELECT * FROM g WHERE doc_id % 11 <> 0),
      |be AS (SELECT * FROM g WHERE doc_id % 11 = 0)
      |SELECT tr.doc_id AS doc_id,
      |  count(DISTINCT tr.h) AS n_shared_grams,
      |  count(DISTINCT be.doc_id) AS n_bench_docs
      |FROM tr JOIN be ON tr.h = be.h
      |GROUP BY tr.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Corpus-level contamination SCORING (public operator behind
    * [[graft.Graft.contaminationScore]]) — [[decontaminateOf]]'s
    * graded sibling, the PaLM/GPT-3-style metric: per training doc,
    * the FRACTION of its distinct word-`n`-grams that appear anywhere
    * in the benchmark slice (not per benchmark doc — membership in
    * the pooled benchmark gram SET), flagged at `flagFrac`. A single
    * shared gram no longer condemns a doc; sustained overlap does.
    * Returns one row per training doc with ≥ n words: (doc_id,
    * n_grams, n_contaminated, contamination, flagged).
    *
    * Scale: the benchmark side collapses to a DISTINCT gram-hash set
    * (benchmark-vocabulary-sized — benchmarks are small by nature, so
    * it broadcasts); the training side shuffles (doc_id, hash) pairs
    * only — text never moves, and there is no pair join at all, so
    * unlike the fingerprint family this has NO hot-block quadratic
    * mode. The fraction is one long/long division — bit-exact. */
  def contaminationFracOf(train: DataFrame, bench: DataFrame, idCol: String,
                          textCol: String, n: Int = 8,
                          flagFrac: Double = 0.2): DataFrame = {
    require(n >= 1, s"n-gram size must be >= 1, got $n")
    require(flagFrac > 0 && flagFrac <= 1, s"flagFrac must be in (0,1], got $flagFrac")
    def grams(df: DataFrame, idAs: String): DataFrame = df
      .select(col(idCol).as(idAs), words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= n)
      .select(col(idAs), explode(expr(
        s"transform(sequence(0, size(__ws)-$n), i -> array_join(slice(__ws, i+1, $n), ' '))")).as("__g"))
      .select(col(idAs), hash60(col("__g")).as("__h"))
      .distinct()
    val benchSet = grams(bench, "__bid").select(col("__h")).distinct()
      .withColumn("__hit", lit(1))
    grams(train, "doc_id")
      .join(broadcast(benchSet), Seq("__h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_contaminated"))
      .withColumn("contamination", col("n_contaminated") / col("n_grams").cast("double"))
      .withColumn("flagged", col("contamination") >= flagFrac)
  }

  /** #42b graded contamination over the ds07 split: benchmark = every
    * 11th doc, flag training docs with > 20% benchmark-gram overlap.
    * The ×10-replica corpus is the stress case: every doc has exact
    * copies, so contamination saturates — the score separates them
    * from incidental single-gram overlap, which ds07 cannot. */
  private val ds09: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    contaminationFracOf(
      docs.filter(pmod(col("doc_id"), lit(11L)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(11L)) === 0),
      "doc_id", "text", n = 8, flagFrac = 0.2)
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        r6(col("contamination")).as("contamination"), col("flagged"))
      .orderBy("doc_id")
  }

  private val ds09Sql =
    """WITH g AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h
      |  FROM (
      |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 7),
      |      i -> array_to_string(ws[i:i+7], ' '))) AS gram
      |    FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      |          FROM documents)
      |    WHERE len(ws) >= 8)
      |  GROUP BY 1, 2),
      |tr AS (SELECT * FROM g WHERE doc_id % 11 <> 0),
      |bs AS (SELECT DISTINCT h FROM g WHERE doc_id % 11 = 0)
      |SELECT tr.doc_id AS doc_id,
      |  count(*) AS n_grams,
      |  count(bs.h) AS n_contaminated,
      |  round(count(bs.h) / CAST(count(*) AS DOUBLE), 6) AS contamination,
      |  (count(bs.h) / CAST(count(*) AS DOUBLE)) >= 0.2 AS flagged
      |FROM tr LEFT JOIN bs ON tr.h = bs.h
      |GROUP BY tr.doc_id
      |ORDER BY doc_id""".stripMargin

  /** #39b deterministic export shuffle: shard + in-shard position for
    * every document. The oracle reproduces the md5 permutation exactly
    * (same 60-bit hex prefix), so shard AND pos hash-match. */
  private val ds08: Q = (s, dir) =>
    shuffleShardsOf(t(s, dir, "documents"), "doc_id", nShards = 8, salt = "graft")
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")

  private val ds08Sql =
    """WITH h AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM documents)
      |SELECT doc_id, CAST(h % 8 AS INTEGER) AS shard,
      |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1 AS pos
      |FROM h
      |ORDER BY doc_id""".stripMargin

  /** #p06 the training-data EXPORT pipeline as ONE oracle-checked plan
    * — the stage chain a pretraining run executes after p03's curation
    * verdicts: quality gate → benchmark decontamination → domain
    * mixture sampling → sequence packing → deterministic export
    * shuffle, each stage computed ON THE PREVIOUS STAGE'S SURVIVORS.
    * Every stage alone is already oracle-checked (ds03/ds06/ds07/
    * ds08); what this gate proves is the WIRING (the p03 rule):
    *   1. quality   keep docs with ≥ 20 word tokens (t02's cheapest
    *                signal as a hard gate);
    *   2. decontam  drop any survivor sharing a word-8-gram with the
    *                benchmark slice (doc_id % 11 = 0, the ds07 carve
    *                — bench docs never enter the export);
    *   3. mixture   each domain fills its ds06 token budget in
    *                md5(salt:domain:id) order over CLEAN docs only —
    *                a doc dropped in stage 2 frees budget for the
    *                next doc in hash order, so stage order is
    *                observable in the picked set;
    *   4. pack      2048-token first-fit bins per domain over the
    *                PICKED docs (ds03 rule — bin boundaries move when
    *                the picked set changes);
    *   5. shard     md5 export shuffle of the final set (ds08 rule —
    *                `pos` ranks within the shard, so every upstream
    *                drop shifts positions).
    * One row per exported doc: (doc_id, source, n_tokens, bin, shard,
    * pos). Scale shape: stage 2 is the ds07 hashed-gram join (ids +
    * 60-bit hashes shuffle, never text); stages 3–5 are one window
    * shuffle each on domain / domain / shard — bounded-key sorts over
    * an already-budget-bounded set; nothing materializes row×row. */
  private val p06: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val bench = docs.filter(pmod(col("doc_id"), lit(11L)) === 0)
    val train = docs.filter(pmod(col("doc_id"), lit(11L)) =!= 0)
      .withColumn("n_tokens", size(words(col("text"))).cast("long"))
      .filter(col("n_tokens") >= 20)
    val contaminated = decontaminateOf(train, bench, "doc_id", "text", n = 8)
      .select(col("doc_id"))
    val clean = train.join(contaminated, Seq("doc_id"), "left_anti")
    val picked = mixtureSampleOf(clean, "source", "doc_id", "n_tokens", ds06Budgets)
      .select(col("doc_id"), col("source"), col("n_tokens"))
    val packed = packBinsOf(picked, "source", "doc_id", "n_tokens", budget = 2048L)
    shuffleShardsOf(packed, "doc_id", nShards = 8, salt = "graft")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("bin"),
        col("shard"), col("pos"))
      .orderBy("doc_id")
  }

  private val p06Sql = {
    val cases = ds06Budgets.toSeq.sortBy(_._1)
      .map { case (d, b) => s"WHEN '$d' THEN $b" }.mkString(" ")
    s"""WITH w0 AS (
       |  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |  FROM documents),
       |tr AS (
       |  SELECT doc_id, source, ws, CAST(len(ws) AS BIGINT) AS n_tokens
       |  FROM w0 WHERE doc_id % 11 <> 0 AND len(ws) >= 20),
       |tg AS (
       |  SELECT doc_id, CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 7),
       |      i -> array_to_string(ws[i:i+7], ' '))) AS gram
       |    FROM tr)
       |  GROUP BY 1, 2),
       |bg AS (
       |  SELECT CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT unnest(list_transform(generate_series(1, len(ws) - 7),
       |      i -> array_to_string(ws[i:i+7], ' '))) AS gram
       |    FROM w0 WHERE doc_id % 11 = 0 AND len(ws) >= 8)
       |  GROUP BY 1),
       |clean AS (
       |  SELECT tr.doc_id, tr.source, tr.n_tokens FROM tr
       |  WHERE NOT EXISTS (SELECT 1 FROM tg JOIN bg USING (h)
       |    WHERE tg.doc_id = tr.doc_id)),
       |m AS (
       |  SELECT *,
       |    CAST(('0x' || substr(md5('graft:' || source || ':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS hh
       |  FROM clean),
       |c AS (
       |  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY hh, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM m),
       |b AS (SELECT *, CASE source $cases END AS budget FROM c),
       |picked AS (SELECT doc_id, source, n_tokens FROM b WHERE cum - n_tokens < budget),
       |p AS (
       |  SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2
       |  FROM picked),
       |pk AS (SELECT doc_id, source, n_tokens,
       |    CAST((cum2 - n_tokens) // 2048 AS BIGINT) AS bin
       |  FROM p),
       |sh AS (
       |  SELECT *, CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h2
       |  FROM pk)
       |SELECT doc_id, source, n_tokens, bin,
       |  CAST(h2 % 8 AS INTEGER) AS shard,
       |  row_number() OVER (PARTITION BY h2 % 8 ORDER BY h2, doc_id) - 1 AS pos
       |FROM sh
       |ORDER BY doc_id""".stripMargin
  }

  /** Count-min-sketch heavy hitters over ANY (text) corpus (public
    * operator behind [[graft.Graft.heavyHitters]]) — the MERGEABLE
    * approximate-frequency path next to a01/a02's HLL/quantile
    * sketches, but with a twist that makes it oracle-checkable: the
    * `rows`×`width` counter matrix uses md5-derived buckets
    * ([[graft.F.hash60]]), so the sketch — and therefore every
    * estimate — is a pure function of the corpus, reproducible
    * bit-for-bit in SQL. Estimates are min-over-rows counter reads:
    * ≥ exact always (collisions only ADD), within εN w.h.p. — the
    * CMS contract. Returns the exact top-`k` terms with their
    * estimates: (term, n_exact, n_est, overest).
    *
    * Scale shape: term counts collapse at the map-side combine
    * (vocabulary-sized — the ds04 shape); the sketch build is a
    * vocab×`rows` expand into ≤ rows·width counters (the fixed-size
    * state a 100 TB stream would maintain directly — partial sketches
    * merge by cell-wise add); lookups join the k probe rows against
    * the BROADCAST sketch. Nothing token-sized past the first agg. */
  def cmsHeavyHittersOf(docs: DataFrame, textCol: String, k: Int,
                        rows: Int = 4, width: Int = 1024): DataFrame = {
    require(k >= 1 && rows >= 1 && width >= 2,
      s"need k >= 1, rows >= 1, width >= 2; got k=$k rows=$rows width=$width")
    def buckets(term: Column): Column = explode(array((0 until rows).map(r =>
      struct(lit(r).as("r"),
        pmod(hash60(concat(lit(s"$r:"), term)), lit(width.toLong)).as("b"))): _*))
    val counts = docs.select(explode(words(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n_exact"))
    val sketch = counts.select(col("n_exact"), buckets(col("term")).as("rb"))
      .groupBy(col("rb.r").as("r"), col("rb.b").as("b"))
      .agg(sum(col("n_exact")).as("cnt"))
    counts.orderBy(col("n_exact").desc, col("term")).limit(k)
      .select(col("term"), col("n_exact"), buckets(col("term")).as("rb"))
      .select(col("term"), col("n_exact"), col("rb.r").as("r"), col("rb.b").as("b"))
      .join(broadcast(sketch), Seq("r", "b"))
      .groupBy(col("term"), col("n_exact"))
      .agg(min(col("cnt")).as("n_est"))
      .select(col("term"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overest"))
      .orderBy(col("n_exact").desc, col("term"))
  }

  /** #a04 the CMS frequency path AS a query: 4×1024 md5-bucketed
    * counters over the documents corpus, exact top-20 terms with
    * their sketch estimates + realized overestimate (≥ 0 by
    * construction — the ExtOpsSpec-style bound the gate can check
    * exactly because the sketch is deterministic). */
  private val a04: Q = (s, dir) =>
    cmsHeavyHittersOf(t(s, dir, "documents"), "text", k = 20)

  private val a04Sql =
    """WITH toks AS (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term FROM documents),
      |counts AS (SELECT term, count(*) AS n_exact FROM toks GROUP BY term),
      |expand AS (
      |  SELECT term, n_exact, r.r AS r,
      |    CAST(('0x' || substr(md5(CAST(r.r AS VARCHAR) || ':' || term), 1, 15)) AS BIGINT) % 1024 AS b
      |  FROM counts, range(0, 4) r(r)),
      |sketch AS (SELECT r, b, sum(n_exact) AS cnt FROM expand GROUP BY r, b),
      |topk AS (SELECT term, n_exact FROM counts ORDER BY n_exact DESC, term LIMIT 20),
      |est AS (
      |  SELECT t.term, t.n_exact, min(s.cnt) AS n_est
      |  FROM topk t JOIN expand e USING (term) JOIN sketch s ON e.r = s.r AND e.b = s.b
      |  GROUP BY t.term, t.n_exact)
      |SELECT term, n_exact, CAST(n_est AS BIGINT) AS n_est,
      |  CAST(n_est - n_exact AS BIGINT) AS overest
      |FROM est
      |ORDER BY n_exact DESC, term""".stripMargin

  /** Deterministic weighted sampling WITHOUT replacement over ANY keyed
    * table (public operator behind [[graft.Graft.weightedSample]]) —
    * Efraimidis–Spirakis A-Res with the rand() replaced by the md5
    * uniform: u = (hash60(salt:id) + 1) / 2⁶⁰ ∈ (0, 1], key = ln(u)/w,
    * keep the global top-`n` by (key desc, id). Inclusion probability
    * is proportional to weight (the E-S guarantee) yet the drawn set is
    * a pure function of (salt, ids, weights) — reruns, retries and
    * cluster size cannot change it, and the oracle replays it exactly.
    * Rows with weight ≤ 0 are excluded. Appends (u, key, rnk).
    *
    * Scale: map-only scoring + a TakeOrdered top-n (no full sort, no
    * shuffle); the rank window runs post-limit on n rows. */
  def weightedSampleOf(df: DataFrame, idCol: String, weightCol: String,
                       salt: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val u = (hash60(concat(lit(salt + ":"), col(idCol).cast("string"))) + 1)
      .cast("double") / lit(1152921504606846976.0)
    val rank = Window.orderBy(col("key").desc, col(idCol))
    df.filter(col(weightCol) > 0)
      .withColumn("u", u)
      .withColumn("key", log(col("u")) / col(weightCol).cast("double"))
      .orderBy(col("key").desc, col(idCol)).limit(n)
      .withColumn("rnk", row_number().over(rank).cast("long"))
  }

  /** #43b length-weighted document sample: 100 docs drawn ∝ n_chars. */
  private val ds12: Q = (s, dir) =>
    weightedSampleOf(t(s, dir, "documents"), "doc_id", "n_chars", "graft", 100)
      .select(col("doc_id"), col("n_chars"), r6(col("key")).as("key"), col("rnk"))
      .orderBy("rnk")

  private val ds12Sql =
    """WITH s AS (
      |  SELECT doc_id, n_chars,
      |    ln((CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
      |        / 1152921504606846976.0)
      |      / CAST(n_chars AS DOUBLE) AS key
      |  FROM documents WHERE n_chars > 0),
      |r AS (SELECT doc_id, n_chars, key,
      |    CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS BIGINT) AS rnk
      |  FROM s)
      |SELECT doc_id, n_chars, round(key, 6) AS key, rnk
      |FROM r WHERE rnk <= 100 ORDER BY rnk""".stripMargin

  /** Per-group top-percent retention over ANY table (public operator
    * behind [[graft.Graft.topPctPerGroup]]) — the "keep the best X% of
    * each domain" pruning step quality-stratified corpus curation runs
    * (rather than a global cut, which empties weak domains): within
    * each `group`, rows rank by (`score` desc, `tie`) and the top
    * ⌈pct·n/100⌉ survive. The cutoff is exact integer arithmetic
    * ((n·pct + 99) div 100) — no float boundary to disagree on.
    * Appends (grp_n, rnk). One window shuffle on the group key. */
  def topPctPerGroupOf(df: DataFrame, groupCol: String, scoreCol: String,
                       tieCol: String, pct: Int): DataFrame = {
    require(pct >= 1 && pct <= 100, s"pct must be in [1,100], got $pct")
    val w = Window.partitionBy(col(groupCol))
    val rank = w.orderBy(col(scoreCol).desc, col(tieCol))
    df.withColumn("grp_n", count(lit(1)).over(w))
      .withColumn("rnk", row_number().over(rank).cast("long"))
      .filter(col("rnk") <= expr(s"(grp_n * $pct + 99) div 100"))
  }

  /** #43c keep the top-40%-by-quality of each source domain: the t02
    * composite score feeds the ds13 per-domain cut. */
  private val ds13: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val scored = TextOps.qualityFeaturesOf(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
    topPctPerGroupOf(scored, "source", "score", "doc_id", 40)
      .select(col("doc_id"), col("source"), r6(col("score")).as("score"),
        col("grp_n"), col("rnk"))
      .orderBy("source", "rnk")
  }

  private val ds13Sql =
    s"""WITH ${TextOps.qualityScoreSqlCte},
       |j AS (SELECT q.doc_id, d.source, q.score
       |  FROM __q q JOIN documents d USING (doc_id)),
       |r AS (SELECT doc_id, source, score,
       |    count(*) OVER (PARTITION BY source) AS grp_n,
       |    CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
       |  FROM j)
       |SELECT doc_id, source, round(score, 6) AS score, grp_n, rnk
       |FROM r WHERE rnk <= (grp_n * 40 + 99) // 100
       |ORDER BY source, rnk""".stripMargin

  /** Snapshot diff between two dataset versions (public operator
    * behind [[graft.Graft.snapshotDiff]]): per id, `added` (only in
    * new), `removed` (only in old), or `changed` (both, different
    * content md5) — unchanged rows are dropped. The incremental-
    * publish audit every versioned corpus needs: what moved between
    * yesterday's landing and today's, without shipping either corpus.
    *
    * Each side reduces MAP-SIDE to (id, md5(content)) before the one
    * full outer join on the id key — content never shuffles, so the
    * join payload is two hash columns regardless of document size. */
  def snapshotDiffOf(oldDf: DataFrame, newDf: DataFrame, idCol: String,
                     contentCol: String): DataFrame = {
    def h(df: DataFrame, name: String) =
      df.select(col(idCol).as("id"), md5(col(contentCol).cast("string")).as(name))
    h(oldDf, "old_md5").join(h(newDf, "new_md5"), Seq("id"), "full_outer")
      .withColumn("status",
        when(col("old_md5").isNull, lit("added"))
          .when(col("new_md5").isNull, lit("removed"))
          .when(col("old_md5") =!= col("new_md5"), lit("changed")))
      .filter(col("status").isNotNull)
  }

  /** #43d snapshot diff as a query: "old" = documents missing every
    * 10th id, "new" = documents missing ids ≡ 5 (mod 13) with every
    * 7th text revised — a deterministic two-version pair carved from
    * ONE table so the gate exercises ALL THREE of added / removed /
    * changed in a single plan. */
  private val ds14: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val old = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val neu = docs.filter(pmod(col("doc_id"), lit(13)) =!= 5)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(7)) === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))
    snapshotDiffOf(old, neu, "doc_id", "text")
      .select(col("id").as("doc_id"), col("status"))
      .orderBy("doc_id")
  }

  private val ds14Sql =
    """WITH old AS (SELECT doc_id, md5(text) AS h FROM documents
      |  WHERE doc_id % 10 <> 0),
      |neu AS (SELECT doc_id,
      |    md5(CASE WHEN doc_id % 7 = 0 THEN text || ' [rev2]' ELSE text END) AS h
      |  FROM documents WHERE doc_id % 13 <> 5)
      |SELECT coalesce(old.doc_id, neu.doc_id) AS doc_id,
      |  CASE WHEN old.h IS NULL THEN 'added'
      |       WHEN neu.h IS NULL THEN 'removed'
      |       WHEN old.h <> neu.h THEN 'changed' END AS status
      |FROM old FULL OUTER JOIN neu ON old.doc_id = neu.doc_id
      |WHERE (CASE WHEN old.h IS NULL THEN 'added'
      |       WHEN neu.h IS NULL THEN 'removed'
      |       WHEN old.h <> neu.h THEN 'changed' END) IS NOT NULL
      |ORDER BY doc_id""".stripMargin

  /** Token-budget mixture planning (public operator behind
    * [[graft.Graft.mixturePlan]]) — the STATIC schedule a training-data
    * mix is built from (the DoReMi/Pile recipe table): given per-doc
    * token counts, target mixture `weights` (domain → fraction of the
    * `budgetTokens` total) and an epoch cap, emit per domain
    *   available_tokens  Σ tokens (an INTEGER sum — exact),
    *   target_tokens     weight · budget,
    *   epochs            min(maxEpochs, target/available) — how many
    *                     times the domain must repeat to fill its slot,
    *   planned_tokens    min(target, maxEpochs·available),
    *   capped            the epoch cap bit (an under-resourced domain
    *                     cannot fill its target without more repetition
    *                     than allowed — the signal to re-weight).
    * Domains absent from `weights` get weight 0 (reported, planned 0);
    * weighted domains ABSENT FROM THE CORPUS are reported too
    * (available 0, capped true — the typo'd-name / missing-landing
    * alarm a plan must raise, never silently drop);
    * [[mixtureSampleOf]] (ds06) is the row-level executor of this plan.
    * One integer agg shuffle over the corpus dominates; the full-outer
    * weight merge cannot broadcast (Spark drops the hint for full outer
    * joins) but both its sides are domain-cardinality, so the SMJ
    * shuffles are O(#domains) rows — noise at any corpus scale. */
  def mixturePlanOf(docs: DataFrame, domainCol: String, tokensCol: String,
                    weights: Map[String, Double], budgetTokens: Long,
                    maxEpochs: Double = 4.0): DataFrame = {
    require(budgetTokens > 0, s"budgetTokens must be > 0, got $budgetTokens")
    require(maxEpochs > 0, s"maxEpochs must be > 0, got $maxEpochs")
    require(weights.values.forall(_ >= 0), "weights must be >= 0")
    val s = docs.sparkSession
    import s.implicits._
    val w = weights.toSeq.sortBy(_._1).toDF("__dom", "__w")
    val avail = docs.groupBy(col(domainCol).as("domain"))
      .agg(sum(col(tokensCol).cast("long")).as("available_tokens"))
    val target = coalesce(col("__w"), lit(0.0)) * budgetTokens
    // FULL outer: a weighted domain with zero corpus rows is the one
    // condition a planner must surface (typo'd domain name, missing
    // landing) — it appears with available 0, planned 0, capped true
    val full = avail.join(w, col("domain") === col("__dom"), "full_outer")
      .withColumn("domain", coalesce(col("domain"), col("__dom")))
      .withColumn("available_tokens", coalesce(col("available_tokens"), lit(0L)))
      .withColumn("target_tokens", target)
      .withColumn("epochs",
        when(col("available_tokens") > 0,
          least(lit(maxEpochs), col("target_tokens") / col("available_tokens")))
          .otherwise(lit(0.0)))
      .withColumn("planned_tokens",
        least(col("target_tokens"), lit(maxEpochs) * col("available_tokens")))
      .withColumn("capped",
        col("target_tokens") > lit(maxEpochs) * col("available_tokens"))
    full.select(col("domain"), col("available_tokens"),
      col("target_tokens"), col("epochs"), col("planned_tokens"), col("capped"))
  }

  /** #ds15 mixture plan over the documents corpus: whitespace token
    * counts, a deterministic weight table (upweight src0/src1, drop
    * src19), 1M-token budget, 4-epoch cap. */
  private val ds15: Q = (s, dir) => {
    val toks = t(s, dir, "documents")
      .select(col("source"), size(F.words(col("text"))).as("n_tokens"))
    val weights = (0 until 19).map { i =>
      s"src$i" -> (if (i <= 1) 0.2 else 0.6 / 17)
    }.toMap // src19 intentionally unweighted
    mixturePlanOf(toks, "source", "n_tokens", weights,
        budgetTokens = 1000000L, maxEpochs = 4.0)
      .select(col("domain"), col("available_tokens"),
        r6(col("target_tokens")).as("target_tokens"), r6(col("epochs")).as("epochs"),
        r6(col("planned_tokens")).as("planned_tokens"), col("capped"))
      .orderBy("domain")
  }

  private val ds15Sql = {
    val weightRows = (0 until 19).map { i =>
      val w = if (i <= 1) 0.2 else 0.6 / 17
      s"('src$i', CAST($w AS DOUBLE))"
    }.mkString(", ")
    s"""WITH a AS (
       |  SELECT source AS domain,
       |    CAST(sum(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)) AS BIGINT) AS available_tokens
       |  FROM documents GROUP BY source),
       |w(dom, w) AS (VALUES $weightRows),
       |j AS (
       |  SELECT coalesce(a.domain, w.dom) AS domain,
       |    CAST(coalesce(a.available_tokens, 0) AS BIGINT) AS available_tokens,
       |    coalesce(w.w, 0.0) * 1000000 AS target_tokens
       |  FROM a FULL OUTER JOIN w ON a.domain = w.dom)
       |SELECT domain, available_tokens,
       |  round(target_tokens, 6) AS target_tokens,
       |  round(CASE WHEN available_tokens > 0
       |    THEN least(4.0, target_tokens / available_tokens) ELSE 0.0 END, 6) AS epochs,
       |  round(least(target_tokens, 4.0 * available_tokens), 6) AS planned_tokens,
       |  target_tokens > 4.0 * available_tokens AS capped
       |FROM j
       |ORDER BY domain""".stripMargin
  }

  /** Multi-epoch mixture MATERIALIZATION (public operator behind
    * [[graft.Graft.epochMix]]) — the row-level executor of
    * [[mixturePlanOf]]'s repeat factors (SlimPajama/DoReMi recipes run
    * under-resourced domains at epochs > 1, which neither ds06's
    * single-pass budget fill nor ds15's static plan materializes):
    * every doc in domain d is emitted once per FULL epoch
    * (epoch = 0..⌊epochs_d⌋−1) and the FRACTIONAL final epoch
    * (epoch = ⌊epochs_d⌋) is filled by the ds06 first-fit rule — docs
    * in md5(salt:domain:id) order against the leftover token budget
    * planned − ⌊epochs⌋·available, a doc kept iff its EXCLUSIVE prefix
    * is under (so the partial epoch IS [[mixtureSampleOf]] run at that
    * leftover budget — spec-pinned equivalence). The whole mix is a
    * pure function of (weights, budget, cap, salt, keys): reruns,
    * retries and cluster size reproduce it bit-for-bit, and per domain
    * the emitted tokens are ⌊epochs⌋·available plus a partial fill in
    * [pbudget, pbudget + max doc) whenever docs remain — the
    * token-conservation law the spec pins.
    *
    * Scale: the corpus scans ONCE — the one shuffle is ds06's window
    * on the domain key (md5-order prefix sums); the plan joins back as
    * a broadcast domain-cardinality table and the epoch fan-out is a
    * map-side explode AFTER the window, so output rows = mix size and
    * no pre-explode amplification ever reaches an exchange. */
  def epochMixOf(docs: DataFrame, domainCol: String, idCol: String,
                 tokensCol: String, weights: Map[String, Double],
                 budgetTokens: Long, maxEpochs: Double = 4.0,
                 salt: String = "graft"): DataFrame = {
    val plan = mixturePlanOf(docs, domainCol, tokensCol, weights,
        budgetTokens, maxEpochs)
      .withColumn("__full", floor(col("epochs")).cast("long"))
      .withColumn("__pbudget",
        col("planned_tokens") - col("__full").cast("double") * col("available_tokens"))
      .select(col("domain").as("__dom"), col("__full"), col("__pbudget"))
    val w = Window.partitionBy(col(domainCol)).orderBy(col("__h"), col(idCol))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .join(broadcast(plan), col(domainCol) === col("__dom"))
      .withColumn("__h", hash60(concat(lit(salt + ":"), col(domainCol).cast("string"),
        lit(":"), col(idCol).cast("string"))))
      .withColumn("__cum", sum(col(tokensCol).cast("long")).over(cum))
      .withColumn("__ne", col("__full") +
        when(col("__cum") - col(tokensCol) < col("__pbudget"), 1L).otherwise(0L))
      .filter(col("__ne") > 0)
      .withColumn("epoch", explode(sequence(lit(0L), col("__ne") - 1)))
      .drop("__dom", "__full", "__pbudget", "__h", "__cum", "__ne")
  }

  /** #42q the ds15 recipe (src0/src1 upweighted, src19 unweighted)
    * MATERIALIZED at a 120k-token budget under a 3-epoch cap —
    * sized so both regimes appear at gate SF: capped domains repeat
    * full epochs, the rest land fractional fills. */
  private val ds25Weights: Map[String, Double] =
    (0 until 19).map { i =>
      s"src$i" -> (if (i <= 1) 0.2 else 0.6 / 17)
    }.toMap

  private val ds25: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
      .withColumn("n_tokens", size(F.words(col("text"))).cast("long"))
      .select(col("doc_id"), col("source"), col("n_tokens"))
    epochMixOf(docs, "source", "doc_id", "n_tokens", ds25Weights,
        budgetTokens = 120000L, maxEpochs = 3.0)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("epoch"))
      .orderBy("doc_id", "epoch")
  }

  private val ds25Sql = {
    val weightRows = ds25Weights.toSeq.sortBy(_._1)
      .map { case (d, v) => s"('$d', CAST($v AS DOUBLE))" }.mkString(", ")
    s"""WITH d AS (
       |  SELECT doc_id, source,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
       |    CAST(('0x' || substr(md5('graft:' || source || ':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM documents),
       |a AS (SELECT source AS domain, CAST(sum(n_tokens) AS BIGINT) AS available
       |  FROM d GROUP BY source),
       |w(dom, wt) AS (VALUES $weightRows),
       |p AS (SELECT a.domain, a.available,
       |    coalesce(w.wt, 0.0) * 120000 AS target
       |  FROM a LEFT JOIN w ON a.domain = w.dom),
       |p2 AS (SELECT domain,
       |    CAST(floor(CASE WHEN available > 0 THEN least(3.0, target / available)
       |      ELSE 0.0 END) AS BIGINT) AS eps_full,
       |    least(target, 3.0 * available)
       |      - CAST(CAST(floor(CASE WHEN available > 0 THEN least(3.0, target / available)
       |          ELSE 0.0 END) AS BIGINT) AS DOUBLE) * available AS pbudget
       |  FROM p),
       |c AS (SELECT d.doc_id, d.source, d.n_tokens, p2.eps_full, p2.pbudget,
       |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM d JOIN p2 ON d.source = p2.domain),
       |n AS (SELECT doc_id, source, n_tokens,
       |    eps_full + CASE WHEN cum - n_tokens < pbudget THEN 1 ELSE 0 END AS ne
       |  FROM c)
       |SELECT doc_id, source, n_tokens, epoch FROM (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(unnest(generate_series(0, ne - 1)) AS BIGINT) AS epoch
       |  FROM n WHERE ne > 0)
       |ORDER BY doc_id, epoch""".stripMargin
  }

  /** DISTRIBUTED global rank by (bucket, order-within-bucket) — the s11
    * pattern as a reusable step: per-bucket counts roll into exclusive
    * offsets (bucket-cardinality rows — the only single-partition fold),
    * broadcast back, and rows rank within their bucket only. The global
    * order is (bucket asc/desc, tie columns) — callers pick a bucket
    * expression MONOTONE in their sort key so bucket order extends to
    * total order. Never a partitionless corpus window. */
  private def bucketedRank(df: DataFrame, bucket: Column, bucketDesc: Boolean,
                           ties: Seq[Column]): DataFrame = {
    val b = df.withColumn("__bkt", bucket)
    val ord = if (bucketDesc) col("__bkt").desc else col("__bkt").asc
    val wOff = Window.orderBy(ord).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = b.groupBy(col("__bkt")).agg(count(lit(1)).as("__bn"))
      .withColumn("__off", coalesce(sum(col("__bn")).over(wOff), lit(0L)))
      .select(col("__bkt"), col("__off"))
    val wIn = Window.partitionBy(col("__bkt")).orderBy(ties: _*)
    b.join(broadcast(offsets), Seq("__bkt"))
      .withColumn("__grank", col("__off") + row_number().over(wIn))
      .drop("__bkt", "__off")
  }

  /** Length-grouped batching with padding accounting (public operator
    * behind [[graft.Graft.lengthGroups]]) — the batching trick every
    * training loop runs: batches of `batchSize` sequences pad to their
    * longest member, so grouping similar lengths together cuts wasted
    * pad tokens. Emits one row per batch under BOTH schemes —
    * scheme 'length' (sorted len desc, id) and the 'arrival' baseline
    * (sorted id) — as (scheme, batch_id, n, max_len, sum_len, padding,
    * pad_frac): the padding saving is measured in the result, not
    * assumed. Batch membership is a pure function of (ids, lengths):
    * deterministic at any parallelism.
    *
    * Scale shape: both global sorts are [[bucketedRank]] instances
    * (length buckets for 'length' — length cardinality is tiny;
    * id-range buckets for 'arrival'), so the corpus only ever shuffles
    * keyed by bucket; per-batch stats are one integer agg. */
  def lengthGroupsOf(df: DataFrame, idCol: String, lenCol: String,
                     batchSize: Int, idBucketWidth: Long = 4096L): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    require(idBucketWidth >= 1, s"idBucketWidth must be >= 1, got $idBucketWidth")
    val base = df.select(col(idCol).as("__id"), col(lenCol).cast("long").as("__len"))
    def batches(ranked: DataFrame, scheme: String): DataFrame = ranked
      .withColumn("batch_id", expr(s"(__grank - 1) div $batchSize"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n"), max(col("__len")).as("max_len"),
        sum(col("__len")).as("sum_len"))
      .withColumn("padding", col("n") * col("max_len") - col("sum_len"))
      .withColumn("pad_frac", r6(col("padding") / (col("n") * col("max_len")).cast("double")))
      .select(lit(scheme).as("scheme"), col("batch_id"), col("n"),
        col("max_len"), col("sum_len"), col("padding"), col("pad_frac"))
    val byLen = batches(
      bucketedRank(base, col("__len"), bucketDesc = true, Seq(col("__id"))), "length")
    val byArrival = batches(
      bucketedRank(base, expr(s"__id div $idBucketWidth"), bucketDesc = false,
        Seq(col("__id"))), "arrival")
    byLen.union(byArrival).orderBy("scheme", "batch_id")
  }

  /** #ds17 length-grouped batching of the documents corpus: whitespace
    * token lengths, batches of 32, vs the arrival-order baseline. */
  private val ds17: Q = (s, dir) =>
    lengthGroupsOf(
      t(s, dir, "documents").select(col("doc_id"),
        size(F.words(col("text"))).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", batchSize = 32)

  private val ds17Sql =
    """WITH d AS (SELECT doc_id,
      |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
      |  FROM documents),
      |l AS (SELECT doc_id, n_tokens,
      |    (row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1) // 32 AS batch_id
      |  FROM d),
      |a AS (SELECT doc_id, n_tokens,
      |    (row_number() OVER (ORDER BY doc_id) - 1) // 32 AS batch_id
      |  FROM d),
      |lb AS (SELECT 'length' AS scheme, batch_id, count(*) AS n,
      |    max(n_tokens) AS max_len, CAST(sum(n_tokens) AS BIGINT) AS sum_len
      |  FROM l GROUP BY batch_id),
      |ab AS (SELECT 'arrival' AS scheme, batch_id, count(*) AS n,
      |    max(n_tokens) AS max_len, CAST(sum(n_tokens) AS BIGINT) AS sum_len
      |  FROM a GROUP BY batch_id),
      |u AS (SELECT * FROM lb UNION ALL SELECT * FROM ab)
      |SELECT scheme, CAST(batch_id AS BIGINT) AS batch_id, n, max_len, sum_len,
      |  n * max_len - sum_len AS padding,
      |  round((n * max_len - sum_len) / CAST(n * max_len AS DOUBLE), 6) AS pad_frac
      |FROM u
      |ORDER BY scheme, batch_id""".stripMargin

  /** Deterministic Bloom-filter membership probe (public operator behind
    * [[graft.Graft.bloomProbe]]) — the fourth mergeable sketch next to
    * HLL distincts (a01), quantile sketches (a02) and CMS frequencies
    * (a04), and the FIXED-MEMORY form of d13's exact probe: history
    * content hashes set k md5-derived positions in an m-bit filter;
    * a batch doc is a bloom hit iff ALL its k positions are set —
    * no false negatives ever (the Bloom guarantee, spec-pinned), false
    * positives at the classic (1−e^(−kn/m))^k rate, REPORTED per doc
    * against the exact answer so the m/k sizing is measurable:
    * (doc_id, bloom_hit, exact_hit, is_fp).
    *
    * Scale stance: the filter state is ≤ min(k·n, m) distinct set-bit
    * positions — bounded by m REGARDLESS of history size (the whole
    * point: probing 100 TB of history costs an m-bit broadcast, not a
    * history-sized join) — and both build and probe are map-side
    * explodes of k integers per row; positions are md5-derived, so
    * build and probe are bit-reproducible in the oracle. The positions
    * table stands in for the packed bitmap a production store would
    * persist (same information, relational form). */
  def bloomProbeOf(history: DataFrame, batch: DataFrame, idCol: String,
                   textCol: String, mBits: Int = 2048, kHashes: Int = 4): DataFrame = {
    require(mBits >= 2 && kHashes >= 1,
      s"need mBits >= 2 and kHashes >= 1, got $mBits/$kHashes")
    val normMd5 = (c: Column) => md5(trim(regexp_replace(lower(c), "\\s+", " ")))
    def positions(m: Column): Column = explode(array((0 until kHashes).map(i =>
      pmod(hash60(concat(lit(s"bloom$i:"), m)), lit(mBits.toLong))): _*))
    val hm = history.select(normMd5(col(textCol)).as("__m"))
    val bits = hm.select(positions(col("__m")).as("pos")).distinct()
      .withColumn("__set", lit(1))
    val exact = hm.distinct().withColumn("__ex", lit(1))
    batch.select(col(idCol).as("doc_id"), normMd5(col(textCol)).as("__m"))
      .withColumn("pos", positions(col("__m")))
      .join(broadcast(bits), Seq("pos"), "left")
      .groupBy(col("doc_id"), col("__m"))
      .agg((count(col("__set")) === kHashes).cast("int").as("bloom_hit"))
      .join(broadcast(exact), Seq("__m"), "left")
      .withColumn("exact_hit", when(col("__ex").isNotNull, lit(1)).otherwise(lit(0)))
      .withColumn("is_fp", (col("bloom_hit") === 1 && col("exact_hit") === 0).cast("int"))
      .select(col("doc_id"), col("bloom_hit"), col("exact_hit"), col("is_fp"))
      .orderBy("doc_id")
  }

  /** #a05 Bloom probe on the d13 split: history = 4/5 of the corpus,
    * batch = every 5th doc; 2048 bits × 4 hashes sized to make false
    * positives observable (~8%) next to the no-false-negative law. */
  private val a05: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    bloomProbeOf(docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
  }

  private val a05Sql =
    """WITH hist AS (SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS m
      |  FROM documents WHERE doc_id % 5 <> 0),
      |bat AS (SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS m
      |  FROM documents WHERE doc_id % 5 = 0),
      |bits AS (SELECT DISTINCT
      |    CAST(('0x' || substr(md5('bloom' || i.i || ':' || m), 1, 15)) AS BIGINT) % 2048 AS pos
      |  FROM hist, range(0, 4) i(i)),
      |probe AS (SELECT doc_id, m, i.i AS i,
      |    CAST(('0x' || substr(md5('bloom' || i.i || ':' || m), 1, 15)) AS BIGINT) % 2048 AS pos
      |  FROM bat, range(0, 4) i(i)),
      |bh AS (SELECT doc_id, m,
      |    CAST(CASE WHEN count(bits.pos) = 4 THEN 1 ELSE 0 END AS INT) AS bloom_hit
      |  FROM probe LEFT JOIN bits ON probe.pos = bits.pos
      |  GROUP BY doc_id, m),
      |hx AS (SELECT DISTINCT m FROM hist)
      |SELECT doc_id, bloom_hit,
      |  CAST(CASE WHEN hx.m IS NULL THEN 0 ELSE 1 END AS INT) AS exact_hit,
      |  CAST(CASE WHEN bloom_hit = 1 AND hx.m IS NULL THEN 1 ELSE 0 END AS INT) AS is_fp
      |FROM bh LEFT JOIN hx ON bh.m = hx.m
      |ORDER BY doc_id""".stripMargin

  /** Temperature-scaled domain mixture (public operator behind
    * [[graft.Graft.temperatureMix]]) — the multilingual α-sampling rule
    * (XLM-R/mT5: q_d ∝ n_d^α, α < 1 flattens the head and upweights
    * tail domains) with the weights DERIVED from the corpus rather than
    * hand-supplied ([[mixturePlanOf]]/ds15 is the executor for explicit
    * weights). Per domain:
    *   available_tokens, nat_share (n_d/N), temp_share (n_d^α/Σn^α),
    *   boost (temp/nat — >1 means the temperature upweights it),
    *   target_tokens (temp_share · budget), epochs (target/available —
    *   >1 flags repetition the α choice implies).
    *
    * Scale shape: ONE integer agg shuffle over the corpus; everything
    * after runs on a domain-cardinality table. The float Σn^α folds
    * CUMULATIVELY in domain order (the q33 rule — a hash-agg double sum
    * would be partition-order-dependent) and rides back as a broadcast
    * 1-row scalar; N is an exact integer sum. */
  def temperatureMixOf(docs: DataFrame, domainCol: String, tokensCol: String,
                       alpha: Double, budgetTokens: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(budgetTokens > 0, s"budgetTokens must be > 0, got $budgetTokens")
    val avail = docs.groupBy(col(domainCol).as("domain"))
      .agg(sum(col(tokensCol).cast("long")).as("available_tokens"))
      .withColumn("__p", pow(col("available_tokens").cast("double"), lit(alpha)))
    // domain-cardinality rows: the partitionless fold is k rows, never
    // the corpus (the d08/q28 single-partition side-computation pattern)
    val ordW = Window.orderBy(col("domain"))
    val cumW = ordW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = avail
      .withColumn("__rn", row_number().over(ordW))
      .withColumn("__cnt", count(lit(1)).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("__sp", sum(col("__p")).over(cumW))
      .withColumn("__n", sum(col("available_tokens")).over(cumW))
      .filter(col("__rn") === col("__cnt"))
      .select(col("__sp"), col("__n"))
    avail.crossJoin(broadcast(tot))
      .withColumn("nat_share", col("available_tokens") / col("__n").cast("double"))
      .withColumn("temp_share", col("__p") / col("__sp"))
      .withColumn("boost", col("temp_share") / col("nat_share"))
      .withColumn("target_tokens", col("temp_share") * budgetTokens)
      .withColumn("epochs",
        when(col("available_tokens") > 0, col("target_tokens") / col("available_tokens"))
          .otherwise(lit(0.0)))
      .select(col("domain"), col("available_tokens"), col("nat_share"),
        col("temp_share"), col("boost"), col("target_tokens"), col("epochs"))
  }

  /** #ds16 temperature mixture over the documents corpus: α = 0.3 (the
    * XLM-R value), 1M-token budget, whitespace token counts. */
  private val ds16: Q = (s, dir) => {
    val toks = t(s, dir, "documents")
      .select(col("source"), size(F.words(col("text"))).as("n_tokens"))
    temperatureMixOf(toks, "source", "n_tokens", alpha = 0.3, budgetTokens = 1000000L)
      .select(col("domain"), col("available_tokens"),
        F.r6(col("nat_share")).as("nat_share"), F.r6(col("temp_share")).as("temp_share"),
        F.r6(col("boost")).as("boost"), F.r6(col("target_tokens")).as("target_tokens"),
        F.r6(col("epochs")).as("epochs"))
      .orderBy("domain")
  }

  private val ds16Sql =
    """WITH a AS (
      |  SELECT source AS domain,
      |    CAST(sum(CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)) AS BIGINT) AS available_tokens
      |  FROM documents GROUP BY source),
      |p AS (SELECT domain, available_tokens,
      |    pow(CAST(available_tokens AS DOUBLE), 0.3) AS pw FROM a),
      |f AS (SELECT domain, available_tokens, pw,
      |    row_number() OVER o AS rn,
      |    count(*) OVER () AS cnt,
      |    sum(pw) OVER (ORDER BY domain ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sp,
      |    sum(available_tokens) OVER (ORDER BY domain ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nn
      |  FROM p
      |  WINDOW o AS (ORDER BY domain)),
      |tot AS (SELECT sp, CAST(nn AS BIGINT) AS nn FROM f WHERE rn = cnt),
      |j AS (SELECT p.domain, p.available_tokens,
      |    p.available_tokens / CAST(tot.nn AS DOUBLE) AS nat_share,
      |    p.pw / tot.sp AS temp_share
      |  FROM p, tot)
      |SELECT domain, available_tokens,
      |  round(nat_share, 6) AS nat_share,
      |  round(temp_share, 6) AS temp_share,
      |  round(temp_share / nat_share, 6) AS boost,
      |  round(temp_share * 1000000, 6) AS target_tokens,
      |  round(CASE WHEN available_tokens > 0
      |    THEN (temp_share * 1000000) / available_tokens ELSE 0.0 END, 6) AS epochs
      |FROM j
      |ORDER BY domain""".stripMargin

  /** Poisson-bootstrap confidence interval for a metric mean (public
    * operator behind [[graft.Graft.bootstrapCi]]) — the uncertainty
    * bar a corpus-health report needs next to the point estimate, in
    * the ONLY bootstrap shape a 100 TB table can run: instead of B
    * materialized resamples, each row draws a Poisson(1) weight per
    * replica IN-FLIGHT (the large-n limit of multinomial resampling —
    * the "Poisson bootstrap"), so the corpus is scanned once, the
    * explode collapses at the map-side combine, and only B partial
    * sums shuffle. Weights come from the md5 uniform (the ds12
    * determinism rule: the draw is a pure function of salt, replica
    * and id — rerun/cluster-size invariant, never rand()) through the
    * Poisson(1) inverse CDF, whose five thresholds are Scala-computed
    * literals in BOTH engines (q56 rule; weights cap at 5 —
    * P(X>5) ≈ 0.06%). Sums run in DECIMAL (exact, order-free hash
    * aggregation — no fold discipline needed; float metrics are
    * rounded to 6 dp at the cast, exact for integer metrics). The CI
    * is the exact-interpolation percentile pair over the B replica
    * means (the q20 machinery on a B-row table). Returns ONE row:
    * (n_rows, n_replicas, mean, ci_lo, ci_hi). */
  def bootstrapCiOf(df: DataFrame, idCol: String, valueCol: String,
                    b: Int = 50, level: Double = 0.95,
                    salt: String = "graft"): DataFrame = {
    require(b >= 4, s"b must be >= 4, got $b")
    require(level > 0 && level < 1, s"level must be in (0,1), got $level")
    def fact(k: Int): Double = (1 to k).product.toDouble
    val cum: Seq[Double] =
      (0 to 4).map(k => (0 to k).map(j => math.exp(-1.0) / fact(j)).sum)
    val qlo = (1.0 - level) / 2.0
    val qhi = 1.0 - qlo
    val base = df.select(col(idCol).cast("string").as("__id"),
      col(valueCol).cast("decimal(18,6)").as("__x"))
    val reps = base
      .select(col("__id"), col("__x"), explode(sequence(lit(0), lit(b - 1))).as("__b"))
      .withColumn("__u", (hash60(concat(lit(salt + ":"), col("__b").cast("string"),
        lit(":"), col("__id"))) + 1).cast("double") / lit(1152921504606846976.0))
      .withColumn("__w",
        when(col("__u") < cum(0), 0L).when(col("__u") < cum(1), 1L)
          .when(col("__u") < cum(2), 2L).when(col("__u") < cum(3), 3L)
          .when(col("__u") < cum(4), 4L).otherwise(5L).cast("decimal(2,0)"))
    val means = reps.groupBy("__b")
      .agg(sum(col("__w") * col("__x")).as("__swx"), sum(col("__w")).as("__sw"))
      .filter(col("__sw") > 0)
      .select(col("__b"),
        (col("__swx").cast("double") / col("__sw").cast("double")).as("__m"))
    val overall = base.agg(count(lit(1)).as("n_rows"), sum(col("__x")).as("__sx"))
    means
      .agg(count(lit(1)).as("n_replicas"),
        expr(s"percentile(__m, array(${qlo}D, ${qhi}D))").as("__ci"))
      .crossJoin(broadcast(overall)) // 1-row build side: documented BNLJ
      .select(col("n_rows"), col("n_replicas"),
        (col("__sx").cast("double") / col("n_rows").cast("double")).as("mean"),
        col("__ci").getItem(0).as("ci_lo"), col("__ci").getItem(1).as("ci_hi"))
  }

  /** #ds21 95% bootstrap CI for mean document length (B=50). */
  private val ds21: Q = (s, dir) =>
    bootstrapCiOf(t(s, dir, "documents"), "doc_id", "n_chars", b = 50, level = 0.95)
      .select(col("n_rows"), col("n_replicas"), r6(col("mean")).as("mean"),
        r6(col("ci_lo")).as("ci_lo"), r6(col("ci_hi")).as("ci_hi"))

  private val ds21Sql = {
    def fact(k: Int): Double = (1 to k).product.toDouble
    val cum = (0 to 4).map(k => (0 to k).map(j => math.exp(-1.0) / fact(j)).sum)
    s"""WITH d AS (
       |  SELECT CAST(doc_id AS VARCHAR) AS id, CAST(n_chars AS DECIMAL(18,6)) AS x
       |  FROM documents),
       |r AS (SELECT id, x, b.b AS b FROM d, range(0, 50) b(b)),
       |u AS (
       |  SELECT b, x,
       |    (CAST(('0x' || substr(md5('graft:' || CAST(b AS VARCHAR) || ':' || id), 1, 15)) AS BIGINT) + 1)
       |      / 1152921504606846976.0 AS u
       |  FROM r),
       |w AS (
       |  SELECT b, x,
       |    CAST(CASE WHEN u < ${cum(0)} THEN 0 WHEN u < ${cum(1)} THEN 1
       |      WHEN u < ${cum(2)} THEN 2 WHEN u < ${cum(3)} THEN 3
       |      WHEN u < ${cum(4)} THEN 4 ELSE 5 END AS DECIMAL(2,0)) AS wt
       |  FROM u),
       |m AS (
       |  SELECT b, CAST(sum(wt * x) AS DOUBLE) / CAST(sum(wt) AS DOUBLE) AS mm
       |  FROM w GROUP BY b HAVING sum(wt) > 0),
       |ci AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_replicas,
       |    quantile_cont(mm, [0.025, 0.975]) AS c
       |  FROM m),
       |o AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(x) AS DOUBLE) AS sx FROM d)
       |SELECT o.n_rows, ci.n_replicas,
       |  round(sx / CAST(n_rows AS DOUBLE), 6) AS mean,
       |  round(c[1], 6) AS ci_lo, round(c[2], 6) AS ci_hi
       |FROM ci, o""".stripMargin
  }

  /** Deterministic K-FOLD assignment (public operator behind
    * [[graft.Graft.kfold]]) — the cross-validation sibling of
    * [[hashSplitOf]]: fold = md5(salt:id) mod k, a pure function of
    * the id, so folds are rerun-stable, cluster-size-invariant, and
    * disjoint BY CONSTRUCTION (no coordination, no sampling state).
    * Changing `salt` re-deals the folds; ids never straddle two.
    * Appends `fold` ∈ [0, k). Map-only — the audit rollup below is
    * the only shuffle anywhere near it. */
  def kfoldOf(df: DataFrame, idCol: String, salt: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    df.withColumn("fold",
      pmod(hash60(concat(lit(salt + ":"), col(idCol).cast("string"))), lit(k.toLong)))
  }

  /** #48d the 5-fold deal audited per fold: doc count, char volume,
    * share of the corpus — the balance check a CV harness runs before
    * trusting its folds. */
  private val ds23: Q = (s, dir) => {
    val wAll = Window.partitionBy()
    kfoldOf(t(s, dir, "documents"), "doc_id", "graft", k = 5)
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .withColumn("share",
        r6(col("n_docs").cast("double") / sum(col("n_docs")).over(wAll).cast("double")))
      .select(col("fold"), col("n_docs"), col("n_chars"), col("share"))
      .orderBy("fold")
  }

  private val ds23Sql =
    """WITH f AS (
      |  SELECT doc_id, n_chars,
      |    CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 AS fold
      |  FROM documents),
      |a AS (
      |  SELECT fold, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars
      |  FROM f GROUP BY fold)
      |SELECT fold, n_docs, n_chars,
      |  round(CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE), 6) AS share
      |FROM a
      |ORDER BY fold""".stripMargin

  /** #19f the 100 TB profiling path made DURABLE: a09 persists
    * PER-LANDING mergeable sketch state (relational HLL registers for
    * distinct users + fixed-width value-histogram buckets, the
    * [[graft.sinks.SketchStore]] contract), replays the landing loop
    * (3 deterministic day-sliced landings → `land` each → read back →
    * merge), and reports per event_type the merged estimates NEXT TO
    * the exact answers. The oracle computes the whole-corpus sketch
    * directly — equal to the landing-merged state BY THE MERGE LAW
    * (merge(state(A), state(B)) == state(A∪B), spec-pinned), so a
    * broken merge/land/read step hash-fails here. At 100 TB the report
    * reads state-sized partitions, never raw history. */
  private val a09: Q = (s, dir) => {
    import graft.sinks.SketchStore
    val keys = Seq("event_type")
    // the projected input feeds seven jobs (3×2 landings + the exact
    // agg) — checkpoint the narrow rows once so the source scan runs
    // once, not per landing; the k-row output is materialized eagerly
    // below and ev freed (the t25 finally-unpersist rule), so
    // multi-query runs accumulate no blocks (round-17; bit-identical)
    val ev = graft.Checkpoints.stabilize(t(s, dir, "events")
      .select(col("event_type"), col("user_id"), col("value"),
        (dayofmonth(col("ts")) % 3).as("__landing")))
    val store = java.nio.file.Files.createTempDirectory("graft_sketch_store_").toString
    (0 until 3).foreach { l =>
      val batch = ev.filter(col("__landing") === l)
      SketchStore.land(s, s"$store/hll",
        SketchStore.hllState(batch, keys, "user_id"), l)
      SketchStore.land(s, s"$store/vhist",
        SketchStore.histState(batch, keys, "value", 10.0), l)
    }
    val est = SketchStore.hllEstimate(
      SketchStore.mergedHll(s, s"$store/hll", keys), keys)
    val qs = SketchStore.histQuantiles(
      SketchStore.mergedHist(s, s"$store/vhist", keys), keys, 10.0,
      Seq(0.5 -> "p50_est", 0.95 -> "p95_est"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    try graft.Checkpoints.stabilize(exact.join(est, "event_type").join(qs, "event_type")
      .select(col("event_type"), col("n"), col("exact_users"),
        r4(col("est")).as("est_users"), r4(col("p50_est")).as("p50_est"),
        r4(col("p95_est")).as("p95_est"))
      .orderBy("event_type"))
    finally graft.Checkpoints.free(ev)
  }

  private val a09Sql = {
    val m = 4096L
    val alphaM2 = 0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
    s"""WITH h AS (SELECT event_type,
       |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
       |  FROM events),
       |regs AS (SELECT event_type, h % $m AS reg,
       |    max(CASE WHEN h // $m > 0 THEN 49 - length(bin(h // $m)) ELSE 49 END) AS rho
       |  FROM h GROUP BY 1, 2),
       |rh AS (SELECT event_type, rho, count(*) AS c FROM regs GROUP BY 1, 2),
       |fold AS (SELECT event_type,
       |    sum(CAST(c AS DOUBLE) * pow(2.0, -CAST(rho AS DOUBLE))) OVER o AS s,
       |    sum(c) OVER (PARTITION BY event_type) AS present,
       |    lead(rho, 1) OVER po IS NULL AS is_last
       |  FROM rh
       |  WINDOW po AS (PARTITION BY event_type ORDER BY rho),
       |    o AS (PARTITION BY event_type ORDER BY rho
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |est AS (SELECT event_type,
       |    CASE WHEN $alphaM2 / (CAST($m - present AS DOUBLE) + s) <= ${2.5 * 4096} AND present < $m
       |      THEN 4096.0 * ln(4096.0 / CAST($m - present AS DOUBLE))
       |      ELSE $alphaM2 / (CAST($m - present AS DOUBLE) + s) END AS est
       |  FROM fold WHERE is_last),
       |vb AS (SELECT event_type, CAST(floor(value / 10.0) AS BIGINT) AS bucket FROM events),
       |vh AS (SELECT event_type, bucket, count(*) AS cnt FROM vb GROUP BY 1, 2),
       |vf AS (SELECT event_type, bucket,
       |    sum(cnt) OVER (PARTITION BY event_type ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |    sum(cnt) OVER (PARTITION BY event_type) AS n
       |  FROM vh),
       |qs AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
       |    (CAST(min(CASE WHEN CAST(cum AS DOUBLE) >= 0.5 * CAST(n AS DOUBLE) THEN bucket END) AS DOUBLE) + 0.5) * 10.0 AS p50,
       |    (CAST(min(CASE WHEN CAST(cum AS DOUBLE) >= 0.95 * CAST(n AS DOUBLE) THEN bucket END) AS DOUBLE) + 0.5) * 10.0 AS p95
       |  FROM vf GROUP BY event_type),
       |ex AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users FROM events GROUP BY 1)
       |SELECT ex.event_type, qs.n, ex.exact_users,
       |  round(est.est, 4) AS est_users,
       |  round(qs.p50, 4) AS p50_est, round(qs.p95, 4) AS p95_est
       |FROM ex JOIN est ON ex.event_type = est.event_type
       |  JOIN qs ON ex.event_type = qs.event_type
       |ORDER BY ex.event_type""".stripMargin
  }

  /** HLL SET-OPERATION algebra over sketch STATE (public operator
    * behind [[graft.Graft.sketchOverlap]]) — what mergeable state is
    * FOR beyond totals: with only the two versions' register tables
    * (the a09 SketchStore shape — never the raw rows), estimate each
    * side's cardinality, the UNION via the exact merge law
    * (register-wise max — merge(state(A), state(B)) == state(A∪B),
    * spec-pinned in a09), and the INTERSECTION by inclusion–exclusion
    * est_a + est_b − est_union, plus the Jaccard estimate — the
    * version-overlap / audience-overlap question a 100 TB lake
    * answers from kilobytes of state instead of a distinct-join over
    * raw history. Deterministic: the estimate chain is [[graft.sinks
    * .SketchStore.hllEstimate]]'s rho-ordered fold; the algebra is
    * three IEEE ops on identical inputs. Inclusion–exclusion noise is
    * the known caveat (the error is relative to the UNION, so small
    * true overlaps drown — report next to exact in the gate). */
  def sketchOverlapOf(a: DataFrame, b: DataFrame, keys: Seq[String],
                      valueCol: String, p: Int = 12): DataFrame = {
    import graft.sinks.SketchStore
    val kc = keys.map(col)
    // ONE estimate chain for all three states (round-18, guide §2.4):
    // the a/b/union estimates are the SAME rho-ordered fold over three
    // disjoint register tables, so instead of three separate
    // agg+window chains joined back on keys (round-17's shape — the
    // AUDIT maximum at 15 shuffles), the two sides' states are tagged,
    // union-merged (register-wise max within each key group — __side
    // is part of the group, so a/b registers never mix), stacked with
    // the merged state under a third tag, and folded by ONE
    // hllEstimate keyed (keys..., __side). Per-group rows and fold
    // order are identical to the separate chains, so every est is
    // bit-identical; the inner joins' key-intersection semantics are
    // reproduced by the non-null filter (a key in a∩b always has a
    // union estimate). The tagged state is checkpointed once
    // (kilobyte-sized, ≤ 2^p rows per key side).
    val states = graft.Checkpoints.stabilize(
      SketchStore.hllState(a, keys, valueCol, p).withColumn("__side", lit("a"))
        .unionByName(
          SketchStore.hllState(b, keys, valueCol, p).withColumn("__side", lit("b"))))
    val merged = states
      .groupBy((kc :+ col("reg")): _*)
      .agg(max(col("rho")).as("rho"))
      .withColumn("__side", lit("u"))
    val ests = SketchStore.hllEstimate(
      states.unionByName(merged), keys :+ "__side", p)
    ests.groupBy(kc: _*)
      .agg(max(when(col("__side") === "a", col("est"))).as("est_a"),
        max(when(col("__side") === "b", col("est"))).as("est_b"),
        max(when(col("__side") === "u", col("est"))).as("est_union"))
      .filter(col("est_a").isNotNull && col("est_b").isNotNull)
      .withColumn("est_overlap", col("est_a") + col("est_b") - col("est_union"))
      .withColumn("jaccard_est",
        when(col("est_union") > 0, col("est_overlap") / col("est_union")))
  }

  /** #19y the a09 state made to answer SET questions: user-set overlap
    * between the even-day and odd-day version of each event series,
    * estimated purely from HLL register state, with the exact answers
    * alongside so the realized inclusion–exclusion error is measured,
    * not assumed. */
  private val a10: Q = (s, dir) => {
    val ev = t(s, dir, "events").select(col("event_type"), col("user_id"),
      (dayofmonth(col("ts")) % 2).as("__side"))
    val a = ev.filter(col("__side") === 0)
    val b = ev.filter(col("__side") === 1)
    val da = a.select(col("event_type"), col("user_id")).distinct()
    val db = b.select(col("event_type"), col("user_id")).distinct()
    val exA = da.groupBy("event_type").agg(count(lit(1)).as("exact_a"))
    val exB = db.groupBy("event_type").agg(count(lit(1)).as("exact_b"))
    val exO = da.join(db, Seq("event_type", "user_id"))
      .groupBy("event_type").agg(count(lit(1)).as("exact_overlap"))
    exA.join(exB, "event_type").join(exO, "event_type")
      .join(sketchOverlapOf(a, b, Seq("event_type"), "user_id"), "event_type")
      .select(col("event_type"), col("exact_a"), col("exact_b"),
        col("exact_overlap"),
        r4(col("est_a")).as("est_a"), r4(col("est_b")).as("est_b"),
        r4(col("est_union")).as("est_union"),
        r4(col("est_overlap")).as("est_overlap"),
        when(col("exact_overlap") > 0,
          r6(abs(col("est_overlap") - col("exact_overlap"))
            / col("exact_overlap").cast("double"))).as("rel_err"))
      .orderBy("event_type")
  }

  private val a10Sql = {
    val m = 4096L
    val alphaM2 = 0.7213 / (1.0 + 1.079 / 4096.0) * 4096.0 * 4096.0
    // the a09 relational-HLL estimate chain, parameterized by source CTE
    def chain(src: String, sfx: String, alias: String) =
      s"""h$sfx AS (SELECT event_type,
         |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
         |  FROM $src),
         |regs$sfx AS (SELECT event_type, h % $m AS reg,
         |    max(CASE WHEN h // $m > 0 THEN 49 - length(bin(h // $m)) ELSE 49 END) AS rho
         |  FROM h$sfx GROUP BY 1, 2),
         |rh$sfx AS (SELECT event_type, rho, count(*) AS c FROM regs$sfx GROUP BY 1, 2),
         |fold$sfx AS (SELECT event_type,
         |    sum(CAST(c AS DOUBLE) * pow(2.0, -CAST(rho AS DOUBLE))) OVER o AS s,
         |    sum(c) OVER (PARTITION BY event_type) AS present,
         |    lead(rho, 1) OVER po IS NULL AS is_last
         |  FROM rh$sfx
         |  WINDOW po AS (PARTITION BY event_type ORDER BY rho),
         |    o AS (PARTITION BY event_type ORDER BY rho
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |est$sfx AS (SELECT event_type,
         |    CASE WHEN $alphaM2 / (CAST($m - present AS DOUBLE) + s) <= ${2.5 * 4096} AND present < $m
         |      THEN 4096.0 * ln(4096.0 / CAST($m - present AS DOUBLE))
         |      ELSE $alphaM2 / (CAST($m - present AS DOUBLE) + s) END AS $alias
         |  FROM fold$sfx WHERE is_last)""".stripMargin
    s"""WITH ea AS (SELECT event_type, user_id FROM events WHERE date_part('day', ts) % 2 = 0),
       |eb AS (SELECT event_type, user_id FROM events WHERE date_part('day', ts) % 2 = 1),
       |${chain("ea", "a", "est_a")},
       |${chain("eb", "b", "est_b")},
       |${chain("events", "u", "est_union")},
       |da AS (SELECT DISTINCT event_type, user_id FROM ea),
       |db AS (SELECT DISTINCT event_type, user_id FROM eb),
       |exa AS (SELECT event_type, count(*) AS exact_a FROM da GROUP BY 1),
       |exb AS (SELECT event_type, count(*) AS exact_b FROM db GROUP BY 1),
       |exo AS (SELECT da.event_type, count(*) AS exact_overlap
       |  FROM da JOIN db ON da.event_type = db.event_type AND da.user_id = db.user_id
       |  GROUP BY 1)
       |SELECT exa.event_type, exact_a, exact_b, exact_overlap,
       |  round(est_a, 4) AS est_a, round(est_b, 4) AS est_b,
       |  round(est_union, 4) AS est_union,
       |  round(est_a + est_b - est_union, 4) AS est_overlap,
       |  CASE WHEN exact_overlap > 0
       |    THEN round(abs((est_a + est_b - est_union) - exact_overlap)
       |      / CAST(exact_overlap AS DOUBLE), 6) END AS rel_err
       |FROM exa
       |  JOIN exb ON exa.event_type = exb.event_type
       |  JOIN exo ON exa.event_type = exo.event_type
       |  JOIN esta ON exa.event_type = esta.event_type
       |  JOIN estb ON exa.event_type = estb.event_type
       |  JOIN estu ON exa.event_type = estu.event_type
       |ORDER BY exa.event_type""".stripMargin
  }

  /** #19z the a09 quantile side made RELATIVE-error: the fixed-width
    * histogram is useless on a heavy-tailed domain (width 10 puts
    * every `value` below 10 — half the events table — into one
    * bucket), so this lands [[graft.sinks.SketchStore.logHistState]]
    * per landing instead: decimal-scientific buckets whose width is
    * PROPORTIONAL to the value, same count-sum merge law, same
    * landing-partitioned store, estimates from MERGED state only.
    * Reports per event_type the p50/p95 log-hist estimates NEXT TO
    * the exact interpolated percentiles plus the realized relative
    * errors — the ≤5% bound as gate-visible numbers (Round15Spec pins
    * the bound on a planted 6-decade distribution; the oracle replays
    * the whole integer bucket chain directly, equal to the
    * landing-merged state by the merge law). */
  private val a11: Q = (s, dir) => {
    import graft.sinks.SketchStore
    val keys = Seq("event_type")
    val ev = t(s, dir, "events")
      .select(col("event_type"), col("value"),
        (dayofmonth(col("ts")) % 3).as("__landing"))
    val store = java.nio.file.Files.createTempDirectory("graft_loghist_").toString
    (0 until 3).foreach { l =>
      SketchStore.land(s, s"$store/lqh",
        SketchStore.logHistState(ev.filter(col("__landing") === l), keys, "value"), l)
    }
    val est = SketchStore.logHistQuantiles(
      SketchStore.mergedLogHist(s, s"$store/lqh", keys), keys,
      Seq(0.5 -> "p50_est", 0.95 -> "p95_est"))
    val exact = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, array(0.5D, 0.95D))").as("__ps"))
      .select(col("event_type"),
        col("__ps").getItem(0).as("p50_exact"), col("__ps").getItem(1).as("p95_exact"))
    exact.join(est, "event_type")
      .select(col("event_type"), col("n"),
        r6(col("p50_exact")).as("p50_exact"), r6(col("p50_est")).as("p50_est"),
        r6(abs(col("p50_est") / col("p50_exact") - 1)).as("p50_relerr"),
        r6(col("p95_exact")).as("p95_exact"), r6(col("p95_est")).as("p95_est"),
        r6(abs(col("p95_est") / col("p95_exact") - 1)).as("p95_relerr"))
      .orderBy("event_type")
  }

  private val a11Sql =
    """WITH u AS (
      |  SELECT event_type, value,
      |    CAST(floor(abs(value) / 1e-9) AS BIGINT) AS u,
      |    CAST(CAST(floor(abs(value) / 1e-9) AS BIGINT) AS VARCHAR) AS us
      |  FROM events),
      |b AS (
      |  SELECT event_type,
      |    CASE WHEN u = 0 THEN 0
      |      ELSE CAST(sign(value) AS BIGINT) *
      |        (length(us) * 100 + CAST(substr(us, 1, 2) AS BIGINT)) END AS qbucket
      |  FROM u),
      |h AS (SELECT event_type, qbucket, count(*) AS cnt FROM b GROUP BY 1, 2),
      |f AS (SELECT event_type, qbucket,
      |    sum(cnt) OVER (PARTITION BY event_type ORDER BY qbucket
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(cnt) OVER (PARTITION BY event_type) AS n
      |  FROM h),
      |win AS (SELECT event_type, CAST(max(n) AS BIGINT) AS n,
      |    min(CASE WHEN CAST(cum AS DOUBLE) >= 0.5 * CAST(n AS DOUBLE) THEN qbucket END) AS b50,
      |    min(CASE WHEN CAST(cum AS DOUBLE) >= 0.95 * CAST(n AS DOUBLE) THEN qbucket END) AS b95
      |  FROM f GROUP BY event_type),
      |dec AS (SELECT event_type, n,
      |    CASE WHEN b50 = 0 THEN 0.0 ELSE CAST(sign(b50) AS DOUBLE) *
      |      (CAST(abs(b50) % 100 AS DOUBLE) + 0.5) *
      |      pow(10.0, greatest(CAST(abs(b50) // 100 AS DOUBLE) - 2.0, 0.0)) * 1e-9 END AS p50_est,
      |    CASE WHEN b95 = 0 THEN 0.0 ELSE CAST(sign(b95) AS DOUBLE) *
      |      (CAST(abs(b95) % 100 AS DOUBLE) + 0.5) *
      |      pow(10.0, greatest(CAST(abs(b95) // 100 AS DOUBLE) - 2.0, 0.0)) * 1e-9 END AS p95_est
      |  FROM win),
      |ex AS (SELECT event_type,
      |    quantile_cont(value, 0.5) AS p50_exact,
      |    quantile_cont(value, 0.95) AS p95_exact
      |  FROM events GROUP BY event_type)
      |SELECT ex.event_type, dec.n,
      |  round(ex.p50_exact, 6) AS p50_exact, round(dec.p50_est, 6) AS p50_est,
      |  round(abs(dec.p50_est / ex.p50_exact - 1), 6) AS p50_relerr,
      |  round(ex.p95_exact, 6) AS p95_exact, round(dec.p95_est, 6) AS p95_est,
      |  round(abs(dec.p95_est / ex.p95_exact - 1), 6) AS p95_relerr
      |FROM ex JOIN dec ON ex.event_type = dec.event_type
      |ORDER BY ex.event_type""".stripMargin

  val queries: Map[String, Q] = Map(
    "a11_log_quantile_store" -> a11,
    "a10_sketch_overlap" -> a10,
    "a09_sketch_store" -> a09,
    "p06_export_pipeline" -> p06,
    "ds23_kfold" -> ds23,
    "ds21_bootstrap_ci" -> ds21,
    "ds17_length_groups" -> ds17,
    "a05_bloom_filter" -> a05,
    "ds16_temperature_mix" -> ds16,
    "ds15_token_budget" -> ds15,
    "ds25_epoch_mix" -> ds25,
    "ds14_snapshot_diff" -> ds14,
    "ds12_weighted_sample" -> ds12,
    "ds13_quality_prune" -> ds13,
    "a04_heavy_hitters" -> a04,
    "ds09_contamination" -> ds09,
    "ds06_mixture_sample" -> ds06,
    "ds07_decontaminate" -> ds07,
    "ds08_shuffle_shards" -> ds08,
    "ds01_hash_split" -> ds01,
    "ds02_det_sample" -> ds02,
    "ds03_pack_bins" -> ds03,
    "ds24_concat_chunk" -> ds24,
    "ds04_top_terms" -> ds04,
    "ds05_bigram_stats" -> ds05)

  val oracle: Map[String, String] = Map(
    "a11_log_quantile_store" -> a11Sql,
    "a10_sketch_overlap" -> a10Sql,
    "a09_sketch_store" -> a09Sql,
    "p06_export_pipeline" -> p06Sql,
    "ds21_bootstrap_ci" -> ds21Sql,
    "ds23_kfold" -> ds23Sql,
    "ds17_length_groups" -> ds17Sql,
    "a05_bloom_filter" -> a05Sql,
    "ds16_temperature_mix" -> ds16Sql,
    "ds15_token_budget" -> ds15Sql,
    "ds25_epoch_mix" -> ds25Sql,
    "ds14_snapshot_diff" -> ds14Sql,
    "ds12_weighted_sample" -> ds12Sql,
    "ds13_quality_prune" -> ds13Sql,
    "a04_heavy_hitters" -> a04Sql,
    "ds09_contamination" -> ds09Sql,
    "ds06_mixture_sample" -> ds06Sql,
    "ds07_decontaminate" -> ds07Sql,
    "ds08_shuffle_shards" -> ds08Sql,
    "ds01_hash_split" -> ds01Sql,
    "ds02_det_sample" -> ds02Sql,
    "ds03_pack_bins" -> ds03Sql,
    "ds24_concat_chunk" -> ds24Sql,
    "ds04_top_terms" -> ds04Sql,
    "ds05_bigram_stats" -> ds05Sql)
}
