package graft.ops

import graft.{F, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis (SURVEY.md §2 #27-30) over the `documents` table —
  * per-document feature extraction for a training-data pipeline:
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * All four are narrow map-only plans: one parquet scan, per-row
  * codegen'd expressions (higher-order functions over the token array),
  * no shuffle except the final presentation ORDER BY. At 100 TB these
  * run at scan speed.
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame
  import Tables.t
  import F._

  private val stop = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von"),
    "es" -> Seq("el", "la", "de", "y", "que", "en"),
    "fr" -> Seq("le", "les", "et", "de", "un", "une"))

  private def inList(xs: Seq[String]): String = xs.map(w => s"'$w'").mkString(", ")

  /** DuckDB CTE chunk computing the t02 composite quality score as
    * `__q(doc_id, score)` over `documents` — shared with oracles that
    * compose on the quality gate (ds13). Must stay formula-identical to
    * [[qualityFeaturesOf]]'s `score` column. */
  private[ops] def qualityScoreSqlCte: String =
    s"""__qw AS (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
       |__qf AS (SELECT doc_id,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / CAST(length(text) AS DOUBLE) AS punct_ratio,
       |    len(list_filter(ws, w -> w IN (${inList(stop("en"))}))) / CAST(len(ws) AS DOUBLE) AS stop_ratio,
       |    CAST(list_reduce(list_transform(ws, w -> CAST(length(w) AS BIGINT)), (a, b) -> a + b) AS BIGINT)
       |      / CAST(len(ws) AS DOUBLE) AS mean_word_len
       |  FROM __qw WHERE len(ws) > 0),
       |__q AS (SELECT doc_id,
       |    0.3 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0) + 0.3 * (1.0 - punct_ratio)
       |      + 0.2 * stop_ratio + 0.2 * least(mean_word_len / 8.0, 1.0) AS score
       |  FROM __qf)""".stripMargin

  /** #27 language ID: stopword-hit ratios per candidate language + a
    * non-ASCII (CJK) ratio; prediction = threshold on CJK ratio, else
    * argmax score with fixed precedence en>de>es>fr. Pure per-row math;
    * each ratio's numerator is the native hash-set
    * [[graft.functions.StopCount]] (the `filter(ws, w IN ...)` form
    * scanned the IN-list interpreted, per token per language). */
  /** Language-ID features over ANY (id, text) table (public operator
    * behind [[graft.Graft.langId]]): per-language stopword-hit ratios,
    * non-ASCII ratio, and the predicted language. `keep` carries extra
    * input columns through (e.g. a gold label). Full-fidelity values. */
  def langIdOf(docs: DataFrame, idCol: String, textCol: String,
               keep: Seq[String] = Nil): DataFrame = {
    val langScore = stop.map { case (l, ws) =>
      l -> expr(s"graft_stopcount(__ws, array(${inList(ws)})) / CAST(size(__ws) AS DOUBLE)")
    }
    docs
      .select(Seq(col(idCol).as("doc_id"), col(textCol).as("__text")) ++ keep.map(col): _*)
      .withColumn("__ws", words(col("__text")))
      .filter(size(col("__ws")) > 0)
      .withColumn("s_en", langScore("en")).withColumn("s_de", langScore("de"))
      .withColumn("s_es", langScore("es")).withColumn("s_fr", langScore("fr"))
      .withColumn("nonascii_ratio",
        length(regexp_replace(col("__text"), "[ -~]", "")) / length(col("__text")).cast("double"))
      .withColumn("pred_lang",
        when(col("nonascii_ratio") > 0.3, "zh")
          .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") && col("s_en") >= col("s_fr"), "en")
          .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr"))
      .drop("__text", "__ws")
  }

  private val t01: Q = (s, dir) =>
    langIdOf(t(s, dir, "documents"), "doc_id", "text", keep = Seq("lang"))
      .select(col("doc_id"), col("lang"), col("pred_lang"),
        r6(col("s_en")).as("s_en"), r6(col("s_de")).as("s_de"),
        r6(col("s_es")).as("s_es"), r6(col("s_fr")).as("s_fr"),
        r6(col("nonascii_ratio")).as("nonascii_ratio"))
      .orderBy("doc_id")

  private val t01Sql = {
    def sc(l: String) =
      s"len(list_filter(ws, w -> w IN (${inList(stop(l))}))) / CAST(len(ws) AS DOUBLE)"
    s"""WITH w AS (SELECT doc_id, lang, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |  FROM documents),
       |f AS (SELECT doc_id, lang,
       |    ${sc("en")} AS s_en, ${sc("de")} AS s_de, ${sc("es")} AS s_es, ${sc("fr")} AS s_fr,
       |    length(regexp_replace(text, '[ -~]', '', 'g')) / CAST(length(text) AS DOUBLE) AS nonascii_ratio
       |  FROM w WHERE len(ws) > 0)
       |SELECT doc_id, lang,
       |  CASE WHEN nonascii_ratio > 0.3 THEN 'zh'
       |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS pred_lang,
       |  round(s_en, 6) AS s_en, round(s_de, 6) AS s_de,
       |  round(s_es, 6) AS s_es, round(s_fr, 6) AS s_fr,
       |  round(nonascii_ratio, 6) AS nonascii_ratio
       |FROM f ORDER BY doc_id""".stripMargin
  }

  /** #28 quality score: length, punctuation ratio, stopword ratio, mean
    * word length, and a fixed-weight composite — the filter features a
    * pretraining-data pipeline gates on. */
  /** Quality-gate features over ANY (id, text) table (public operator
    * behind [[graft.Graft.textQuality]]): length, punctuation ratio,
    * stopword ratio, mean word length, fixed-weight composite score. */
  def qualityFeaturesOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .withColumn("__ws", words(col("__text")))
      .filter(size(col("__ws")) > 0)
      .withColumn("n_chars_obs", length(col("__text")).cast("long"))
      .withColumn("n_words", size(col("__ws")).cast("long"))
      .withColumn("punct_ratio",
        length(regexp_replace(col("__text"), "[a-zA-Z0-9\\s]", "")) / length(col("__text")).cast("double"))
      .withColumn("stop_ratio",
        expr(s"graft_stopcount(__ws, array(${inList(stop("en"))})) / CAST(size(__ws) AS DOUBLE)"))
      .withColumn("mean_word_len",
        expr("graft_total_strlen(__ws)") / col("n_words").cast("double"))
      .withColumn("score",
        lit(0.3) * least(col("n_words") / 100.0, lit(1.0)) +
          lit(0.3) * (lit(1.0) - col("punct_ratio")) +
          lit(0.2) * col("stop_ratio") +
          lit(0.2) * least(col("mean_word_len") / 8.0, lit(1.0)))
      .drop("__text", "__ws")

  private val t02: Q = (s, dir) =>
    qualityFeaturesOf(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_chars_obs"), col("n_words"),
        r6(col("punct_ratio")).as("punct_ratio"), r6(col("stop_ratio")).as("stop_ratio"),
        r6(col("mean_word_len")).as("mean_word_len"), r6(col("score")).as("score"))
      .orderBy("doc_id")

  private val t02Sql =
    s"""WITH w AS (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
       |f AS (SELECT doc_id,
       |    CAST(length(text) AS BIGINT) AS n_chars_obs,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / CAST(length(text) AS DOUBLE) AS punct_ratio,
       |    len(list_filter(ws, w -> w IN (${inList(stop("en"))}))) / CAST(len(ws) AS DOUBLE) AS stop_ratio,
       |    CAST(list_reduce(list_transform(ws, w -> CAST(length(w) AS BIGINT)), (a, b) -> a + b) AS BIGINT)
       |      / CAST(len(ws) AS DOUBLE) AS mean_word_len
       |  FROM w WHERE len(ws) > 0)
       |SELECT doc_id, n_chars_obs, n_words,
       |  round(punct_ratio, 6) AS punct_ratio, round(stop_ratio, 6) AS stop_ratio,
       |  round(mean_word_len, 6) AS mean_word_len,
       |  round(0.3 * least(CAST(n_words AS DOUBLE) / 100.0, 1.0) + 0.3 * (1.0 - punct_ratio)
       |      + 0.2 * stop_ratio + 0.2 * least(mean_word_len / 8.0, 1.0), 6) AS score
       |FROM f ORDER BY doc_id""".stripMargin

  /** #29 token counting: whitespace tokens plus a BPE-ish subword
    * estimate (Σ ceil(len/4) per word — the chars/4 heuristic applied
    * word-wise so punctuation never merges tokens). */
  /** Token counts over ANY (id, text) table (public operator behind
    * [[graft.Graft.tokenCounts]]): whitespace tokens, chars/4 BPE-ish
    * subword estimate (word-wise), observed characters. */
  def tokenCountsOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .withColumn("n_ws_tokens",
        size(expr("regexp_extract_all(__text, '\\\\S+', 0)")).cast("long"))
      .withColumn("__ws", words(col("__text")))
      .filter(size(col("__ws")) > 0)
      .withColumn("n_subword_est", expr("graft_subword_est(__ws)"))
      .withColumn("n_chars_obs", length(col("__text")).cast("long"))
      .drop("__text", "__ws")

  private val t03: Q = (s, dir) =>
    tokenCountsOf(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_ws_tokens"), col("n_subword_est"), col("n_chars_obs"))
      .orderBy("doc_id")

  private val t03Sql =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_ws_tokens,
      |  CAST(list_reduce(list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
      |    w -> CAST(ceil(length(w) / 4.0) AS BIGINT)), (a, b) -> a + b) AS BIGINT) AS n_subword_est,
      |  CAST(length(text) AS BIGINT) AS n_chars_obs
      |FROM documents
      |WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0
      |ORDER BY doc_id""".stripMargin

  /** #30 document fingerprinting: char-8-gram md5 hashes + winnowing
    * (min per 4-hash window), summarized per doc as count/min/max/xor of
    * the distinct fingerprint set — the MOSS scheme, executed by the
    * native [[graft.functions.WinnowFingerprint]] single-pass expression
    * (the HOF chain re-ran an interpreted md5 lambda per gram: ~10×
    * slower; bit-identical values either way). */
  private val t04: Q = (s, dir) =>
    graft.Graft.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
        kGram = 8, window = 4)
      .orderBy("doc_id")

  private val t04Sql =
    """WITH g AS (SELECT doc_id,
      |    list_transform(generate_series(1, length(text) - 7),
      |      i -> CAST(('0x' || substr(md5(substring(text, i, 8)), 1, 15)) AS BIGINT)) AS grams
      |  FROM documents WHERE length(text) >= 11),
      |w AS (SELECT doc_id, grams,
      |    list_transform(generate_series(1, len(grams) - 3), j -> list_min(grams[j:j+3])) AS wins
      |  FROM g),
      |f AS (SELECT doc_id, grams, list_sort(list_distinct(wins)) AS fps FROM w)
      |SELECT doc_id,
      |  CAST(len(grams) AS BIGINT) AS n_grams,
      |  CAST(len(fps) AS BIGINT) AS n_fp,
      |  list_min(fps) AS fp_min,
      |  list_max(fps) AS fp_max,
      |  list_reduce(fps, (a, b) -> xor(a, b)) AS fp_xor
      |FROM f ORDER BY doc_id""".stripMargin

  /** #30b repetition signals (the Gopher-style quality gates a
    * pretraining pipeline filters on): duplicate-word ratio, duplicate
    * word-trigram ratio, and the fraction of the text covered by its
    * single most frequent bigram. Entirely MAP-ONLY: the ratios are
    * narrow array math and the top-bigram mode is the per-row
    * [[graft.functions.TopNgramCount]] hash-map pass — the mode of a
    * row's own bigrams never needed the corpus-wide explode → groupBy →
    * groupBy → join-back (10M shuffled gram rows at ×20 density). */
  /** Gopher-style repetition signals over ANY (id, text) table (public
    * operator behind [[graft.Graft.repetitionSignals]]): duplicate-word
    * ratio, duplicate-trigram ratio, top-bigram coverage. Map-only. */
  def repetitionSignalsOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .withColumn("__ws", words(col("__text")))
      .filter(size(col("__ws")) >= 3)
      .withColumn("n_words", size(col("__ws")).cast("long"))
      .withColumn("dup_word_ratio",
        lit(1.0) - size(array_distinct(col("__ws"))).cast("double") / col("n_words").cast("double"))
      .withColumn("__tg", expr(
        "transform(sequence(0, size(__ws)-3), i -> concat_ws(' ', __ws[i], __ws[i+1], __ws[i+2]))"))
      .withColumn("dup_trigram_ratio",
        lit(1.0) - size(array_distinct(col("__tg"))).cast("double") / (col("n_words") - 2).cast("double"))
      .withColumn("top_bigram_ratio",
        expr("graft_top_ngram_count(__ws, 2)").cast("double") / (col("n_words") - 1).cast("double"))
      .drop("__text", "__ws", "__tg")

  private val t05: Q = (s, dir) =>
    repetitionSignalsOf(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_words"),
        r6(col("dup_word_ratio")).as("dup_word_ratio"),
        r6(col("top_bigram_ratio")).as("top_bigram_ratio"),
        r6(col("dup_trigram_ratio")).as("dup_trigram_ratio"))
      .orderBy("doc_id")

  private val t05Sql =
    """WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
      |f AS (SELECT doc_id, ws FROM w WHERE len(ws) >= 3),
      |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-1),
      |    i -> ws[i] || ' ' || ws[i+1])) AS b FROM f),
      |bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
      |topbg AS (SELECT doc_id, max(c) AS top_bg FROM bgc GROUP BY 1),
      |stats AS (SELECT doc_id,
      |    CAST(len(ws) AS BIGINT) AS n_words,
      |    1.0 - len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE) AS dup_word_ratio,
      |    1.0 - len(list_distinct(list_transform(generate_series(1, len(ws)-2),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) / CAST(len(ws) - 2 AS DOUBLE) AS dup_trigram_ratio
      |  FROM f)
      |SELECT s.doc_id, n_words,
      |  round(dup_word_ratio, 6) AS dup_word_ratio,
      |  round(top_bg / CAST(n_words - 1 AS DOUBLE), 6) AS top_bigram_ratio,
      |  round(dup_trigram_ratio, 6) AS dup_trigram_ratio
      |FROM stats s JOIN topbg USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Canonical text normalization over ANY (id, text) table (public
    * operator behind [[graft.Graft.normalizeText]]): lowercase, map
    * every non-alphanumeric to space, collapse runs, trim — the
    * canonicalization pass ahead of exact dedup ([[DedupOps]] d01
    * hashes a weaker form; this is the full scrub). Emits the cleaned
    * text, its md5 (the exact-dedup key), raw/clean char counts, word
    * count and removed-char ratio. Map-only: runs at scan speed. */
  def normalizeTextOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .withColumn("clean_text", trim(regexp_replace(
        regexp_replace(lower(col("__text")), "[^a-z0-9 ]", " "), " +", " ")))
      .withColumn("clean_md5", md5(col("clean_text")))
      .withColumn("n_chars_raw", length(col("__text")).cast("long"))
      .withColumn("n_chars_clean", length(col("clean_text")).cast("long"))
      .withColumn("n_words", size(words(col("__text"))).cast("long"))
      .withColumn("removed_ratio",
        when(col("n_chars_raw") > 0,
          lit(1.0) - col("n_chars_clean").cast("double") / col("n_chars_raw").cast("double"))
          .otherwise(0.0))
      .drop("__text")

  /** #27b canonicalization: the text scrub every exact-dedup pass
    * runs first, as its own auditable operator. */
  private val t06: Q = (s, dir) =>
    normalizeTextOf(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("clean_md5"), col("n_chars_raw"),
        col("n_chars_clean"), col("n_words"), r6(col("removed_ratio")).as("removed_ratio"))
      .orderBy("doc_id")

  private val t06Sql =
    """WITH c AS (
      |  SELECT doc_id, text,
      |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean_text
      |  FROM documents)
      |SELECT doc_id, md5(clean_text) AS clean_md5,
      |  CAST(length(text) AS BIGINT) AS n_chars_raw,
      |  CAST(length(clean_text) AS BIGINT) AS n_chars_clean,
      |  CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_words,
      |  round(CASE WHEN length(text) > 0
      |    THEN 1.0 - length(clean_text) / CAST(length(text) AS DOUBLE) ELSE 0.0 END, 6) AS removed_ratio
      |FROM c
      |ORDER BY doc_id""".stripMargin

  /** PII detection + redaction over ANY (id, text) table (public
    * operator behind [[graft.Graft.piiRedact]]): emails, phone numbers
    * and IPv4 addresses are counted and replaced by [EMAIL]/[PHONE]/
    * [IP] placeholders, in that fixed order (so an IP inside an
    * already-redacted span can't double-fire). Patterns stay within
    * the regex subset Java and RE2 evaluate identically (character
    * classes, bounded repetition — no backrefs/lookarounds). Map-only:
    * counts and the redacted text come from one scan at scan speed. */
  private val piiEmail = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  private val piiPhone = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,6}"
  private val piiIp = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  def piiRedactOf(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__t"))
      .withColumn("n_emails", size(regexp_extract_all(col("__t"), lit(piiEmail), lit(0))).cast("long"))
      .withColumn("n_phones", size(regexp_extract_all(col("__t"), lit(piiPhone), lit(0))).cast("long"))
      .withColumn("n_ips", size(regexp_extract_all(col("__t"), lit(piiIp), lit(0))).cast("long"))
      .withColumn("redacted",
        regexp_replace(regexp_replace(regexp_replace(col("__t"),
          piiEmail, "[EMAIL]"), piiPhone, "[PHONE]"), piiIp, "[IP]"))
      .withColumn("redacted_md5", md5(col("redacted")))
      .withColumn("len_delta", (length(col("__t")) - length(col("redacted"))).cast("long"))
      .drop("__t")

  /** #27c the scrub pass on documents carrying deterministic synthetic
    * contact lines (the corpus itself is PII-free; the augmentation
    * makes the op observable and oracle-checkable end to end). */
  private val t07: Q = (s, dir) => {
    val aug = t(s, dir, "documents")
      .withColumn("text", concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@example.com or +1-555-"),
        lpad(pmod(col("doc_id"), lit(1000L)).cast("string"), 4, "0"),
        lit(" from 10.0."), pmod(col("doc_id"), lit(256L)).cast("string"),
        lit("."), pmod(col("doc_id") * 7, lit(256L)).cast("string")))
    piiRedactOf(aug, "doc_id", "text")
      .orderBy("doc_id")
  }

  private val t07Sql =
    s"""WITH a AS (
       |  SELECT doc_id,
       |    text || ' contact user' || CAST(doc_id AS VARCHAR)
       |      || '@example.com or +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 4, '0')
       |      || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
       |      || '.' || CAST((doc_id * 7) % 256 AS VARCHAR) AS t
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, t,
       |    CAST(len(regexp_extract_all(t, '$piiEmail')) AS BIGINT) AS n_emails,
       |    CAST(len(regexp_extract_all(t, '$piiPhone')) AS BIGINT) AS n_phones,
       |    CAST(len(regexp_extract_all(t, '$piiIp')) AS BIGINT) AS n_ips,
       |    regexp_replace(regexp_replace(regexp_replace(t,
       |      '$piiEmail', '[EMAIL]', 'g'), '$piiPhone', '[PHONE]', 'g'), '$piiIp', '[IP]', 'g') AS redacted
       |  FROM a)
       |SELECT doc_id, n_emails, n_phones, n_ips, redacted,
       |  md5(redacted) AS redacted_md5,
       |  CAST(length(t) - length(redacted) AS BIGINT) AS len_delta
       |FROM r
       |ORDER BY doc_id""".stripMargin

  /** Per-document bigram language-model score (public operator behind
    * [[graft.Graft.bigramScore]]): the corpus bigram model (add-k
    * smoothed P(w2|w1), next-word vocabulary V) scores every document
    * as the mean log-probability of its bigram stream, plus the
    * perplexity exp(−mean) — the classic KenLM-shaped quality signal
    * a pretraining pipeline filters on. Bigrams unseen by the model
    * fall back to 1/V.
    *
    * Scale shape: the model is vocabulary-sized (broadcast at small
    * corpora, co-keyed shuffle join at 100 TB — token count never
    * shuffles thanks to map-side combine on the counts); the per-doc
    * mean is a CUMULATIVE fold in bigram position order — a sequential
    * sum both engines execute identically, where a hash-agg sum would
    * be partition-order-dependent in the last float bits. */
  def bigramScoreOf(docs: DataFrame, idCol: String, textCol: String,
                    addK: Double = 0.5): DataFrame = {
    // the bigram stream feeds BOTH the model counts and the scoring
    // join; the barrier stops the tokenize+explode from running twice
    // (no cross-side common-subtree elimination in Catalyst)
    val bg = graft.Checkpoints.stabilize(docs
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= 2)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(__ws)-2), i -> struct(__ws[i] AS w1, __ws[i+1] AS w2))"))
        .as(Seq("pos", "__bg")))
      .select(col("doc_id"), col("pos"), col("__bg.w1").as("w1"), col("__bg.w2").as("w2")))
    val counts = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .withColumn("c1", sum(col("c12")).over(Window.partitionBy(col("w1"))))
    val vocab = counts.agg(count_distinct(col("w2")).as("__v"))
    // the 1-row vocabulary scalar rides a broadcast cross join (never a
    // driver-side collect: the model stays one lazy distributed plan)
    val model = counts.crossJoin(broadcast(vocab))
      .withColumn("p", (col("c12") + lit(addK)) / (col("c1") + lit(addK) * col("__v")))
      .select(col("w1"), col("w2"), col("p"))
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // __v rides the bg side so the unseen-bigram fallback (1/V) still
    // has the vocabulary size after a missed left join
    bg.crossJoin(broadcast(vocab))
      .join(model, Seq("w1", "w2"), "left")
      .withColumn("__lp", log(coalesce(col("p"), lit(1.0) / col("__v"))))
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("__cum", sum(col("__lp")).over(cum))
      .filter(col("__rn") === col("__n"))
      .select(col("doc_id"), col("__n").cast("long").as("n_bigrams"),
        (col("__cum") / col("__n")).as("avg_logp"),
        exp(-(col("__cum") / col("__n"))).as("ppl"))
  }

  /** #27d corpus-model scoring of the corpus itself (every bigram is
    * in-model, so the left join is total). */
  private val t08: Q = (s, dir) =>
    bigramScoreOf(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_bigrams"),
        r4(col("avg_logp")).as("avg_logp"), r4(col("ppl")).as("ppl"))
      .orderBy("doc_id")

  /** The t08 scoring chain up to `f` (per-bigram cumulative log-prob),
    * shared verbatim by t08's and t23's oracles. */
  private val bigramLmCtes =
    """WITH w AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
      |bgu AS (
      |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-1),
      |    i -> struct_pack(pos := i, w1 := ws[i], w2 := ws[i+1]))) AS u
      |  FROM w WHERE len(ws) >= 2),
      |b AS (SELECT doc_id, u.pos AS pos, u.w1 AS w1, u.w2 AS w2 FROM bgu),
      |c AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY 1, 2),
      |tm AS (SELECT w1, w2, c12, sum(c12) OVER (PARTITION BY w1) AS c1 FROM c),
      |v AS (SELECT count(DISTINCT w2) AS nv FROM c),
      |m AS (SELECT w1, w2,
      |    (CAST(c12 AS DOUBLE) + 0.5) / (CAST(c1 AS DOUBLE) + 0.5 * CAST(nv AS DOUBLE)) AS p
      |  FROM tm, v),
      |j AS (SELECT b.doc_id, b.pos, ln(m.p) AS lp FROM b JOIN m USING (w1, w2)),
      |f AS (SELECT doc_id,
      |    row_number() OVER o AS rn,
      |    count(*) OVER (PARTITION BY doc_id) AS n,
      |    sum(lp) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM j
      |  WINDOW o AS (PARTITION BY doc_id ORDER BY pos))""".stripMargin

  private val t08Sql = bigramLmCtes + """
      |SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams,
      |  round(cum / n, 4) AS avg_logp,
      |  round(exp(-(cum / n)), 4) AS ppl
      |FROM f WHERE rn = n
      |ORDER BY doc_id""".stripMargin

  /** #t23 CCNet-style perplexity partition (Wenzek 2020): every scored
    * doc assigned head/middle/tail BY LANGUAGE via per-lang rank
    * terciles of the t08 bigram-LM perplexity — the quality-partition
    * step a pretraining pipeline runs before mixture sampling. Ranks
    * order by the RAW (pre-rounding) ppl with doc_id ties, the bucket
    * rule is pure integer arithmetic (rk*3 vs n), and the score is the
    * hash-proven t08 chain ⇒ the whole partition replays bit-exactly.
    * One extra shuffle on lang over t08; the per-lang window state is
    * rank counters, not doc text. Docs with < 2 words carry no score
    * and are excluded, t08's contract. */
  private val t23: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val scored = bigramScoreOf(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val w = Window.partitionBy(col("lang")).orderBy(col("ppl"), col("doc_id"))
    scored.withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("lang"))))
      .withColumn("bucket",
        when(col("__rk") * 3 <= col("__n"), "head")
          .when(col("__rk") * 3 <= col("__n") * 2, "middle")
          .otherwise("tail"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"),
        r4(col("ppl")).as("ppl"), col("bucket"))
      .orderBy("doc_id")
  }

  private val t23Sql = bigramLmCtes + """,
      |sc AS (SELECT doc_id, n, exp(-(cum / n)) AS ppl FROM f WHERE rn = n),
      |sl AS (SELECT s.doc_id, d.lang, s.n, s.ppl
      |  FROM sc s JOIN documents d ON s.doc_id = d.doc_id),
      |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS rk,
      |    count(*) OVER (PARTITION BY lang) AS nl
      |  FROM sl)
      |SELECT doc_id, lang, CAST(n AS BIGINT) AS n_bigrams, round(ppl, 4) AS ppl,
      |  CASE WHEN rk * 3 <= nl THEN 'head'
      |       WHEN rk * 3 <= nl * 2 THEN 'middle' ELSE 'tail' END AS bucket
      |FROM r
      |ORDER BY doc_id""".stripMargin

  /** Per-document top-k TF-IDF terms (public operator behind
    * [[graft.Graft.tfidfTopTerms]]): tf = in-doc term count, idf =
    * ln((1+N)/(1+df)) + 1 (smoothed, scikit-style), terms ranked per
    * doc by (tf·idf desc, term). The tokenize+explode collapses into
    * (doc_id, term, tf) at the first map-side-combined shuffle — raw
    * text never shuffles — and the doc-frequency side is the DISTINCT
    * vocabulary, shuffle-joined back on the term key. N rides a
    * broadcast 1-row cross join (never a driver collect): at 100 TB
    * the cost is token cardinality into the first combine, vocabulary
    * after it. The k-row-per-doc result is stabilized before the call
    * returns, so the op executes where it is called. */
  def tfidfTopTermsOf(docs: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // barrier: (doc_id, term, tf) feeds BOTH the df counts and the
    // scoring join — persist (not localCheckpoint) so both join sides
    // read one materialization of the tokenize+explode, the blocks stay
    // evictable under memory pressure, and lineage survives executor
    // loss. rakeKeywordsOf's leak rule: the top-k result is stabilized
    // and tf unpersisted before returning, so no call leaves it cached
    val tf = docs
      .select(col(idCol).as("doc_id"), explode(words(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nDocs = docs.agg(count(lit(1)).as("__n"))
    val dfTbl = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val rank = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    try graft.Checkpoints.stabilize(tf.join(dfTbl, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") * (log((lit(1.0) + col("__n")) / (lit(1.0) + col("df"))) + lit(1.0)))
      .withColumn("rnk", row_number().over(rank).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rnk")))
    finally tf.unpersist()
  }

  /** #27e top-5 TF-IDF terms per document. */
  private val t09: Q = (s, dir) =>
    tfidfTopTermsOf(t(s, dir, "documents"), "doc_id", "text", 5)
      .withColumn("score", r4(col("score")))
      .orderBy("doc_id", "rnk")

  private val t09Sql =
    """WITH w AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM w GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |s AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    tf.tf * (ln((1.0 + n.n) / (1.0 + df.df)) + 1.0) AS score
      |  FROM tf JOIN df USING (term), n),
      |r AS (SELECT *, row_number() OVER
      |    (PARTITION BY doc_id ORDER BY score DESC, term) AS rnk FROM s)
      |SELECT doc_id, term, tf, df, round(score, 4) AS score, rnk
      |FROM r WHERE rnk <= 5
      |ORDER BY doc_id, rnk""".stripMargin

  /** RAKE keyword extraction (public operator behind
    * [[graft.Graft.rakeKeywords]]; Rose et al. 2010, "Automatic
    * Keyword Extraction from Individual Documents") — the keyPHRASE
    * complement to t09's single-term TF-IDF: candidate phrases are
    * the maximal runs of content words between stopword/non-word
    * delimiters, each word scores degree/frequency over the doc's
    * phrase co-occurrence graph (degree = Σ length of the phrases it
    * appears in — words that travel in long phrases outrank loners),
    * a phrase scores the sum of its word scores, and the top-k
    * distinct phrases per doc win. Corpus-independent per doc — the
    * d14-style "no global model" property that makes it a map-ish
    * pipeline: tokenize → cumulative stopword-boundary grouping (one
    * (doc, pos) window) → two integer aggregates ((doc, phrase) and
    * (doc, word)) → one join back.
    *
    * Determinism: freq/degree are INTEGERS, a word's score is one
    * long/long division at the boundary, and the phrase score folds
    * word scores in POSITION order via a cumulative window (the q33
    * rule) — bit-stable at any parallelism; rank ties break by the
    * phrase string. Duplicate phrase occurrences score identically
    * (same words ⇒ same fold), collapsed with an occurrence count.
    * Scale: token-sized rows collapse at the first combines; nothing
    * wider than (doc, phrase) ever shuffles. */
  def rakeKeywordsOf(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, stopwords: Seq[String]): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(stopwords.nonEmpty, "stopwords must be non-empty (no phrase boundaries otherwise)")
    val tok = docs
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) > 0)
      .selectExpr("doc_id", "posexplode(__ws) as (pos, w)")
      .withColumn("is_stop", col("w").isInCollection(stopwords))
    val wPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cw = tok
      .withColumn("grp", sum(col("is_stop").cast("long")).over(wPos))
      .filter(!col("is_stop"))
      .select(col("doc_id"), col("grp"), col("pos"), col("w"))
      // cw feeds THREE downstream subtrees; exchange reuse dedupes its
      // shuffle but not the tokenize/window recompute above (measured
      // 2.2× on the gate without the cache, and deriving the word stats
      // from the phrase table's own arrays instead measured 1.8× — the
      // narrow cached rows win). The round-14 leak fix is the
      // fitLinearProbe finally-unpersist pattern below: the top-k
      // result (≤ k rows per doc) is eagerly materialized and cw
      // unpersisted before returning, so multi-query gate/bench runs
      // accumulate no cached blocks.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ph = cw.groupBy(col("doc_id"), col("grp"))
      .agg(array_sort(collect_list(struct(col("pos"), col("w")))).as("__pw"))
      .withColumn("phrase", array_join(expr("transform(__pw, x -> x.w)"), " "))
      .withColumn("len", size(col("__pw")).cast("long"))
      .select(col("doc_id"), col("grp"), col("phrase"), col("len"))
    val wsc = cw.join(ph.select(col("doc_id"), col("grp"), col("len")), Seq("doc_id", "grp"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("freq"), sum(col("len")).as("degree"))
      .withColumn("wscore", col("degree").cast("double") / col("freq").cast("double"))
      .select(col("doc_id"), col("w"), col("wscore"))
    val wGrp = Window.partitionBy(col("doc_id"), col("grp")).orderBy(col("pos"))
    val cumG = wGrp.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = cw.join(wsc, Seq("doc_id", "w"))
      .withColumn("rn", row_number().over(wGrp))
      .withColumn("nw", count(lit(1)).over(Window.partitionBy(col("doc_id"), col("grp"))))
      .withColumn("cscore", sum(col("wscore")).over(cumG))
      .filter(col("rn") === col("nw"))
      .select(col("doc_id"), col("grp"), col("cscore"))
      .join(ph, Seq("doc_id", "grp"))
    val rank = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("phrase"))
    try graft.Checkpoints.stabilize(scored
      .groupBy(col("doc_id"), col("phrase"), col("len"))
      .agg(max(col("cscore")).as("score"), count(lit(1)).as("n_occurrences"))
      .withColumn("rank", row_number().over(rank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("phrase"),
        col("len").as("n_words"), col("n_occurrences"), col("score")))
    finally cw.unpersist()
  }

  /** #27j RAKE top-3 keyphrases per document, boundaries on the t01
    * English stopword list. */
  private val t25: Q = (s, dir) =>
    rakeKeywordsOf(t(s, dir, "documents"), "doc_id", "text", 3, stop("en"))
      .withColumn("score", r6(col("score")))
      .orderBy("doc_id", "rank")

  private val t25Sql =
    s"""WITH w AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |  FROM documents),
       |tk AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)),
       |    i -> struct_pack(pos := i, w := ws[i]))) AS u
       |  FROM w WHERE len(ws) > 0),
       |tok AS (SELECT doc_id, u.pos AS pos, u.w AS w,
       |    u.w IN (${inList(stop("en"))}) AS is_stop FROM tk),
       |g AS (SELECT doc_id, pos, w, is_stop,
       |    sum(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |  FROM tok),
       |cw AS (SELECT doc_id, grp, pos, w FROM g WHERE NOT is_stop),
       |ph AS (SELECT doc_id, grp, string_agg(w, ' ' ORDER BY pos) AS phrase,
       |    count(*) AS len
       |  FROM cw GROUP BY doc_id, grp),
       |wsc AS (SELECT cw.doc_id, cw.w,
       |    CAST(sum(ph.len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS wscore
       |  FROM cw JOIN ph USING (doc_id, grp) GROUP BY cw.doc_id, cw.w),
       |psc AS (SELECT cw.doc_id, cw.grp,
       |    row_number() OVER po AS rn, count(*) OVER (PARTITION BY cw.doc_id, cw.grp) AS nw,
       |    sum(wsc.wscore) OVER (PARTITION BY cw.doc_id, cw.grp ORDER BY cw.pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cscore
       |  FROM cw JOIN wsc ON wsc.doc_id = cw.doc_id AND wsc.w = cw.w
       |  WINDOW po AS (PARTITION BY cw.doc_id, cw.grp ORDER BY cw.pos)),
       |fin AS (SELECT psc.doc_id, ph.phrase, ph.len, psc.cscore
       |  FROM psc JOIN ph ON ph.doc_id = psc.doc_id AND ph.grp = psc.grp
       |  WHERE psc.rn = psc.nw),
       |ded AS (SELECT doc_id, phrase, len, max(cscore) AS score,
       |    count(*) AS n_occurrences
       |  FROM fin GROUP BY doc_id, phrase, len),
       |rk AS (SELECT *, row_number() OVER (
       |    PARTITION BY doc_id ORDER BY score DESC, phrase) AS rank FROM ded)
       |SELECT doc_id, CAST(rank AS BIGINT) AS rank, phrase,
       |  CAST(len AS BIGINT) AS n_words, CAST(n_occurrences AS BIGINT) AS n_occurrences,
       |  round(score, 6) AS score
       |FROM rk WHERE rank <= 3
       |ORDER BY doc_id, rank""".stripMargin

  /** MOSS-style fingerprint-overlap near-dup pairs (public operator
    * behind [[graft.Graft.winnowPairs]]) — what the t04 fingerprints
    * exist FOR: two docs are near-dups when they share ≥ `minOverlap`
    * of the smaller one's winnowed fingerprint set. The native
    * [[graft.functions.WinnowSet]] kernel emits each doc's sorted
    * distinct fingerprint set in one pass; the self-join is BLOCKED
    * per fingerprint value (the d02-band family — only docs sharing a
    * fingerprint ever pair, never a full cross), and only (fp,
    * doc_id, set_size) rows flow through it — text never shuffles.
    * Returns (doc_a, doc_b, n_shared, overlap).
    *
    * Scale: a fingerprint shared by m docs yields m²/2 pairs, so the
    * join is capped by `maxDf` — fingerprints present in MORE than
    * `maxDf` documents are dropped before pairing (sets, sizes and
    * overlaps are all over the surviving DISCRIMINATIVE fingerprints).
    * This is MOSS's own rule ("ignore matches that appear in too many
    * documents"): a fingerprint shared corpus-wide is boilerplate,
    * not near-dup signal, and without the cap a common k-gram turns
    * the blocked join quadratic — measured: the ×10 replica corpus
    * (50k word-soup docs sharing hot 8-grams) RAN AWAY uncapped, and
    * completes in seconds capped. Residual m ≤ maxDf buckets are the
    * d02-band family; AQE skew-join splits hot ones. The
    * fingerprinted side is localCheckpoint'd so the md5 pipeline runs
    * once, not once per join side (round-2 sketch rule). */
  def winnowPairsOf(docs: DataFrame, id: String, text: String,
                    kGram: Int, window: Int, minOverlap: Double,
                    maxDf: Int = 100): DataFrame = {
    require(kGram >= 1 && window >= 1, s"kGram/window must be >= 1, got $kGram/$window")
    require(minOverlap > 0 && minOverlap <= 1, s"minOverlap must be in (0,1], got $minOverlap")
    require(maxDf >= 2, s"maxDf must be >= 2 (a pair needs 2 docs), got $maxDf")
    val ex0 = graft.Checkpoints.stabilize(docs.filter(length(col(text)) >= kGram + window - 1)
      .select(col(id).as("__id"),
        explode(expr(s"graft_winnow_set($text, $kGram, $window)")).as("__fp")))
    // per-doc sets are distinct, so count(*) per fingerprint IS its df
    val rare = ex0.groupBy(col("__fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select(col("__fp"))
    // the filtered+counted side feeds BOTH halves of the pair join:
    // checkpoint it so the df-filter join and the per-doc window run
    // once, not once per side (same rule as ex0 above)
    val ex = graft.Checkpoints.stabilize(ex0.join(rare, Seq("__fp"))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__id")))))
    val a = ex.select(col("__fp"), col("__id").as("doc_a"), col("__n").as("__na"))
    val b = ex.select(col("__fp"), col("__id").as("doc_b"), col("__n").as("__nb"))
    a.join(b, Seq("__fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"), col("__na"), col("__nb"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("overlap", col("n_shared") / least(col("__na"), col("__nb")).cast("double"))
      .filter(col("overlap") >= minOverlap)
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("overlap"))
  }

  /** #27f fingerprint-overlap pairs on the documents corpus: 8-char
    * grams, window 4 (t04's parameters), overlap ≥ 0.5 of the smaller
    * DISCRIMINATIVE set (fingerprints in > 100 docs dropped — the
    * MOSS cap); the oracle replays the composed winnow + the same
    * df filter + blocked join. */
  private val t10: Q = (s, dir) =>
    winnowPairsOf(t(s, dir, "documents"), "doc_id", "text",
        kGram = 8, window = 4, minOverlap = 0.5, maxDf = 100)
      .select(col("doc_a"), col("doc_b"), col("n_shared"),
        r6(col("overlap")).as("overlap"))
      .orderBy("doc_a", "doc_b")

  private val t10Sql =
    """WITH g AS (SELECT doc_id,
      |    list_transform(generate_series(1, length(text) - 7),
      |      i -> CAST(('0x' || substr(md5(substring(text, i, 8)), 1, 15)) AS BIGINT)) AS grams
      |  FROM documents WHERE length(text) >= 11),
      |w AS (SELECT doc_id,
      |    list_transform(generate_series(1, len(grams) - 3), j -> list_min(grams[j:j+3])) AS wins
      |  FROM g),
      |f AS (SELECT doc_id, list_distinct(wins) AS fps FROM w),
      |e0 AS (SELECT doc_id, unnest(fps) AS fp FROM f),
      |rare AS (SELECT fp FROM (SELECT fp, count(*) AS df FROM e0 GROUP BY fp) t
      |  WHERE df <= 100),
      |e AS (SELECT doc_id, fp, count(*) OVER (PARTITION BY doc_id) AS n
      |  FROM e0 JOIN rare USING (fp)),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
      |    count(*) AS n_shared
      |  FROM e a JOIN e b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4)
      |SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
      |  round(n_shared / CAST(least(na, nb) AS DOUBLE), 6) AS overlap
      |FROM p
      |WHERE n_shared / CAST(least(na, nb) AS DOUBLE) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** #p01 the END-TO-END pretraining-data pipeline as ONE plan — five
    * public operators composed exactly as a user would:
    * [[normalizeTextOf]] (canonical md5) → exact dedup keep-min (the
    * d01 rule) → [[qualityFeaturesOf]] filter (score ≥ 0.55) →
    * [[DataOps.hashSplitOf]] (80/10/10) → [[DataOps.packBinsOf]]
    * (2048-token bins per split). One row per surviving doc:
    * (doc_id, clean_md5, split, n_words, score, bin). The oracle
    * replays the whole chain, so the gate proves the COMPOSITION —
    * stage boundaries, join keys, filter thresholds — not just each
    * operator in isolation. Catalyst fuses the map-only stages; the
    * shuffles are dedup (md5), quality join (doc_id), split-pack
    * window (split) + the presentation sort. */
  private val p01: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val norm = normalizeTextOf(docs, "doc_id", "text")
      .select(col("doc_id"), col("clean_md5"), col("n_words"))
    val wdd = Window.partitionBy(col("clean_md5")).orderBy(col("doc_id"))
    val dedup = norm.withColumn("__rn", row_number().over(wdd))
      .filter(col("__rn") === 1).drop("__rn")
    val qual = qualityFeaturesOf(docs, "doc_id", "text").select(col("doc_id"), col("score"))
    val kept = dedup.join(qual, "doc_id").filter(col("score") >= 0.55)
    val split = DataOps.hashSplitOf(kept, "doc_id", "graft", 80, 10)
    DataOps.packBinsOf(split, "split", "doc_id", "n_words", 2048L)
      .select(col("doc_id"), col("clean_md5"), col("split"), col("n_words"),
        r6(col("score")).as("score"), col("bin"))
      .orderBy("doc_id")
  }

  private val p01Sql =
    s"""WITH c AS (
       |  SELECT doc_id, text,
       |    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS clean_text
       |  FROM documents),
       |n AS (
       |  SELECT doc_id, md5(clean_text) AS clean_md5,
       |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_words
       |  FROM c),
       |dd AS (
       |  SELECT doc_id, clean_md5, n_words FROM (
       |    SELECT n.*, row_number() OVER (PARTITION BY clean_md5 ORDER BY doc_id) AS rn FROM n) t
       |  WHERE rn = 1),
       |w AS (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
       |f AS (SELECT doc_id,
       |    CAST(len(ws) AS BIGINT) AS qn_words,
       |    length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / CAST(length(text) AS DOUBLE) AS punct_ratio,
       |    len(list_filter(ws, w -> w IN (${inList(stop("en"))}))) / CAST(len(ws) AS DOUBLE) AS stop_ratio,
       |    CAST(list_reduce(list_transform(ws, w -> CAST(length(w) AS BIGINT)), (a, b) -> a + b) AS BIGINT)
       |      / CAST(len(ws) AS DOUBLE) AS mean_word_len
       |  FROM w WHERE len(ws) > 0),
       |q AS (SELECT doc_id,
       |    0.3 * least(CAST(qn_words AS DOUBLE) / 100.0, 1.0) + 0.3 * (1.0 - punct_ratio)
       |      + 0.2 * stop_ratio + 0.2 * least(mean_word_len / 8.0, 1.0) AS score
       |  FROM f),
       |k AS (SELECT dd.doc_id, dd.clean_md5, dd.n_words, q.score
       |  FROM dd JOIN q ON dd.doc_id = q.doc_id
       |  WHERE q.score >= 0.55),
       |s AS (SELECT *,
       |    CASE WHEN CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
       |         WHEN CAST(('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM k),
       |p AS (SELECT *,
       |    sum(n_words) OVER (PARTITION BY split ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM s)
       |SELECT doc_id, clean_md5, split, n_words, round(score, 6) AS score,
       |  CAST((cum - n_words) // 2048 AS BIGINT) AS bin
       |FROM p
       |ORDER BY doc_id""".stripMargin

  /** BM25 ranked retrieval over ANY (id, text) table (public operator
    * behind [[graft.Graft.bm25Search]]) — the search-side complement of
    * [[tfidfTopTermsOf]]: Robertson/Lucene BM25 with
    * idf = ln(1 + (N − df + 0.5)/(df + 0.5)) and the usual k1/b length
    * normalization against avgdl. Returns the global top-`topK` docs by
    * (score desc, doc_id) as (doc_id, dl, score, rnk).
    *
    * Plan shape: per-doc term frequencies come from per-row array
    * filters (no explode, no token shuffle — `queryTerms` is a handful
    * of literals); N/avgdl/df all ride ONE global aggregate broadcast
    * back as a 1-row cross join; the top-k is TakeOrdered (no full
    * sort), with the rank window running post-limit on k rows. The
    * per-term score contributions are summed in fixed left-to-right
    * term order — bit-reproducible, no float-agg reorder. */
  def bm25Of(docs: DataFrame, idCol: String, textCol: String,
             queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
             topK: Int = 20): DataFrame = {
    require(queryTerms.nonEmpty, "bm25Of needs at least one query term")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val terms = queryTerms.map(_.toLowerCase).distinct
    val base = docs
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) > 0)
      .withColumn("dl", size(col("__ws")).cast("long"))
    val withTf = terms.zipWithIndex.foldLeft(base) { case (d, (t, i)) =>
      d.withColumn(s"__tf_$i",
        size(filter(col("__ws"), w => w === lit(t))).cast("long"))
    }.drop("__ws")
    val statAggs = Seq(count(lit(1)).as("__n"), sum(col("dl")).as("__sumdl")) ++
      terms.indices.map(i =>
        sum(when(col(s"__tf_$i") > 0, 1L).otherwise(0L)).as(s"__df_$i"))
    val stats = withTf.groupBy().agg(statAggs.head, statAggs.tail: _*)
    val scored = withTf.crossJoin(broadcast(stats))
    val avgdl = col("__sumdl") / col("__n").cast("double")
    val contribs = terms.indices.map { i =>
      val tf = col(s"__tf_$i").cast("double")
      val df = col(s"__df_$i").cast("double")
      val idf = log(lit(1.0) + (col("__n") - df + lit(0.5)) / (df + lit(0.5)))
      idf * (tf * lit(k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    }
    val rank = Window.orderBy(col("score").desc, col("doc_id"))
    scored
      .withColumn("score", contribs.reduceLeft(_ + _))
      .filter(col("score") > 0)
      .select(col("doc_id"), col("dl"), col("score"))
      .orderBy(col("score").desc, col("doc_id")).limit(topK)
      .withColumn("rnk", row_number().over(rank).cast("long"))
  }

  /** #30b BM25 retrieval for a 3-term query, top-20. */
  private val t11: Q = (s, dir) =>
    bm25Of(t(s, dir, "documents"), "doc_id", "text",
        Seq("spark", "vector", "query"), k1 = 1.2, b = 0.75, topK = 20)
      .select(col("doc_id"), col("dl"), r6(col("score")).as("score"), col("rnk"))
      .orderBy("rnk")

  private val t11Sql = {
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
       |r AS (SELECT doc_id, dl, score,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
       |  FROM s WHERE score > 0)
       |SELECT doc_id, dl, round(score, 6) AS score, rnk
       |FROM r WHERE rnk <= 20 ORDER BY rnk""".stripMargin
  }

  /** Distributed BPE vocabulary training (public operator behind
    * [[graft.Graft.bpeTrain]]) — the tokenizer-learning step of an LLM
    * data pipeline, classic Sennrich BPE at the word level: words
    * split to character symbols + an end-of-word marker, then
    * `nMerges` rounds of (count adjacent symbol pairs weighted by word
    * frequency → merge the most frequent pair everywhere). Returns the
    * learned merge table (rank, left, right, pair_count).
    *
    * Scale shape: training state is the WORD-FREQUENCY table, not the
    * corpus — one corpus-wide token count builds it, then every round
    * is one vocabulary-sized pair-count shuffle (long-integer sums:
    * deterministic) + a 1-row driver argmax (the kmeans budget) + a
    * map-only [[graft.functions.BpeMerge]] kernel pass, with
    * localCheckpoint truncating the per-round lineage (the d06 rule).
    * Tie-break (count desc, left, right) is total ⇒ the learned merges
    * are reproducible bit-for-bit at any parallelism. Greedy
    * left-to-right within a word, the reference semantics ("aaa" +
    * merge (a,a) → [aa, a]). */
  def bpeTrainOf(docs: DataFrame, idCol: String, textCol: String,
                 nMerges: Int): DataFrame =
    bpeTrainOf(docs, idCol, textCol, nMerges, Nil)

  /** Resume variant: `priorMerges` (rank order) are replayed onto the
    * fresh word-frequency table as map-only kernel passes — no
    * pair-count shuffles, no argmaxes — and training continues at rank
    * `priorMerges.size + 1` for `nMerges` MORE merges. Because every
    * round's argmax tie-break is total, the resumed run learns
    * bit-identical merges to an uninterrupted one: a driver restart
    * mid-training loses at most the in-flight round, never determinism
    * (spec-pinned in RetrievalSpec).
    *
    * Wall-clock contract (the inherent BPE shape, not an accident of
    * this impl): merge k+1 depends on the vocab AFTER merge k, so the
    * loop is sequential — jobs = nMerges, each one vocabulary-sized
    * pair-count shuffle (the corpus is touched ONCE, building the word
    * table) + a 1-row driver argmax. A 32k-merge vocab is therefore a
    * 32k-job nightly batch whose per-job input is the word table, not
    * the corpus; corpus size only affects the first count. */
  def bpeTrainOf(docs: DataFrame, idCol: String, textCol: String,
                 nMerges: Int, priorMerges: Seq[(String, String)]): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    var vocab = docs
      .select(explode(words(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(col("cnt"),
        concat(filter(split(col("w"), ""), s => length(s) > 0),
          array(lit("</w>"))).as("syms"))
    vocab = graft.Checkpoints.stabilize(vocab)
    def q(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")
    priorMerges.foreach { case (l, r) =>
      vocab = vocab.withColumn("syms", expr(s"graft_bpe_merge(syms, '${q(l)}', '${q(r)}')"))
    }
    if (priorMerges.nonEmpty) vocab = graft.Checkpoints.stabilize(vocab)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = priorMerges.size + 1
    val lastRank = priorMerges.size + nMerges
    var done = false
    while (rank <= lastRank && !done) {
      val top = vocab
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, l, r, n))
        vocab = vocab
          .withColumn("syms", expr(s"graft_bpe_merge(syms, '${q(l)}', '${q(r)}')"))
        // truncate lineage every few rounds, not every round (the
        // un-checkpointed tail is ≤3 map-only kernel passes over the
        // vocab table, cheaper to replay than to materialize); the
        // stabilize runs its own job here, and the next round's
        // pair-count job reads the stored rows
        if (rank % 4 == 0) vocab = graft.Checkpoints.stabilize(vocab)
        rank += 1
      }
    }
    merges.toSeq.toDF("rank", "left", "right", "pair_count")
  }

  /** BPE ENCODE — the inference side of [[bpeTrainOf]] (public operator
    * behind [[graft.Graft.bpeEncode]]): applies a learned merge table
    * in rank order to tokenize every document. Map-only: each merge is
    * one chained [[graft.functions.BpeMerge]] kernel pass over the
    * doc's flattened symbol array; no shuffle, no state. Within-word
    * semantics hold on the flat array for free: any symbol containing
    * the `</w>` marker is word-final, and no learnable merge ever has
    * a word-final LEFT side (it never had a right neighbor in
    * training), so merges cannot cross word boundaries. Appends
    * (tokens, n_tokens). */
  def bpeEncodeOf(docs: DataFrame, idCol: String, textCol: String,
                  merges: Seq[(String, String)]): DataFrame = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    val base = docs
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) > 0)
      .withColumn("syms", flatten(transform(col("__ws"),
        w => concat(filter(split(w, ""), s => length(s) > 0), array(lit("</w>"))))))
    merges.foldLeft(base) { case (d, (l, r)) =>
      d.withColumn("syms", expr(s"graft_bpe_merge(syms, '${esc(l)}', '${esc(r)}')"))
    }.select(col("doc_id"), col("syms").as("tokens"),
      size(col("syms")).cast("long").as("n_tokens"))
  }

  /** #30e the learned 12-merge BPE table over the documents corpus
    * (rows-only: the iterative global-argmax loop is outside the
    * oracle's portable SQL subset; RetrievalSpec pins the training
    * semantics against a driver-side reference implementation). */
  private val t12: Q = (s, dir) =>
    bpeTrainOf(t(s, dir, "documents"), "doc_id", "text", 12).orderBy("rank")

  /** Hashed sparse feature vectors over ANY (id, text) table (public
    * operator behind [[graft.Graft.featureHash]]) — the hashing trick
    * (Weinberger et al. 2009): token → bucket = md5-hash mod `dim`,
    * with a second independent hash choosing a ±1 sign so collisions
    * cancel in expectation. Returns one sparse cell per (doc, bucket):
    * (doc_id, bucket, feat = Σ sign, n_tokens).
    *
    * The fixed-vocabulary-free featurizer a streaming training
    * pipeline needs: no vocab table to build, ship, or version — the
    * feature space is a pure function of the bytes, so two corpora
    * hashed independently are feature-compatible. Map-side explode +
    * one (doc, bucket)-keyed integer-sum shuffle; ≤ `dim` cells per
    * doc regardless of document length; md5-deterministic (the ds01
    * split rule) at any parallelism. */
  def featureHashOf(docs: DataFrame, idCol: String, textCol: String,
                    dim: Int, salt: String = "graft"): DataFrame = {
    require(dim >= 2, s"dim must be >= 2, got $dim")
    docs
      .select(col(idCol).as("doc_id"), explode(words(col(textCol))).as("tok"))
      .withColumn("bucket", pmod(hash60(concat(lit(salt + ":"), col("tok"))), lit(dim.toLong)))
      .withColumn("sgn",
        when(pmod(hash60(concat(lit("sgn:"), col("tok"))), lit(2L)) === 0, lit(1L))
          .otherwise(lit(-1L)))
      .groupBy("doc_id", "bucket")
      .agg(sum(col("sgn")).as("feat"), count(lit(1)).as("n_tokens"))
  }

  /** #t13 64-dim hashed feature cells for every document. */
  private val t13: Q = (s, dir) =>
    featureHashOf(t(s, dir, "documents"), "doc_id", "text", dim = 64)
      .orderBy("doc_id", "bucket")

  private val t13Sql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      |  FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5('graft:' || tok), 1, 15)) AS BIGINT) % 64 AS bucket,
      |    CASE WHEN CAST(('0x' || substr(md5('sgn:' || tok), 1, 15)) AS BIGINT) % 2 = 0
      |      THEN 1 ELSE -1 END AS sgn
      |  FROM toks)
      |SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS feat, count(*) AS n_tokens
      |FROM h GROUP BY 1, 2
      |ORDER BY doc_id, bucket""".stripMargin

  /** fastText-shaped linear classifier trained IN-ENGINE on hashed
    * sparse features (public operator behind
    * [[graft.Graft.hashClassifier]]) — the quality/language-filter
    * training loop a 100 TB curation pipeline runs over weak labels
    * (Joulin 2016 fastText + the FineWeb-Edu distillation shape: an
    * expensive labeler's signal distilled into a scorer cheap enough
    * for every document): features are [[featureHashOf]]'s signed
    * hashed counts NORMALIZED by document length (the fastText
    * averaging — x ∈ [−1, 1], so the GD step is scale-free), the model
    * is `dim` weights trained by full-batch squared-loss gradient
    * descent, and the output is every doc scored by the fitted model.
    *
    * Determinism contract (the s09 rule, sparse form): per-doc scores
    * fold over cells in BUCKET order and per-bucket gradients fold
    * over docs in DOC order (cumulative window taken at its last row —
    * sequential float adds in a total order), so the DuckDB oracle
    * replays the whole training loop as chained CTEs bit-for-bit.
    * Driver state is `dim` doubles per iteration (the fitLinearProbe
    * contract); everything else distributes. Docs with zero tokens
    * have no cells and drop (nothing to score). */
  /** `exact = true` (default, the oracle form) folds the per-bucket
    * gradient in doc_id order via a cumulative window — every float
    * addition in a DuckDB-replayable sequence, at the price of
    * shuffling every (doc, bucket) row per iteration. `exact = false`
    * is the PRODUCTION form (the a06/a07 swap-as-a-knob pattern): the
    * same gradient as an order-free `groupBy(bucket).agg(sum)` —
    * map-side combine collapses each partition to ≤ dim rows before
    * the exchange, so an iteration's shuffle is dim·partitions rows
    * instead of the corpus. Same math, float addition order differs;
    * Round16Spec bounds the realized drift (identical predictions,
    * score delta in ulps) on the gate corpus. */
  def hashClassifierOf(docs: DataFrame, idCol: String, textCol: String,
                       labels: DataFrame, yCol: String,
                       dim: Int, lr: Double, iters: Int,
                       salt: String = "graft",
                       exact: Boolean = true): DataFrame = {
    require(dim >= 2 && iters >= 1 && lr > 0,
      s"need dim >= 2, iters >= 1, lr > 0; got dim=$dim iters=$iters lr=$lr")
    val cells = featureHashOf(docs, idCol, textCol, dim, salt)
    // distinct: an exactly-duplicated label row would otherwise double
    // that doc's cells through the join and silently double-count it
    // in every score and gradient fold. Conflicting labels for one id
    // remain caller error (idCol unique — the house keyed-op contract).
    val lab = labels
      .select(col(idCol).as("doc_id"), col(yCol).cast("double").as("y"))
      .distinct()
    val wDoc = Window.partitionBy(col("doc_id"))
    // x covers EVERY tokened doc; training restricts to the labeled
    // subset (the distillation shape: a small labeled slice trains the
    // model, the fitted model scores the whole corpus). Unlabeled docs
    // come out with y/correct null; zero-token docs have no cells and
    // drop (nothing to score).
    val x = cells
      .withColumn("__tot", sum(col("n_tokens")).over(wDoc))
      .withColumn("x", col("feat").cast("double") / col("__tot").cast("double"))
      .select(col("doc_id"), col("bucket"), col("x"))
    // the training frame is re-windowed by doc_id every iteration:
    // cache it ALREADY hash-partitioned by doc_id and sorted
    // (doc_id, bucket), so each iteration's doc-window needs neither
    // an exchange nor a sort (round-17, guide §2.4 — the cached plan
    // reports its partitioning/ordering to Catalyst)
    val xy = x.join(lab, "doc_id")
      .repartition(col("doc_id"))
      .sortWithinPartitions(col("doc_id"), col("bucket"))
      .cache()
    try {
      val n = xy.select(col("doc_id")).distinct().count()
      require(n > 0, "empty training set")
      val wDocOrd = wDoc.orderBy(col("bucket"))
      val wDocCum = wDocOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wDocAll = wDocOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wB = Window.partitionBy(col("bucket"))
      val wBOrd = wB.orderBy(col("doc_id"))
      val wBAll = wBOrd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      // per-doc score fold in bucket order — identical op sequence over
      // the training slice and the full corpus (the join only adds y);
      // carryY rides the training frame's own y column through the fold
      // so the GD loop never re-joins labels
      def scored(frame: DataFrame, wArr: Array[Double],
                 carryY: Boolean = false): DataFrame = {
        val wlit = array(wArr.map(lit).toIndexedSeq: _*)
        frame.withColumn("__rn", row_number().over(wDocOrd))
          .withColumn("__cnt", count(lit(1)).over(wDoc))
          .withColumn("__sc",
            sum(col("x") * element_at(wlit, col("bucket").cast("int") + 1)).over(wDocCum))
          .filter(col("__rn") === col("__cnt"))
          .select((Seq(col("doc_id")) ++ (if (carryY) Seq(col("y")) else Nil)
            :+ col("__sc").as("score")): _*)
      }
      var w = Array.fill(dim)(0.0)
      for (_ <- 1 to iters) {
        // exact iteration in ONE pass over the cached frame (round-17,
        // guide §2.4: the old shape paid a doc-window exchange, a
        // doc_id re-join and a bucket-window exchange per iteration —
        // now only the bucket exchange remains): the score is the SAME
        // bucket-ordered fold as the cumulative form taken at its last
        // row (an unbounded frame over a sorted partition folds in
        // sort order — bit-identical float sequence), attached to
        // every cell of the doc in place of the join, and the gradient
        // is the same doc-ordered fold per bucket.
        val gFrame =
          if (exact) {
            val wlit = array(w.map(lit).toIndexedSeq: _*)
            xy.withColumn("__sc",
                sum(col("x") * element_at(wlit, col("bucket").cast("int") + 1)).over(wDocAll))
              .withColumn("__e", col("__sc") - col("y"))
              .withColumn("__rn", row_number().over(wBOrd))
              .withColumn("__sr", sum(col("__e") * col("x")).over(wBAll))
              .filter(col("__rn") === 1)
              .select(col("bucket"), col("__sr"))
          } else {
            val errs = scored(xy, w, carryY = true)
              .select(col("doc_id"), (col("score") - col("y")).as("err"))
            xy.join(errs, "doc_id")
              .groupBy(col("bucket"))
              .agg(sum(col("err") * col("x")).as("__sr"))
          }
        val g = gFrame.collect()
          .map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
        w = Array.tabulate(dim)(b => w(b) - lr * g.getOrElse(b, 0.0) / n)
      }
      // score the WHOLE corpus with the fitted weights; y rides along
      // left-joined so unlabeled docs keep score but null y/correct.
      // Materialize before the cache drops (the t25 finally-unpersist rule).
      graft.Checkpoints.stabilize(scored(x, w)
        .join(lab, Seq("doc_id"), "left")
        .withColumn("predicted", col("score") >= 0)
        .withColumn("correct", (col("score") >= 0) === (col("y") > 0))
        .select(col("doc_id"), col("y"), col("score"), col("predicted"), col("correct")))
    } finally xy.unpersist()
  }

  /** #30f the hashed-feature classifier distilling a RULE teacher: the
    * weak label is t02's stopword-ratio gate (ratio of {a, the} tokens
    * ≥ the corpus median — a linear functional of token frequencies, so
    * a linear student can actually learn it; the corpus' `lang` column
    * is synthetic-random and unlearnable from text, measured 0.56
    * ceiling). dim 64, lr 50, 5 GD iterations → accuracy ~0.80 vs the
    * 0.50 balanced baseline, visible per row in `correct`. The oracle
    * replays the ENTIRE loop as chained CTEs (one score fold + one
    * gradient fold + one weight update per iteration, every float the
    * identical op sequence). */
  private val t26: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val ws = words(col("text"))
    val ratioed = docs
      .filter(size(ws) > 0)
      .select(col("doc_id"),
        (size(filter(ws, w => w.isin("a", "the"))).cast("double") /
          size(ws).cast("double")).as("ratio"))
    val med = ratioed.agg(expr("percentile(ratio, 0.5D)").as("med"))
    val labels = ratioed.crossJoin(broadcast(med))
      .select(col("doc_id"),
        when(col("ratio") >= col("med"), 1.0).otherwise(-1.0).as("y"))
    hashClassifierOf(docs, "doc_id", "text", labels, "y",
        dim = 64, lr = 50.0, iters = 5)
      .select(col("doc_id"), col("y"), r6(col("score")).as("score"),
        col("predicted"), col("correct"))
      .orderBy("doc_id")
  }

  private val t26Sql: String = {
    val iters = 5
    val sb = new StringBuilder
    sb ++= """WITH toks AS (
             |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
             |  FROM documents),
             |hh AS (
             |  SELECT doc_id,
             |    CAST(('0x' || substr(md5('graft:' || tok), 1, 15)) AS BIGINT) % 64 AS bucket,
             |    CASE WHEN CAST(('0x' || substr(md5('sgn:' || tok), 1, 15)) AS BIGINT) % 2 = 0
             |      THEN 1 ELSE -1 END AS sgn
             |  FROM toks),
             |cells AS (SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS feat,
             |    count(*) AS n_tokens
             |  FROM hh GROUP BY 1, 2),
             |rat AS (SELECT doc_id,
             |    CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
             |      w -> w IN ('a', 'the'))) AS DOUBLE)
             |      / CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) AS ratio
             |  FROM documents
             |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0),
             |med AS (SELECT quantile_cont(ratio, 0.5) AS med FROM rat),
             |lab AS (SELECT doc_id,
             |    CASE WHEN ratio >= (SELECT med FROM med) THEN 1.0 ELSE -1.0 END AS y
             |  FROM rat),
             |x AS (SELECT c.doc_id, c.bucket,
             |    CAST(feat AS DOUBLE) / CAST(sum(n_tokens) OVER (PARTITION BY c.doc_id) AS DOUBLE) AS x,
             |    y
             |  FROM cells c JOIN lab ON lab.doc_id = c.doc_id),
             |nn AS (SELECT count(DISTINCT doc_id) AS n FROM x),
             |js AS (SELECT unnest(range(0, 64)) AS bucket),
             |w0 AS (SELECT bucket, CAST(0.0 AS DOUBLE) AS wj FROM js),
             |""".stripMargin
    def scoreCte(name: String, wTab: String): String =
      s"""$name AS (SELECT doc_id, y, sr AS score FROM (
         |    SELECT x.doc_id, x.y, row_number() OVER o AS rn,
         |      count(*) OVER (PARTITION BY x.doc_id) AS cnt,
         |      sum(x.x * w.wj) OVER w2 AS sr
         |    FROM x JOIN $wTab w ON w.bucket = x.bucket
         |    WINDOW o AS (PARTITION BY x.doc_id ORDER BY x.bucket),
         |      w2 AS (PARTITION BY x.doc_id ORDER BY x.bucket
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |  WHERE rn = cnt)""".stripMargin
    for (t <- 1 to iters) {
      sb ++= scoreCte(s"sc$t", s"w${t - 1}")
      sb ++= s""",
                |g$t AS (SELECT bucket, sr FROM (
                |    SELECT x.bucket, row_number() OVER o AS rn,
                |      count(*) OVER (PARTITION BY x.bucket) AS cnt,
                |      sum((s.score - s.y) * x.x) OVER w2 AS sr
                |    FROM x JOIN sc$t s ON s.doc_id = x.doc_id
                |    WINDOW o AS (PARTITION BY x.bucket ORDER BY x.doc_id),
                |      w2 AS (PARTITION BY x.bucket ORDER BY x.doc_id
                |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                |  WHERE rn = cnt),
                |w$t AS (SELECT p.bucket, p.wj - 50.0 * coalesce(g$t.sr, 0.0) / (SELECT n FROM nn) AS wj
                |  FROM w${t - 1} p LEFT JOIN g$t USING (bucket)),
                |""".stripMargin
    }
    sb ++= scoreCte("scf", s"w$iters")
    sb ++= """
             |SELECT doc_id, y, round(score, 6) AS score,
             |  score >= 0 AS predicted, (score >= 0) = (y > 0) AS correct
             |FROM scf
             |ORDER BY doc_id""".stripMargin
    sb.toString
  }

  /** Per-source term-distribution drift vs the corpus (public operator
    * behind [[graft.Graft.termDrift]]): restrict to the corpus'
    * top-`topV` terms (deterministic (count desc, term) pick), Laplace
    * +1 smooth both distributions over that vocabulary, and report per
    * source
    *   kl  KL(p_source ‖ p_corpus) = Σ p·ln(p/q)   (nats),
    *   tv  total-variation distance = ½·Σ |p − q| ∈ [0, 1].
    * The drift monitor a corpus pipeline runs per landing: "did this
    * source's language shift?" — the same scan also guards a new
    * snapshot against its predecessor (pass the union of both).
    *
    * Scale stance: ONE token-level (source, term) count agg (map-side
    * combine absorbs the explode); everything after — corpus rollup,
    * top-V pick, source×vocab grid, the divergence folds — is
    * vocabulary-sized. Zero cells materialize via the grid cross-join
    * (sources × topV rows), so absent terms contribute their smoothed
    * mass exactly. Probabilities are long/long divisions; the two
    * divergence sums run as cumulative folds in term order taken at
    * each source's last row (q33 rule). */
  def termDriftOf(docs: DataFrame, srcCol: String, textCol: String,
                  topV: Int): DataFrame = {
    require(topV >= 1, s"topV must be >= 1, got $topV")
    val st = docs
      .select(col(srcCol).as("src"), explode(words(col(textCol))).as("term"))
      .groupBy(col("src"), col("term")).agg(count(lit(1)).as("c_st"))
    val corpus = st.groupBy(col("term")).agg(sum(col("c_st")).as("c_t"))
    val top = corpus.orderBy(col("c_t").desc, col("term")).limit(topV)
    val total = top.agg(sum(col("c_t")).as("n_corpus"))
    val sources = st.select(col("src")).distinct()
    val grid = sources.crossJoin(broadcast(top)).crossJoin(broadcast(total))
    val cells = grid.join(st, Seq("src", "term"), "left")
      .withColumn("c", coalesce(col("c_st"), lit(0L)))
      .withColumn("n_s", sum(col("c")).over(Window.partitionBy(col("src"))))
      .withColumn("v", count(lit(1)).over(Window.partitionBy(col("src"))))
    val p = (col("c") + 1).cast("double") / (col("n_s") + col("v")).cast("double")
    val q = (col("c_t") + 1).cast("double") / (col("n_corpus") + col("v")).cast("double")
    val wOrd = Window.partitionBy(col("src")).orderBy(col("term"))
    val cum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("ckl", sum(p * log(p / q)).over(cum))
      .withColumn("ctv", sum(abs(p - q)).over(cum))
      .filter(col("rn") === col("v"))
      .select(col("src").as("source"), col("v").as("n_terms"),
        col("n_s").as("n_tokens"), col("ckl").as("kl"),
        (col("ctv") * 0.5).as("tv"))
  }

  /** #30d per-source term drift vs the corpus, top-200 vocabulary. */
  private val t14: Q = (s, dir) =>
    termDriftOf(t(s, dir, "documents"), "source", "text", topV = 200)
      .select(col("source"), col("n_terms"), col("n_tokens"),
        r6(col("kl")).as("kl"), r6(col("tv")).as("tv"))
      .orderBy("source")

  private val t14Sql =
    """WITH tok AS (SELECT source AS src,
      |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      |  FROM documents),
      |st AS (SELECT src, term, count(*) AS c_st FROM tok GROUP BY 1, 2),
      |corpus AS (SELECT term, sum(c_st) AS c_t FROM st GROUP BY 1),
      |top AS (SELECT term, c_t FROM corpus ORDER BY c_t DESC, term LIMIT 200),
      |tot AS (SELECT sum(c_t) AS n_corpus FROM top),
      |srcs AS (SELECT DISTINCT src FROM st),
      |grid AS (SELECT srcs.src, top.term, top.c_t, tot.n_corpus
      |  FROM srcs CROSS JOIN top CROSS JOIN tot),
      |cells AS (
      |  SELECT g.src, g.term, g.c_t, g.n_corpus,
      |    coalesce(st.c_st, 0) AS c,
      |    CAST(sum(coalesce(st.c_st, 0)) OVER (PARTITION BY g.src) AS BIGINT) AS n_s,
      |    count(*) OVER (PARTITION BY g.src) AS v
      |  FROM grid g LEFT JOIN st ON g.src = st.src AND g.term = st.term),
      |f AS (
      |  SELECT src, n_s, v,
      |    row_number() OVER o AS rn,
      |    sum(((c + 1) / CAST(n_s + v AS DOUBLE))
      |      * ln(((c + 1) / CAST(n_s + v AS DOUBLE))
      |          / ((c_t + 1) / CAST(n_corpus + v AS DOUBLE)))) OVER w AS ckl,
      |    sum(abs(((c + 1) / CAST(n_s + v AS DOUBLE))
      |          - ((c_t + 1) / CAST(n_corpus + v AS DOUBLE)))) OVER w AS ctv
      |  FROM cells
      |  WINDOW o AS (PARTITION BY src ORDER BY term),
      |    w AS (PARTITION BY src ORDER BY term
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT src AS source, v AS n_terms, n_s AS n_tokens,
      |  round(ckl, 6) AS kl, round(ctv * 0.5, 6) AS tv
      |FROM f WHERE rn = v
      |ORDER BY source""".stripMargin

  /** Sliding-window document chunking (public operator behind
    * [[graft.Graft.chunkText]]) — the retrieval-indexing shape: split
    * each doc into overlapping `size`-token windows every `stride`
    * tokens (stride < size ⇒ overlap, so a fact straddling a chunk
    * boundary survives in the neighbor). The chunk table is what an
    * embedding/ANN index (s01–s06) ingests; chunk provenance
    * (doc_id, chunk_id, start_token) rides every row so retrieval can
    * cite back into the source. Emits per chunk: `doc_id` (the id
    * column), `chunk_id` (0-based), `start_token`, `n_tokens`
    * (tail chunks may be short), `chunk_text` (space-joined tokens).
    *
    * Chunk count is the integer closed form
    * ceil(max(n − size, 0)/stride) + 1 for n > 0 (empty docs emit no
    * chunks) — every chunk starts strictly inside the token list, and
    * the last window reaches the final token.
    *
    * Scale: map-side explode only — ≤ n/stride + 1 rows per doc, no
    * shuffle anywhere (the gate's presentation sort is the only
    * exchange); the token array is built once per row and sliced per
    * chunk. The m05 overlapping-windows shape applied to text. */
  def chunkTextOf(df: DataFrame, idCol: String, textCol: String,
                  size: Int, stride: Int): DataFrame = {
    require(size >= 1, s"size must be >= 1, got $size")
    require(stride >= 1 && stride <= size,
      s"stride must be in [1, size], got $stride (size $size)")
    // functions.size is shadowed by the `size` parameter in this scope
    val alen = org.apache.spark.sql.functions.size _
    // ceil-div on non-negative ints: floor((x + s−1)/s); exact in double
    val nChunks = (floor((greatest(col("__n") - size, lit(0)) + (stride - 1))
      / lit(stride.toDouble)).cast("int") + 1)
    // slice BEFORE exploding: the exploded rows carry only their own
    // chunk (O(n·size/stride) total tokens); exploding chunk ids first
    // and slicing after would materialize the full token array once
    // per chunk row — O(n²/stride) for long documents
    df.select(col(idCol).as("doc_id"), F.words(col(textCol)).as("__toks"))
      .withColumn("__n", alen(col("__toks")))
      .filter(col("__n") > 0)
      .withColumn("__chunks", transform(sequence(lit(0), nChunks - 1),
        i => slice(col("__toks"), i * stride + 1, lit(size))))
      .select(col("doc_id"), posexplode(col("__chunks")).as(Seq("chunk_id", "__chunk")))
      .select(col("doc_id"), col("chunk_id"), (col("chunk_id") * stride).as("start_token"),
        alen(col("__chunk")).as("n_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }

  /** #t15 64-token chunks every 48 tokens (16-token overlap) over the
    * documents corpus; chunk text crosses the gate as md5. */
  private val t15: Q = (s, dir) =>
    chunkTextOf(t(s, dir, "documents"), "doc_id", "text", size = 64, stride = 48)
      .select(col("doc_id"), col("chunk_id"), col("start_token"),
        col("n_tokens").cast("long").as("n_tokens"),
        md5(col("chunk_text")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")

  private val t15Sql =
    """WITH d AS (
      |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
      |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, toks, n,
      |    unnest(range(0, CAST((greatest(n - 64, 0) + 47) // 48 AS INT) + 1)) AS chunk_id
      |  FROM d WHERE n > 0),
      |s AS (
      |  SELECT doc_id, chunk_id, chunk_id * 48 AS start_token,
      |    toks[chunk_id * 48 + 1 : chunk_id * 48 + 64] AS chunk
      |  FROM c)
      |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
      |  CAST(start_token AS INT) AS start_token,
      |  CAST(len(chunk) AS BIGINT) AS n_tokens,
      |  md5(array_to_string(chunk, ' ')) AS chunk_md5
      |FROM s
      |ORDER BY doc_id, chunk_id""".stripMargin

  /** HTML → text extraction (public operator behind
    * [[graft.Graft.htmlToText]]) — the FIRST stage of every web-corpus
    * pipeline (the trafilatura/jusText role, reduced to its portable
    * regex core): drop script/style/comment blocks wholesale (their
    * CONTENT is not text), strip the remaining tags, decode the six
    * ubiquitous entities, collapse whitespace. Returns the cleaned
    * text + raw/clean char counts (the shrink ratio is itself a
    * quality signal: markup-heavy pages shrink more).
    *
    * Map-only, runs at scan speed; every pattern stays inside the
    * Java∩RE2-identical regex subset (the t07 rule) — `(?s)` dotall,
    * non-greedy block bodies, no lookarounds — so the oracle applies
    * the identical automaton. Entity decode is LITERAL chained
    * replace, not regex. */
  def htmlToTextOf(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val noBlocks = regexp_replace(regexp_replace(regexp_replace(
      col(htmlCol),
      "(?s)<script[^>]*>.*?</script>", " "),
      "(?s)<style[^>]*>.*?</style>", " "),
      "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noBlocks, "<[^>]+>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) => replace(c, lit(from), lit(to)) }
    val clean = trim(regexp_replace(decoded, "\\s+", " "))
    df.select(col(idCol).as("doc_id"),
      length(col(htmlCol)).as("raw_chars"),
      clean.as("clean_text"),
      length(clean).as("clean_chars"))
  }

  /** #t16 HTML extraction over an in-plan synthetic wrap of the
    * documents corpus (script + title + entities + comment + footer —
    * the shapes a landed web page actually has), so the gate
    * exercises block-drop, tag-strip, entity-decode and collapse end
    * to end; clean text crosses the gate as md5. */
  private val t16: Q = (s, dir) => {
    val html = concat(
      lit("<html><head><script>var x = \"q&a\";</script><title>T&amp;"),
      col("doc_id").cast("string"),
      lit("</title></head><body><p>"), col("text"),
      lit("</p><!-- hidden --><div class=\"f\">foot&nbsp;note</div></body></html>"))
    htmlToTextOf(t(s, dir, "documents").withColumn("html", html), "doc_id", "html")
      .select(col("doc_id"), col("raw_chars").cast("long").as("raw_chars"),
        col("clean_chars").cast("long").as("clean_chars"),
        md5(col("clean_text")).as("clean_md5"))
      .orderBy("doc_id")
  }

  private val t16Sql =
    """WITH h AS (
      |  SELECT doc_id,
      |    '<html><head><script>var x = "q&a";</script><title>T&amp;' ||
      |    CAST(doc_id AS VARCHAR) || '</title></head><body><p>' || text ||
      |    '</p><!-- hidden --><div class="f">foot&nbsp;note</div></body></html>' AS html
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, html,
      |    regexp_replace(regexp_replace(regexp_replace(html,
      |      '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
      |      '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
      |      '(?s)<!--.*?-->', ' ', 'g') AS nb
      |  FROM h),
      |t AS (
      |  SELECT doc_id, html,
      |    replace(replace(replace(replace(replace(replace(
      |      regexp_replace(nb, '<[^>]+>', ' ', 'g'),
      |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
      |      '&quot;', '"'), '&#39;', ''''), '&amp;', '&') AS dec
      |  FROM s),
      |c AS (
      |  SELECT doc_id, CAST(length(html) AS BIGINT) AS raw_chars,
      |    trim(regexp_replace(dec, '\s+', ' ', 'g')) AS clean_text
      |  FROM t)
      |SELECT doc_id, raw_chars,
      |  CAST(length(clean_text) AS BIGINT) AS clean_chars,
      |  md5(clean_text) AS clean_md5
      |FROM c
      |ORDER BY doc_id""".stripMargin

  /** DSIR importance weights + deterministic resample (public operator
    * behind [[graft.Graft.dsirSelect]]) — Data Selection via Importance
    * Resampling (Xie et al. 2023, arXiv:2302.03169): fit hashed-bigram
    * bag models on a small TARGET corpus and on the candidate pool,
    * score every candidate doc by the log importance ratio
    *   lr(doc) = Σ_bigrams [ln p_target(bucket) − ln p_pool(bucket)]
    * (add-1 smoothing over the `buckets`-bucket hashed vocabulary),
    * then draw `sampleN` docs WITHOUT replacement with probability
    * ∝ exp(lr) via Gumbel-top-k — key = lr + (−ln(−ln u)) with the
    * md5 uniform u (the ds12 determinism rule: reruns, retries and
    * cluster size cannot change the draw). Returns every candidate
    * with ≥1 bigram: (doc_id, n_bigrams, logratio, key, selected 0/1).
    *
    * Scale shape: both models are ≤`buckets` rows (map-side-combined
    * count shuffles — the token stream itself never shuffles) and
    * BROADCAST into the scoring pass along with the two 1-row totals;
    * per-doc Σ is a CUMULATIVE fold in bigram order (the q33/t08
    * bit-reproducibility rule, not a hash-agg float sum); the top-k
    * draw is a TakeOrdered, no full sort. */
  def dsirSelectOf(target: DataFrame, pool: DataFrame, idCol: String,
                   textCol: String, buckets: Int = 4096,
                   salt: String = "dsir", sampleN: Int = 50): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    require(sampleN >= 1, s"sampleN must be >= 1, got $sampleN")
    def stream(df: DataFrame): DataFrame = df
      .select(col(idCol).as("doc_id"), words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= 2)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(__ws)-2), i -> concat_ws(' ', __ws[i], __ws[i+1]))"))
        .as(Seq("pos", "__bg")))
      .withColumn("b", hash60(col("__bg")) % buckets)
      .select(col("doc_id"), col("pos"), col("b"))
    val ts = stream(target)
    val ps = graft.Checkpoints.stabilize(stream(pool))
    val tc = ts.groupBy(col("b")).agg(count(lit(1)).as("__tc"))
    val tn = ts.agg(count(lit(1)).as("__tn"))
    val pc = ps.groupBy(col("b")).agg(count(lit(1)).as("__pc"))
    val pn = ps.agg(count(lit(1)).as("__pn"))
    val ord = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = ps
      .join(broadcast(tc), Seq("b"), "left")
      .join(broadcast(pc), Seq("b"), "left")
      .crossJoin(broadcast(tn)).crossJoin(broadcast(pn))
      .withColumn("__lp",
        log((coalesce(col("__tc"), lit(0L)) + lit(1.0)) / (col("__tn") + lit(buckets.toDouble))) -
        log((coalesce(col("__pc"), lit(0L)) + lit(1.0)) / (col("__pn") + lit(buckets.toDouble))))
      .withColumn("__rn", row_number().over(ord))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("__cum", sum(col("__lp")).over(cum))
      .filter(col("__rn") === col("__n"))
      .select(col("doc_id"), col("__n").cast("long").as("n_bigrams"),
        col("__cum").as("logratio"))
    val u = (hash60(concat(lit(salt + ":"), col("doc_id").cast("string"))) + 1)
      .cast("double") / lit(1152921504606846976.0)
    val keyed = scored.withColumn("key", col("logratio") + -log(-log(u)))
    val sel = keyed.orderBy(col("key").desc, col("doc_id")).limit(sampleN)
      .select(col("doc_id"), lit(1).as("selected"))
    keyed.join(sel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bigrams"), r6(col("logratio")).as("logratio"),
        r6(col("key")).as("key"), coalesce(col("selected"), lit(0)).as("selected"))
      .orderBy("doc_id")
  }

  /** #t17 DSIR selection on the documents corpus: target = the English
    * docs, pool = everything else, 4096 hashed-bigram buckets, 50 drawn. */
  private val t17: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    dsirSelectOf(docs.filter(col("lang") === "en"), docs.filter(col("lang") =!= "en"),
      "doc_id", "text")
  }

  private val t17Sql =
    """WITH tgt AS (SELECT doc_id, text FROM documents WHERE lang = 'en'),
      |pool AS (SELECT doc_id, text FROM documents WHERE lang <> 'en'),
      |tw AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM tgt),
      |tbu AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-1),
      |    i -> struct_pack(pos := i, bg := ws[i] || ' ' || ws[i+1]))) AS u
      |  FROM tw WHERE len(ws) >= 2),
      |tbs AS (SELECT doc_id, u.pos AS pos,
      |    CAST(('0x' || substr(md5(u.bg), 1, 15)) AS BIGINT) % 4096 AS b FROM tbu),
      |pw AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM pool),
      |pbu AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws)-1),
      |    i -> struct_pack(pos := i, bg := ws[i] || ' ' || ws[i+1]))) AS u
      |  FROM pw WHERE len(ws) >= 2),
      |pbs AS (SELECT doc_id, u.pos AS pos,
      |    CAST(('0x' || substr(md5(u.bg), 1, 15)) AS BIGINT) % 4096 AS b FROM pbu),
      |tc AS (SELECT b, count(*) AS tcnt FROM tbs GROUP BY 1),
      |tn AS (SELECT count(*) AS n FROM tbs),
      |pc AS (SELECT b, count(*) AS pcnt FROM pbs GROUP BY 1),
      |pn AS (SELECT count(*) AS n FROM pbs),
      |j AS (SELECT s.doc_id, s.pos,
      |    ln((coalesce(tcnt, 0) + 1.0) / (tn.n + 4096.0))
      |      - ln((coalesce(pcnt, 0) + 1.0) / (pn.n + 4096.0)) AS lp
      |  FROM pbs s LEFT JOIN tc ON s.b = tc.b LEFT JOIN pc ON s.b = pc.b, tn, pn),
      |f AS (SELECT doc_id,
      |    row_number() OVER o AS rn,
      |    count(*) OVER (PARTITION BY doc_id) AS n,
      |    sum(lp) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM j
      |  WINDOW o AS (PARTITION BY doc_id ORDER BY pos)),
      |g AS (SELECT doc_id, CAST(n AS BIGINT) AS n_bigrams, cum AS logratio,
      |    cum + (-ln(-ln((CAST(('0x' || substr(md5('dsir:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
      |      / 1152921504606846976.0))) AS key
      |  FROM f WHERE rn = n),
      |sel AS (SELECT doc_id FROM g ORDER BY key DESC, doc_id LIMIT 50)
      |SELECT g.doc_id AS doc_id, n_bigrams, round(logratio, 6) AS logratio,
      |  round(key, 6) AS key,
      |  CAST(CASE WHEN sel.doc_id IS NULL THEN 0 ELSE 1 END AS INT) AS selected
      |FROM g LEFT JOIN sel ON g.doc_id = sel.doc_id
      |ORDER BY doc_id""".stripMargin

  /** Gopher-style quality RULE SET over ANY (id, text) table (public
    * operator behind [[graft.Graft.gopherRules]]) — the named
    * hard-filter battery of Rae et al. 2021 §A1.1 (the industry
    * default a pretraining pipeline runs before any model-based
    * scoring), each rule an explicit boolean next to its measured
    * signal so the report doubles as the tuning artifact:
    *   ok_words    word count within [minWords, maxWords];
    *   ok_wordlen  mean word length within [3, 10] — gibberish and
    *               concatenation both break it;
    *   ok_symbols  symbol-to-char ratio ≤ 0.1 (t02's punct measure);
    *   ok_alpha    ≥ 70% of tokens contain a letter (tables of
    *               numbers fail);
    *   ok_stop     ≥ 2 DISTINCT stopwords present (the Gopher "real
    *               prose" tripwire).
    * `passed` ANDs all five. Every signal is integer counts or an
    * int/int divide — no float boundary can disagree between engines;
    * the stopword hits are a fixed sum of array_contains bits (no
    * engine-specific set ops). Map-only — scan speed at any scale. */
  def gopherRulesOf(docs: DataFrame, idCol: String, textCol: String,
                    minWords: Long = 20, maxWords: Long = 80): DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"need 1 <= minWords <= maxWords, got [$minWords, $maxWords]")
    val stopHits = stop("en")
      .map(w => when(array_contains(col("__ws"), w), 1L).otherwise(0L))
      .reduce(_ + _)
    docs.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .withColumn("__ws", words(col("__text")))
      .filter(size(col("__ws")) > 0)
      .withColumn("n_words", size(col("__ws")).cast("long"))
      .withColumn("mean_word_len",
        expr("graft_total_strlen(__ws)") / col("n_words").cast("double"))
      .withColumn("symbol_ratio",
        length(regexp_replace(col("__text"), "[a-zA-Z0-9\\s]", "")) / length(col("__text")).cast("double"))
      .withColumn("alpha_frac",
        expr("size(filter(__ws, w -> w rlike '[a-z]'))") / col("n_words").cast("double"))
      .withColumn("stop_hits", stopHits)
      .withColumn("ok_words", col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_wordlen", col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0)
      .withColumn("ok_symbols", col("symbol_ratio") <= 0.1)
      .withColumn("ok_alpha", col("alpha_frac") >= 0.7)
      .withColumn("ok_stop", col("stop_hits") >= 2L)
      .withColumn("passed",
        col("ok_words") && col("ok_wordlen") && col("ok_symbols") &&
          col("ok_alpha") && col("ok_stop"))
      .drop("__text", "__ws")
  }

  /** #t24 the Gopher rule battery over the documents corpus, bounds
    * adapted to the synthetic 10–99-word docs so both verdicts occur. */
  private val t24: Q = (s, dir) =>
    gopherRulesOf(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_words"), r6(col("mean_word_len")).as("mean_word_len"),
        r6(col("symbol_ratio")).as("symbol_ratio"), r6(col("alpha_frac")).as("alpha_frac"),
        col("stop_hits"), col("ok_words"), col("ok_wordlen"), col("ok_symbols"),
        col("ok_alpha"), col("ok_stop"), col("passed"))
      .orderBy("doc_id")

  private val t24Sql = {
    val stopSum = stop("en")
      .map(w => s"CASE WHEN list_contains(ws, '$w') THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH w AS (SELECT doc_id, text, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws FROM documents),
       |f AS (SELECT doc_id,
       |    CAST(len(ws) AS BIGINT) AS n_words,
       |    CAST(list_reduce(list_transform(ws, w -> CAST(length(w) AS BIGINT)), (a, b) -> a + b) AS BIGINT)
       |      / CAST(len(ws) AS DOUBLE) AS mean_word_len,
       |    length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) / CAST(length(text) AS DOUBLE) AS symbol_ratio,
       |    len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) / CAST(len(ws) AS DOUBLE) AS alpha_frac,
       |    CAST($stopSum AS BIGINT) AS stop_hits
       |  FROM w WHERE len(ws) > 0),
       |g AS (SELECT *,
       |    (n_words >= 20 AND n_words <= 80) AS ok_words,
       |    (mean_word_len >= 3.0 AND mean_word_len <= 10.0) AS ok_wordlen,
       |    (symbol_ratio <= 0.1) AS ok_symbols,
       |    (alpha_frac >= 0.7) AS ok_alpha,
       |    (stop_hits >= 2) AS ok_stop
       |  FROM f)
       |SELECT doc_id, n_words, round(mean_word_len, 6) AS mean_word_len,
       |  round(symbol_ratio, 6) AS symbol_ratio, round(alpha_frac, 6) AS alpha_frac,
       |  stop_hits, ok_words, ok_wordlen, ok_symbols, ok_alpha, ok_stop,
       |  (ok_words AND ok_wordlen AND ok_symbols AND ok_alpha AND ok_stop) AS passed
       |FROM g
       |ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "t24_gopher_rules" -> t24,
    "t17_dsir" -> t17,
    "t16_html_strip" -> t16,
    "t15_chunks" -> t15,
    "t14_term_drift" -> t14,
    "t13_feature_hash" -> t13,
    "t12_bpe_train" -> t12,
    "t11_bm25" -> t11,
    "p01_data_pipeline" -> p01,
    "t10_winnow_pairs" -> t10,
    "t07_pii_redact" -> t07,
    "t08_bigram_lm" -> t08,
    "t23_ppl_buckets" -> t23,
    "t09_tfidf" -> t09,
    "t25_rake" -> t25,
    "t26_hash_classifier" -> t26,
    "t01_lang_id" -> t01,
    "t02_quality_score" -> t02,
    "t03_token_count" -> t03,
    "t04_fingerprint" -> t04,
    "t05_repetition" -> t05,
    "t06_normalize" -> t06)

  val oracle: Map[String, String] = Map(
    "t17_dsir" -> t17Sql,
    "t16_html_strip" -> t16Sql,
    "t15_chunks" -> t15Sql,
    "t14_term_drift" -> t14Sql,
    "t13_feature_hash" -> t13Sql,
    "t11_bm25" -> t11Sql,
    "p01_data_pipeline" -> p01Sql,
    "t10_winnow_pairs" -> t10Sql,
    "t07_pii_redact" -> t07Sql,
    "t08_bigram_lm" -> t08Sql,
    "t23_ppl_buckets" -> t23Sql,
    "t09_tfidf" -> t09Sql,
    "t25_rake" -> t25Sql,
    "t24_gopher_rules" -> t24Sql,
    "t26_hash_classifier" -> t26Sql,
    "t01_lang_id" -> t01Sql,
    "t02_quality_score" -> t02Sql,
    "t03_token_count" -> t03Sql,
    "t04_fingerprint" -> t04Sql,
    "t05_repetition" -> t05Sql,
    "t06_normalize" -> t06Sql)
}
