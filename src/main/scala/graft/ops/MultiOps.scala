package graft.ops

import graft.{F, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One binary payload row for m02's typed partition pipeline. */
case class BinDoc(doc_id: Long, payload: Array[Byte])

/** Per-batch extracted features (m02 output). */
case class BinFeature(doc_id: Long, batch_id: Long, byte_len: Long, checksum: Long)

/** Multimodal columns (SURVEY.md §2 #31-32): image/audio/video payloads
  * as opaque `binary` columns with typed metadata.
  *
  * The container has no image/audio codecs, so the decode step is a
  * clearly-marked deterministic stub; what is real and tested is the
  * Spark-side plumbing a multimodal pipeline needs — binary column
  * handling, metadata extraction at scan speed (m01), and batched
  * per-partition feature extraction with a typed Dataset (m02, the
  * `mapPartitions` shape a Python `mapInPandas` decoder would plug
  * into).
  *
  * The testdata ships no binary table, so payloads are derived
  * deterministically from `documents.text` (UTF-8 bytes) — the plumbing
  * is identical for real media bytes.
  */
object MultiOps {
  type Q = (SparkSession, String) => DataFrame
  import Tables.t
  import F._

  /** #31 binary metadata extract: byte length, magic-byte prefix (hex of
    * the first 4 bytes), and a STUB decode — width/height derived from
    * the payload hash, standing in for an image header parse. Everything
    * is a codegen'd per-row expression; at 100 TB this runs at scan
    * speed with only the metadata columns materialized. */
  private val m01: Q = (s, dir) => {
    t(s, dir, "documents")
      .withColumn("payload", col("text").cast("binary"))
      .withColumn("byte_len", length(col("payload")).cast("long"))
      .withColumn("magic_hex", substring(hex(col("payload")), 1, 8))
      .withColumn("h", hash60(col("text")))
      // STUB decode: deterministic fake dimensions in lieu of a codec
      .withColumn("decoded_w", (pmod(col("h"), lit(1024L)) + 1L).cast("long"))
      .withColumn("decoded_h", (pmod(expr("shiftright(h, 10)"), lit(1024L)) + 1L).cast("long"))
      .select(col("doc_id"), col("byte_len"), col("magic_hex"), col("decoded_w"), col("decoded_h"))
      .orderBy("doc_id")
  }

  private val m01Sql =
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      |  substr(hex(encode(text)), 1, 8) AS magic_hex,
      |  CAST((CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) % 1024) + 1 AS BIGINT) AS decoded_w,
      |  CAST(((CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) >> 10) % 1024) + 1 AS BIGINT) AS decoded_h
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  /** #32 batched per-partition feature extraction (rows-only check +
    * ScalaTest spec): the typed `mapPartitions` shape for a multimodal
    * decoder. Rows stream through in batches of 32 — the batch boundary
    * is where a real pipeline would hand a columnar block to a decode
    * library; the STUB computes a deterministic byte checksum instead.
    * Batch ids are partition-local (stable because the input is
    * repartitioned by doc_id range), features are per-row, and nothing
    * is collected to the driver. */
  private val m02: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    val docs = t(s, dir, "documents")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .repartitionByRange(8, col("doc_id"))
      .as[BinDoc]
    docs.mapPartitions { it =>
      it.grouped(32).zipWithIndex.flatMap { case (batch, bi) =>
        // STUB decode boundary: a real pipeline decodes `batch` here
        batch.map { d =>
          var sum = 0L
          var i = 0
          while (i < d.payload.length) { sum += (d.payload(i) & 0xff).toLong * (i + 1); i += 1 }
          BinFeature(d.doc_id, bi.toLong, d.payload.length.toLong, sum)
        }
      }
    }.toDF()
      .select(col("doc_id"), col("batch_id"), col("byte_len"), col("checksum"))
      .orderBy("doc_id")
  }

  /** #32b frame sampling: fixed-size chunking of the binary payload +
    * periodic sample (every 4th 32-byte frame) — the video-frame
    * pipeline shape (seek table + keyframe extraction) as a declarative
    * plan. Bytes travel as hex so both engines slice identically; the
    * per-frame md5 stands in for the decoded-frame feature. */
  private val m03: Q = (s, dir) => {
    t(s, dir, "documents")
      .withColumn("hexs", hex(col("text").cast("binary")))
      .withColumn("nf", ceil(length(col("hexs")) / lit(64.0)).cast("long"))
      .select(col("doc_id"), col("hexs"),
        explode(expr("sequence(CAST(0 AS BIGINT), nf - 1)")).as("frame_idx"))
      .filter(pmod(col("frame_idx"), lit(4L)) === 0)
      .withColumn("frame_hex", expr("substring(hexs, CAST(frame_idx * 64 + 1 AS INT), 64)"))
      .select(col("doc_id"), col("frame_idx"),
        substring(col("frame_hex"), 1, 16).as("frame_prefix"),
        md5(col("frame_hex")).as("frame_md5"))
      .orderBy("doc_id", "frame_idx")
  }

  private val m03Sql =
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hexs FROM documents),
      |f AS (SELECT doc_id, hexs, CAST(ceil(length(hexs) / 64.0) AS BIGINT) AS nf FROM h),
      |e AS (SELECT doc_id, hexs, unnest(generate_series(0, nf - 1)) AS frame_idx FROM f),
      |s AS (SELECT doc_id, frame_idx, substr(hexs, CAST(frame_idx * 64 + 1 AS INTEGER), 64) AS frame_hex
      |  FROM e WHERE frame_idx % 4 = 0)
      |SELECT doc_id, frame_idx, substr(frame_hex, 1, 16) AS frame_prefix, md5(frame_hex) AS frame_md5
      |FROM s
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** #32c patch grid: 2D tiling of the binary payload into a fixed-width
    * grid of 16-byte patches with (row, col) coordinates — the
    * vision-transformer patch-embedding input shape (image → ordered
    * patch sequence) as a declarative plan. Same hex-slicing contract as
    * m03 so both engines tile identically; per-patch md5 stands in for
    * the patch embedding. Scan-speed: explode is the only row
    * amplification and the grid geometry is pure arithmetic. */
  private val m04: Q = (s, dir) => {
    val cols = 8L
    t(s, dir, "documents")
      // empty payload -> np = 0 and Spark's sequence(0, -1) would emit a
      // DESCENDING [0, -1] (step inferred), diverging from DuckDB's empty
      // generate_series — exclude zero-length payloads on both sides
      .filter(length(col("text")) >= 1)
      .withColumn("hexs", hex(col("text").cast("binary")))
      .withColumn("np", ceil(length(col("hexs")) / lit(32.0)).cast("long"))
      .select(col("doc_id"), col("hexs"),
        explode(expr("sequence(CAST(0 AS BIGINT), np - 1)")).as("p"))
      .withColumn("patch_row", expr(s"p div $cols"))
      .withColumn("patch_col", pmod(col("p"), lit(cols)))
      .withColumn("patch_hex", expr("substring(hexs, CAST(p * 32 + 1 AS INT), 32)"))
      .select(col("doc_id"), col("patch_row"), col("patch_col"),
        md5(col("patch_hex")).as("patch_md5"))
      .orderBy("doc_id", "patch_row", "patch_col")
  }

  private val m04Sql =
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hexs FROM documents WHERE length(text) >= 1),
      |f AS (SELECT doc_id, hexs, CAST(ceil(length(hexs) / 32.0) AS BIGINT) AS np FROM h),
      |e AS (SELECT doc_id, hexs, unnest(generate_series(0, np - 1)) AS p FROM f)
      |SELECT doc_id, p // 8 AS patch_row, p % 8 AS patch_col,
      |  md5(substr(hexs, CAST(p * 32 + 1 AS INTEGER), 32)) AS patch_md5
      |FROM e
      |ORDER BY doc_id, patch_row, patch_col""".stripMargin

  /** #32d overlapping analysis windows: 32-byte frames at a 16-byte hop
    * (50% overlap) — the audio STFT / sliding-feature input shape. Only
    * full frames are emitted (the STFT convention); per-window md5
    * stands in for the frame feature. Same hex-slicing contract as
    * m03/m04 so both engines window identically; the explode is the
    * only row amplification (×2 at 50% overlap, a constant). */
  private val m05: Q = (s, dir) => {
    // hex: frame = 64 chars (32 bytes), hop = 32 chars (16 bytes)
    t(s, dir, "documents")
      .withColumn("hexs", hex(col("text").cast("binary")))
      .filter(length(col("hexs")) >= 64)
      .withColumn("nw", (floor((length(col("hexs")) - 64) / lit(32.0)) + 1).cast("long"))
      .select(col("doc_id"), col("hexs"),
        explode(expr("sequence(CAST(0 AS BIGINT), nw - 1)")).as("win_idx"))
      .withColumn("win_hex", expr("substring(hexs, CAST(win_idx * 32 + 1 AS INT), 64)"))
      .select(col("doc_id"), col("win_idx"),
        substring(col("win_hex"), 1, 16).as("win_prefix"),
        md5(col("win_hex")).as("win_md5"))
      .orderBy("doc_id", "win_idx")
  }

  private val m05Sql =
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hexs FROM documents),
      |f AS (SELECT doc_id, hexs,
      |    CAST(floor((length(hexs) - 64) / 32.0) + 1 AS BIGINT) AS nw
      |  FROM h WHERE length(hexs) >= 64),
      |e AS (SELECT doc_id, hexs, unnest(generate_series(0, nw - 1)) AS win_idx FROM f),
      |s AS (SELECT doc_id, win_idx,
      |    substr(hexs, CAST(win_idx * 32 + 1 AS INTEGER), 64) AS win_hex FROM e)
      |SELECT doc_id, win_idx, substr(win_hex, 1, 16) AS win_prefix, md5(win_hex) AS win_md5
      |FROM s
      |ORDER BY doc_id, win_idx""".stripMargin

  /** Content-defined-chunk dedup over ANY (id, binary) table (public
    * operator behind [[graft.Graft.cdcDedup]]) — dedup × multimodal:
    * the storage-dedup measurement every binary-payload lake runs.
    * Each payload is CDC-partitioned by the native `graft_cdc` kernel
    * (Gear rolling hash; boundaries are CONTENT positions, so an
    * inserted byte re-aligns within one chunk instead of shifting
    * every boundary after it — the property fixed-size chunking
    * lacks, proven in spec). Per payload: chunk count, bytes, how
    * many of its chunks also appear in ≥ 1 OTHER payload, and the
    * dedupable-byte ratio. Scale: the chunk-hash frequency table is
    * (distinct-chunk)-sized after the map-side combine — payload
    * bytes never shuffle, only (id, chunk-md5, len) rows. */
  def cdcDedupOf(df: DataFrame, idCol: String, binCol: String,
                 maskBits: Int, minLen: Int, maxLen: Int): DataFrame = {
    val ch = df
      .select(col(idCol).as("__id"),
        explode(expr(s"graft_cdc($binCol, $maskBits, $minLen, $maxLen)")).as("__c"))
      .select(col("__id"), col("__c.md5").as("__h"), col("__c.len").as("__len"))
    // distinct payload count per chunk hash (chunks can repeat INSIDE
    // a payload; sharing means some OTHER payload has it)
    val dfreq = ch.select(col("__id"), col("__h")).distinct()
      .groupBy(col("__h")).agg(count(lit(1)).as("__df"))
    ch.join(dfreq, Seq("__h"))
      .groupBy(col("__id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(col("__len")).cast("long").as("n_bytes"),
        count(when(col("__df") > 1, 1)).as("n_shared_chunks"),
        sum(when(col("__df") > 1, col("__len")).otherwise(lit(0))).cast("long").as("shared_bytes"))
      .withColumn("dedup_ratio", col("shared_bytes") / col("n_bytes").cast("double"))
      .select(col("__id").as(idCol), col("n_chunks"), col("n_bytes"),
        col("n_shared_chunks"), col("shared_bytes"), col("dedup_ratio"))
  }

  /** #32e CDC chunk dedup over the documents payloads (rows-only +
    * spec, like m02 — replaying the Gear fold in the oracle's SQL
    * subset is not practical): ~64-byte content-defined chunks, per
    * payload the chunks-shared-with-other-payloads storage signal.
    * The corpus's planted near-copies share most of their chunks. */
  private val m06: Q = (s, dir) =>
    cdcDedupOf(
      t(s, dir, "documents").withColumn("payload", col("text").cast("binary")),
      "doc_id", "payload", maskBits = 6, minLen = 32, maxLen = 256)
      .select(col("doc_id"), col("n_chunks"), col("n_bytes"),
        col("n_shared_chunks"), col("shared_bytes"), r6(col("dedup_ratio")).as("dedup_ratio"))
      .orderBy("doc_id")

  /** Perceptual average-hash (aHash) over ANY (id, binary) table (public
    * operator behind [[graft.Graft.phash]]) — the image-dedup signal
    * next to m06's byte-exact CDC chunks: `bits` evenly-strided samples
    * of the payload stand in for the downscaled grayscale grid (the
    * decode being stubbed, the SAMPLING/threshold/pack plumbing is the
    * real part — with a codec, the same expression runs on decoded
    * pixels), each bit set iff its sample exceeds the payload mean, the
    * threshold comparison division-free integer math
    * (bits·sample > Σsamples ⟺ sample > mean), packed into one BIGINT.
    * Byte values come off the hex encoding so the oracle replays
    * bit-for-bit. Payloads shorter than 2 bytes are excluded (no
    * stride exists).
    *
    * Plan shape: sample rows fan out MAP-SIDE (one posexplode — the
    * transform array is evaluated exactly once per payload), the mean
    * threshold is a doc-keyed window sum and the pack is an integer
    * agg reusing that partitioning — one shuffle, everything codegen'd.
    * The first cut kept samples/sum/pack as three chained HOF columns;
    * Catalyst's projection collapse inlined the 60-element sample
    * array into EVERY lambda iteration of the downstream aggregates —
    * O(bits³) interpreted ops per row, 207s at sf0.1 vs ~2s for this
    * form. HOF chains that re-reference an array column are a
    * collapse hazard; fan out to rows instead. */
  def phashOf(df: DataFrame, idCol: String, binCol: String,
              bits: Int = 60): DataFrame = {
    require(bits >= 2 && bits <= 60, s"bits must be in [2,60], got $bits")
    val b1 = bits - 1
    df.select(col(idCol).as("doc_id"), hex(col(binCol)).as("__hx"),
        length(col(binCol)).cast("long").as("__n"))
      .filter(col("__n") >= 2)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, $b1), j -> CAST(conv(substr(__hx, CAST((j * (__n - 1)) div $b1 AS INT) * 2 + 1, 2), 16, 10) AS BIGINT))"))
        .as(Seq("j", "b")))
      .withColumn("__sum", sum(col("b")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("b") * bits > col("__sum"), expr("shiftleft(1L, j)"))
        .otherwise(lit(0L))).as("phash"))
  }

  /** Perceptual near-dup pairs at hamming ≤ `maxHamming`, blocked by
    * `chunks` equal bit slices of the phash (the d03 pigeonhole: full
    * recall while maxHamming < chunks — a pair within distance k must
    * agree on ≥ 1 chunk). One self-join keyed (chunk index, chunk
    * value); per-candidate cost is one xor+bit_count. */
  def phashPairsOf(df: DataFrame, idCol: String, binCol: String,
                   bits: Int = 60, chunks: Int = 4,
                   maxHamming: Int = 3): DataFrame = {
    require(bits % chunks == 0, s"chunks must divide bits, got $bits/$chunks")
    require(maxHamming < chunks, "pigeonhole recall needs maxHamming < chunks")
    val w = bits / chunks
    // materialized once: the hash table feeds both self-join sides (the
    // minhashPairsOf sig-checkpoint rule — no cross-side CSE in Catalyst)
    val h = graft.Checkpoints.stabilize(phashOf(df, idCol, binCol, bits))
    val banded = h.withColumn("c", explode(sequence(lit(0), lit(chunks - 1))))
      .withColumn("ck", expr(s"shiftright(phash, c * $w) & ${(1L << w) - 1}"))
    val a = banded.select(col("doc_id").as("doc_a"), col("phash").as("ha"), col("c"), col("ck"))
    val b = banded.select(col("doc_id").as("doc_b"), col("phash").as("hb"), col("c"), col("ck"))
    a.join(b, Seq("c", "ck"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .distinct()
  }

  /** #m07 perceptual near-dup pairs over the documents payloads, with
    * five byte-identical plants (ids+30000, copies of docs 0–4 — the
    * p03 planting rule) guaranteeing observable hamming-0 pairs next
    * to whatever the corpus pairs organically. */
  private val m07: Q = (s, dir) => {
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val plants = base.filter(col("doc_id") < 5)
      .select((col("doc_id") + 30000L).as("doc_id"), col("text"))
    phashPairsOf(base.union(plants).withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload")
      .orderBy("doc_a", "doc_b")
  }

  private val m07Sql =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 30000, text FROM documents WHERE doc_id < 5),
      |p AS (SELECT doc_id, hex(encode(text)) AS hx,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n
      |  FROM aug),
      |sm AS (SELECT doc_id,
      |    list_transform(generate_series(0, 59),
      |      j -> CAST(('0x' || substr(hx, CAST((j * (n - 1)) // 59 AS INT) * 2 + 1, 2)) AS BIGINT)) AS s
      |  FROM p WHERE n >= 2),
      |hs AS (SELECT doc_id, s,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), s), (a, x) -> a + x) AS ssum
      |  FROM sm),
      |ph AS (SELECT doc_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(generate_series(0, 59),
      |        j -> CASE WHEN s[j + 1] * 60 > ssum THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)),
      |      (a, x) -> a + x) AS phash
      |  FROM hs),
      |bands AS (SELECT doc_id, phash, c.c AS c,
      |    (phash >> (c.c * 15)) & 32767 AS ck
      |  FROM ph, range(0, 4) c(c)),
      |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    bit_count(xor(a.phash, b.phash)) AS hamming
      |  FROM bands a JOIN bands b ON a.c = b.c AND a.ck = b.ck AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
      |FROM cand WHERE hamming <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** #m08 per-payload byte-distribution Shannon entropy — the
    * compressibility / corruption signal a binary lake profiles at
    * ingest: near-8-bits/byte payloads are already compressed (or
    * encrypted, or noise — don't re-compress, maybe quarantine);
    * low-entropy payloads are text/structured (compress before
    * storing). Bytes are read WITHOUT a codec or UDF: hex(payload)
    * splits into 2-char pairs by regexp (identical tokenization in
    * both engines), pairs reduce to (payload, byte, count) at the
    * map-side combine, and the −Σ p·ln p fold runs in BYTE order over
    * ≤256 rows per payload (the q84 entropy rule — integer counts
    * first, defined-order float fold). ln 2 is ONE Scala-computed
    * literal in both engines (the q56 shared-irrational rule).
    * fill_ratio = entropy/8 — the fraction of the byte channel
    * actually used. One (payload, byte) shuffle; nothing byte-sized
    * survives past the combine. */
  def byteEntropyOf(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ln2 = math.log(2.0)
    val po = Window.partitionBy(col(idCol)).orderBy(col("byte"))
    val cum = po.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nD = col("__n").cast("double")
    df.select(col(idCol),
        explode(expr(s"regexp_extract_all(hex($payloadCol), '..', 0)")).as("byte"))
      .groupBy(col(idCol), col("byte")).agg(count(lit(1)).as("__c"))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(col(idCol))))
      .withColumn("__k", count(lit(1)).over(Window.partitionBy(col(idCol))))
      .withColumn("__ch", sum(-(col("__c").cast("double") / nD) *
        log(col("__c").cast("double") / nD)).over(cum))
      .withColumn("__last", lead(col("byte"), 1).over(po).isNull)
      .filter(col("__last"))
      .select(col(idCol), col("__n").cast("long").as("byte_len"),
        col("__k").cast("long").as("n_distinct_bytes"),
        (col("__ch") / lit(ln2)).as("entropy_bits"),
        (col("__ch") / lit(ln2) / lit(8.0)).as("fill_ratio"))
  }

  private val m08: Q = (s, dir) =>
    byteEntropyOf(
      t(s, dir, "documents").withColumn("payload", col("text").cast("binary")),
      "doc_id", "payload")
      .select(col("doc_id"), col("byte_len"), col("n_distinct_bytes"),
        r6(col("entropy_bits")).as("entropy_bits"), r6(col("fill_ratio")).as("fill_ratio"))
      .orderBy("doc_id")

  private val m08Sql = {
    val ln2 = math.log(2.0)
    s"""WITH b AS (
       |  SELECT doc_id, unnest(regexp_extract_all(hex(encode(text)), '..')) AS byte
       |  FROM documents),
       |c AS (SELECT doc_id, byte, count(*) AS c FROM b GROUP BY 1, 2),
       |w AS (
       |  SELECT doc_id, byte, c,
       |    sum(c) OVER (PARTITION BY doc_id) AS n,
       |    count(*) OVER (PARTITION BY doc_id) AS k
       |  FROM c),
       |h AS (
       |  SELECT doc_id, n, k,
       |    sum(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
       |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) OVER o AS ch,
       |    lead(byte, 1) OVER po IS NULL AS is_last
       |  FROM w
       |  WINDOW po AS (PARTITION BY doc_id ORDER BY byte),
       |    o AS (PARTITION BY doc_id ORDER BY byte
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT doc_id, CAST(n AS BIGINT) AS byte_len, CAST(k AS BIGINT) AS n_distinct_bytes,
       |  round(ch / $ln2, 6) AS entropy_bits,
       |  round(ch / $ln2 / 8.0, 6) AS fill_ratio
       |FROM h WHERE is_last
       |ORDER BY doc_id""".stripMargin
  }

  /** #32g audio↔video ALIGNMENT: m05's overlapping (audio) windows
    * as-of joined to m03's (video) keyframes ON BYTE POSITION per
    * payload — the AV-sync primitive a video training pipeline runs
    * before pairing caption/audio segments with frames: each window's
    * center locates the latest keyframe at-or-before it, plus the lag
    * between them. The same [[graft.Graft.asofJoin]] machinery the
    * market queries use, exercised on a POSITIONAL (byte-offset) axis
    * instead of a timestamp — the operator is ordering-generic by
    * design and this gate pins that. Frame geometry is m03's (32-byte
    * frames, every 4th is a keyframe), window geometry m05's (32-byte
    * windows, 16-byte hop, center at win·16+16); keyframe 0 sits at
    * byte 0, so every window matches. One as-of union-carry per
    * payload key — row amplification only from the two explodes. */
  private val m09: Q = (s, dir) => {
    val h = t(s, dir, "documents")
      .withColumn("hexs", hex(col("text").cast("binary")))
    val frames = h
      .withColumn("nf", ceil(length(col("hexs")) / lit(64.0)).cast("long"))
      .filter(col("nf") >= 1)
      .select(col("doc_id"), col("hexs"),
        explode(expr("sequence(CAST(0 AS BIGINT), nf - 1)")).as("frame_idx"))
      .filter(pmod(col("frame_idx"), lit(4L)) === 0)
      .withColumn("frame_hex", expr("substring(hexs, CAST(frame_idx * 64 + 1 AS INT), 64)"))
      .select(col("doc_id"), (col("frame_idx") * 32).as("pos"),
        col("frame_idx"), md5(col("frame_hex")).as("frame_md5"))
    val wins = h
      .filter(length(col("hexs")) >= 64)
      .withColumn("nw", (floor((length(col("hexs")) - 64) / lit(32.0)) + 1).cast("long"))
      .select(col("doc_id"),
        explode(expr("sequence(CAST(0 AS BIGINT), nw - 1)")).as("win_idx"))
      .select(col("doc_id"), col("win_idx"), (col("win_idx") * 16 + 16).as("pos"))
    graft.Graft.asofJoin(wins, frames, "doc_id", "pos", Seq("frame_idx", "frame_md5"))
      .select(col("doc_id"), col("win_idx"), col("pos").as("center_byte"),
        col("frame_idx"), col("frame_md5"),
        (col("pos") - col("asof_ts")).as("lag_bytes"))
      .orderBy("doc_id", "win_idx")
  }

  private val m09Sql =
    """WITH h AS (SELECT doc_id, hex(encode(text)) AS hexs FROM documents),
      |fr AS (
      |  SELECT doc_id, frame_idx * 32 AS pos, frame_idx,
      |    md5(substr(hexs, CAST(frame_idx * 64 + 1 AS INTEGER), 64)) AS frame_md5
      |  FROM (SELECT doc_id, hexs,
      |      unnest(generate_series(0, CAST(ceil(length(hexs) / 64.0) AS BIGINT) - 1)) AS frame_idx
      |    FROM h)
      |  WHERE frame_idx % 4 = 0),
      |wn AS (
      |  SELECT doc_id, win_idx, win_idx * 16 + 16 AS pos
      |  FROM (SELECT doc_id,
      |      unnest(generate_series(0, CAST(floor((length(hexs) - 64) / 32.0) + 1 AS BIGINT) - 1)) AS win_idx
      |    FROM h WHERE length(hexs) >= 64))
      |SELECT w.doc_id, w.win_idx, w.pos AS center_byte,
      |  f.frame_idx, f.frame_md5, w.pos - f.pos AS lag_bytes
      |FROM wn w ASOF LEFT JOIN fr f ON w.doc_id = f.doc_id AND w.pos >= f.pos
      |ORDER BY w.doc_id, w.win_idx""".stripMargin

  /** Signal-quality stats for an opaque PCM-8-like payload column —
    * the audio QC filter a training pipeline runs before decode (the
    * m02 contract: the codec is stubbed, payload bytes stand in for
    * 8-bit samples; the Spark plumbing is real): per payload,
    * DC offset (mean sample − 128), dynamic range (max − min),
    * longest same-byte run (digital-silence / stuck-sample proxy),
    * clip ratio (fraction of samples AT the payload's own extremes),
    * and a pass verdict. One posexplode fans bytes out map-side with
    * positions; runs are an islands scan per payload (lag → cumsum →
    * run length); every stat is integer math or a single int/int
    * division ⇒ bit-stable at any parallelism. Windows partition by
    * payload id — per-doc state, never corpus-wide. */
  def signalQualityOf(df: DataFrame, idCol: String, payloadCol: String,
                      maxRun: Int = 32, minRange: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val po = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val cum = po.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val b = df.select(col(idCol),
        posexplode(expr(s"regexp_extract_all(hex($payloadCol), '..', 0)"))
          .as(Seq("pos", "hexb")))
      .withColumn("bv", conv(col("hexb"), 16, 10).cast("long"))
      .withColumn("__new", (col("bv") =!= lag(col("bv"), 1, -1L).over(po)).cast("long"))
      .withColumn("__run", sum(col("__new")).over(cum))
    val runs = b.groupBy(col(idCol), col("__run")).agg(count(lit(1)).as("__rl"))
      .groupBy(col(idCol)).agg(max(col("__rl")).as("longest_run"))
    val stats = b.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_bytes"), sum(col("bv")).as("__s"),
      min(col("bv")).as("__mn"), max(col("bv")).as("__mx"))
    val clip = b.join(stats.select(col(idCol), col("__mn"), col("__mx")), Seq(idCol))
      .groupBy(col(idCol))
      .agg(sum((col("bv") === col("__mn") || col("bv") === col("__mx"))
        .cast("long")).as("__nclip"))
    stats.join(runs, Seq(idCol)).join(clip, Seq(idCol))
      .select(col(idCol), col("n_bytes"),
        (col("__s").cast("double") / col("n_bytes").cast("double") - lit(128.0))
          .as("dc_offset"),
        (col("__mx") - col("__mn")).as("dyn_range"), col("longest_run"),
        (col("__nclip").cast("double") / col("n_bytes").cast("double")).as("clip_ratio"),
        (col("longest_run") <= maxRun && col("__mx") - col("__mn") >= minRange)
          .as("passed"))
  }

  /** #m10 the audio-QC gate over the documents payloads. */
  private val m10: Q = (s, dir) =>
    signalQualityOf(
      t(s, dir, "documents").withColumn("payload", col("text").cast("binary")),
      "doc_id", "payload")
      .select(col("doc_id"), col("n_bytes"), r4(col("dc_offset")).as("dc_offset"),
        col("dyn_range"), col("longest_run"),
        r6(col("clip_ratio")).as("clip_ratio"), col("passed"))
      .orderBy("doc_id")

  private val m10Sql =
    """WITH b AS (
      |  SELECT doc_id, i AS pos,
      |    (strpos('0123456789ABCDEF', substr(hexs, CAST(i * 2 + 1 AS INTEGER), 1)) - 1) * 16
      |    + strpos('0123456789ABCDEF', substr(hexs, CAST(i * 2 + 2 AS INTEGER), 1)) - 1 AS bv
      |  FROM (SELECT doc_id, hex(encode(text)) AS hexs FROM documents),
      |    LATERAL (SELECT unnest(generate_series(0, length(hexs) // 2 - 1)) AS i)),
      |r AS (
      |  SELECT doc_id, pos, bv,
      |    CASE WHEN bv = lag(bv, 1) OVER (PARTITION BY doc_id ORDER BY pos)
      |      THEN 0 ELSE 1 END AS new_r
      |  FROM b),
      |ri AS (
      |  SELECT doc_id, bv,
      |    sum(new_r) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM r),
      |rl AS (SELECT doc_id, CAST(max(rl) AS BIGINT) AS longest_run FROM (
      |    SELECT doc_id, run_id, count(*) AS rl FROM ri GROUP BY 1, 2)
      |  GROUP BY doc_id),
      |st AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bytes,
      |    CAST(sum(bv) AS DOUBLE) AS s, min(bv) AS mn, max(bv) AS mx
      |  FROM b GROUP BY doc_id),
      |cl AS (
      |  SELECT b.doc_id, CAST(sum(CASE WHEN b.bv = st.mn OR b.bv = st.mx
      |    THEN 1 ELSE 0 END) AS BIGINT) AS nclip
      |  FROM b JOIN st ON b.doc_id = st.doc_id GROUP BY b.doc_id)
      |SELECT st.doc_id, st.n_bytes,
      |  round(st.s / CAST(st.n_bytes AS DOUBLE) - 128.0, 4) AS dc_offset,
      |  CAST(st.mx - st.mn AS BIGINT) AS dyn_range, rl.longest_run,
      |  round(CAST(cl.nclip AS DOUBLE) / CAST(st.n_bytes AS DOUBLE), 6) AS clip_ratio,
      |  rl.longest_run <= 32 AND st.mx - st.mn >= 16 AS passed
      |FROM st JOIN rl ON st.doc_id = rl.doc_id JOIN cl ON st.doc_id = cl.doc_id
      |ORDER BY st.doc_id""".stripMargin

  /** PCM-8 voice-activity segmentation profile (public operator behind
    * [[graft.Graft.vadProfile]]) — the trim-before-transcribe step
    * every audio ingest runs (m10 says whether a signal is HEALTHY;
    * m13 says where the CONTENT is): a byte is ACTIVE when its
    * amplitude deviation |bv − 128| ≥ `threshold`, consecutive
    * same-state bytes form runs (the m10 island chain: lag-change
    * flag + cumulative run id), and the per-payload profile reports
    * the run structure — run/active-run counts, active byte mass,
    * longest active burst and longest silence, the TRIM offsets
    * (first/last active byte — what a cutter would keep), and the
    * active ratio. All-silent payloads keep null trims (nothing to
    * keep) and zero longest_active.
    *
    * Determinism: everything is integer counts over a total
    * (payload, pos) order; the one float is the final ratio division.
    * Scale: the byte explode collapses at the first combine (m08
    * rule) and the run chain is one payload-key window pass —
    * payloads never shuffle as bytes twice. */
  def vadProfileOf(df: DataFrame, idCol: String, payloadCol: String,
                   threshold: Int = 16): DataFrame = {
    require(threshold >= 1 && threshold <= 128,
      s"threshold must be in [1, 128], got $threshold")
    import org.apache.spark.sql.expressions.Window
    val po = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val cum = po.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val b = df.select(col(idCol),
        posexplode(expr(s"regexp_extract_all(hex($payloadCol), '..', 0)"))
          .as(Seq("pos", "hexb")))
      .withColumn("bv", conv(col("hexb"), 16, 10).cast("long"))
      .withColumn("act", (abs(col("bv") - 128) >= threshold).cast("long"))
      .withColumn("__new", (col("act") =!= lag(col("act"), 1, -1L).over(po)).cast("long"))
      .withColumn("__run", sum(col("__new")).over(cum))
    val runs = b.groupBy(col(idCol), col("__run"))
      .agg(max(col("act")).as("act"), count(lit(1)).as("len"),
        min(col("pos")).as("start"), max(col("pos")).as("end"))
    val prof = runs.groupBy(col(idCol))
      .agg(sum(col("len")).as("n_bytes"),
        count(lit(1)).as("n_runs"),
        sum(col("act")).as("n_active_runs"),
        sum(col("act") * col("len")).as("active_bytes"),
        coalesce(max(when(col("act") === 1, col("len"))), lit(0L)).as("longest_active"),
        coalesce(max(when(col("act") === 0, col("len"))), lit(0L)).as("longest_silence"),
        min(when(col("act") === 1, col("start"))).cast("long").as("trim_start"),
        max(when(col("act") === 1, col("end"))).cast("long").as("trim_end"))
      .withColumn("active_ratio",
        col("active_bytes").cast("double") / col("n_bytes").cast("double"))
    // Empty/NULL payloads explode to ZERO byte rows, so the profile
    // alone would silently drop those ids — contract says every input
    // id gets a row (n_bytes=0, null trims/ratio). Left-join back to
    // the distinct input ids; the ids frame is id-sized, the join key
    // is the id itself (no extra shuffle shape beyond the profile's).
    df.select(col(idCol)).distinct()
      .join(prof, Seq(idCol), "left")
      .na.fill(0L, Seq("n_bytes", "n_runs", "n_active_runs", "active_bytes",
        "longest_active", "longest_silence"))
  }

  /** #m13 the VAD trim profile over the documents payloads (PCM-8
    * amplitude reading of the same bytes m10 QCs). */
  private val m13: Q = (s, dir) =>
    vadProfileOf(
      t(s, dir, "documents").withColumn("payload", col("text").cast("binary")),
      "doc_id", "payload")
      .select(col("doc_id"), col("n_bytes"), col("n_runs"), col("n_active_runs"),
        col("active_bytes"), col("longest_active"), col("longest_silence"),
        col("trim_start").cast("long").as("trim_start"),
        col("trim_end").cast("long").as("trim_end"),
        r6(col("active_ratio")).as("active_ratio"))
      .orderBy("doc_id")

  private val m13Sql =
    """WITH b AS (
      |  SELECT doc_id, i AS pos,
      |    (strpos('0123456789ABCDEF', substr(hexs, CAST(i * 2 + 1 AS INTEGER), 1)) - 1) * 16
      |    + strpos('0123456789ABCDEF', substr(hexs, CAST(i * 2 + 2 AS INTEGER), 1)) - 1 AS bv
      |  FROM (SELECT doc_id, hex(encode(text)) AS hexs FROM documents),
      |    LATERAL (SELECT unnest(generate_series(0, length(hexs) // 2 - 1)) AS i)),
      |a AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN abs(bv - 128) >= 16 THEN 1 ELSE 0 END AS act
      |  FROM b),
      |r AS (
      |  SELECT doc_id, pos, act,
      |    CASE WHEN act = lag(act, 1) OVER (PARTITION BY doc_id ORDER BY pos)
      |      THEN 0 ELSE 1 END AS new_r
      |  FROM a),
      |ri AS (
      |  SELECT doc_id, pos, act,
      |    sum(new_r) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
      |  FROM r),
      |runs AS (
      |  SELECT doc_id, run_id, max(act) AS act, count(*) AS len,
      |    min(pos) AS rstart, max(pos) AS rend
      |  FROM ri GROUP BY 1, 2),
      |prof AS (
      |  SELECT doc_id,
      |    CAST(sum(len) AS BIGINT) AS n_bytes,
      |    CAST(count(*) AS BIGINT) AS n_runs,
      |    CAST(sum(act) AS BIGINT) AS n_active_runs,
      |    CAST(sum(act * len) AS BIGINT) AS active_bytes,
      |    CAST(coalesce(max(CASE WHEN act = 1 THEN len END), 0) AS BIGINT) AS longest_active,
      |    CAST(coalesce(max(CASE WHEN act = 0 THEN len END), 0) AS BIGINT) AS longest_silence,
      |    CAST(min(CASE WHEN act = 1 THEN rstart END) AS BIGINT) AS trim_start,
      |    CAST(max(CASE WHEN act = 1 THEN rend END) AS BIGINT) AS trim_end,
      |    round(CAST(sum(act * len) AS DOUBLE) / CAST(sum(len) AS DOUBLE), 6) AS active_ratio
      |  FROM runs GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(p.n_bytes, 0) AS n_bytes,
      |  coalesce(p.n_runs, 0) AS n_runs,
      |  coalesce(p.n_active_runs, 0) AS n_active_runs,
      |  coalesce(p.active_bytes, 0) AS active_bytes,
      |  coalesce(p.longest_active, 0) AS longest_active,
      |  coalesce(p.longest_silence, 0) AS longest_silence,
      |  p.trim_start, p.trim_end, p.active_ratio
      |FROM (SELECT DISTINCT doc_id FROM documents) d
      |LEFT JOIN prof p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Distinct sampled-keyframe signatures per payload (the m03 seek
    * rule: every `every`-th fixed-offset frame, 32 bytes as 64 hex
    * chars, md5-derived 60-bit sig) — the per-video evidence set
    * [[keyframeDupPairsOf]] overlaps. Map-only + one distinct. */
  def keyframeSigsOf(df: DataFrame, idCol: String, binCol: String,
                     every: Int = 4): DataFrame = {
    require(every >= 1, s"every must be >= 1, got $every")
    df.select(col(idCol).as("vid"), hex(col(binCol)).as("__hx"))
      // zero-length payloads have NO frames: without this guard __nf = 0
      // and Spark's sequence(0, -1) defaults to step -1, generating a
      // DESCENDING [0, -1] whose fi=0 survives the pmod filter and
      // emits a phantom empty-string frame sig (two empty payloads
      // would then pair at containment 1.0 — the DuckDB twin's
      // generate_series(0, -1) is empty, so the engines would diverge)
      .filter(length(col("__hx")) > 0)
      .withColumn("__nf", ceil(length(col("__hx")) / lit(64.0)).cast("long"))
      .select(col("vid"), col("__hx"),
        explode(expr("sequence(CAST(0 AS BIGINT), __nf - 1)")).as("fi"))
      .filter(pmod(col("fi"), lit(every.toLong)) === 0)
      .select(col("vid"),
        graft.F.hash60(expr("substring(__hx, CAST(fi * 64 + 1 AS INT), 64)")).as("fsig"))
      .distinct()
  }

  /** Keyframe-overlap near-dup VIDEO pairs (public operator behind
    * [[graft.Graft.keyframeDupPairs]]) — the m07 idea lifted from one
    * whole-payload hash to a SET of sampled-frame signatures, which is
    * how video dedup actually works (a re-encode/trim shares most
    * keyframes; a whole-file hash shares none): pairs are generated
    * ONLY by joining on a shared frame signature (ids + 60-bit sigs
    * shuffle — never payloads, never all-pairs), scored by
    * CONTAINMENT |A∩B| / min(|A|,|B|) ≥ `minContain` so a clip
    * trimmed to 60% still flags against its source. Frame signatures
    * that occur in more than `maxVidsPerSig` payloads are dropped
    * from CANDIDATE GENERATION only (the t10 MOSS df cap — a
    * boilerplate intro frame shared by every video would otherwise
    * go quadratic); containment denominators use the FULL sets. */
  def keyframeDupPairsOf(df: DataFrame, idCol: String, binCol: String,
                         every: Int = 4, minContain: Double = 0.5,
                         maxVidsPerSig: Int = 50): DataFrame = {
    require(minContain > 0 && minContain <= 1,
      s"minContain in (0,1], got $minContain")
    require(maxVidsPerSig >= 2, s"maxVidsPerSig must be >= 2, got $maxVidsPerSig")
    val sigs = graft.Checkpoints.stabilize(keyframeSigsOf(df, idCol, binCol, every))
    val nPer = sigs.groupBy(col("vid")).agg(count(lit(1)).as("n_frames"))
    val capped = sigs.withColumn("__df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("fsig"))))
      .filter(col("__df") <= maxVidsPerSig)
      .select(col("vid"), col("fsig"))
    val a = capped.select(col("vid").as("vid_a"), col("fsig"))
    val b = capped.select(col("vid").as("vid_b"), col("fsig"))
    a.join(b, Seq("fsig"))
      .filter(col("vid_a") < col("vid_b"))
      .groupBy(col("vid_a"), col("vid_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(nPer.select(col("vid").as("vid_a"), col("n_frames").as("n_a")), Seq("vid_a"))
      .join(nPer.select(col("vid").as("vid_b"), col("n_frames").as("n_b")), Seq("vid_b"))
      .withColumn("containment",
        col("n_shared").cast("double") / least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= minContain)
      .select(col("vid_a"), col("vid_b"), col("n_shared"), col("n_a"), col("n_b"),
        col("containment"))
  }

  /** #m11 keyframe-overlap near-dup pairs over the documents payloads,
    * with plants making both verdict shapes observable (the m07 rule):
    * ids+40000 = byte-identical copies of docs 0–4 (containment 1.0),
    * ids+50000 = docs 0–4 TRIMMED to the first 60% of bytes — the
    * re-encode/clip case a whole-payload hash (m07) cannot see. */
  private val m11: Q = (s, dir) => {
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val copies = base.filter(col("doc_id") < 5)
      .select((col("doc_id") + 40000L).as("doc_id"), col("text"))
    val trims = base.filter(col("doc_id") < 5)
      .select((col("doc_id") + 50000L).as("doc_id"),
        substring(col("text"), 1, 300).as("text"))
    keyframeDupPairsOf(
        base.union(copies).union(trims).withColumn("payload", col("text").cast("binary")),
        "doc_id", "payload")
      .select(col("vid_a"), col("vid_b"), col("n_shared"), col("n_a"), col("n_b"),
        graft.F.r6(col("containment")).as("containment"))
      .orderBy("vid_a", "vid_b")
  }

  private val m11Sql =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 40000, text FROM documents WHERE doc_id < 5
      |  UNION ALL SELECT doc_id + 50000, substr(text, 1, 300) FROM documents WHERE doc_id < 5),
      |h AS (SELECT doc_id AS vid, hex(encode(text)) AS hx FROM aug),
      |f AS (SELECT vid, hx, CAST(ceil(length(hx) / 64.0) AS BIGINT) AS nf FROM h),
      |e AS (SELECT vid, hx, unnest(generate_series(0, nf - 1)) AS fi FROM f),
      |sg AS (SELECT DISTINCT vid,
      |    CAST(('0x' || substr(md5(substr(hx, CAST(fi * 64 + 1 AS INTEGER), 64)), 1, 15)) AS BIGINT) AS fsig
      |  FROM e WHERE fi % 4 = 0),
      |np AS (SELECT vid, count(*) AS n_frames FROM sg GROUP BY vid),
      |capped AS (
      |  SELECT vid, fsig FROM (
      |    SELECT vid, fsig, count(*) OVER (PARTITION BY fsig) AS df FROM sg)
      |  WHERE df <= 50),
      |pr AS (
      |  SELECT a.vid AS vid_a, b.vid AS vid_b, count(*) AS n_shared
      |  FROM capped a JOIN capped b ON a.fsig = b.fsig AND a.vid < b.vid
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT pr.vid_a, pr.vid_b, pr.n_shared,
      |    na.n_frames AS n_a, nb.n_frames AS n_b,
      |    CAST(pr.n_shared AS DOUBLE) / CAST(least(na.n_frames, nb.n_frames) AS DOUBLE) AS containment
      |  FROM pr JOIN np na ON pr.vid_a = na.vid JOIN np nb ON pr.vid_b = nb.vid)
      |SELECT vid_a, vid_b, n_shared, n_a, n_b, round(containment, 6) AS containment
      |FROM j WHERE containment >= 0.5
      |ORDER BY vid_a, vid_b""".stripMargin

  /** #p07 the MULTIMODAL ingest pipeline as ONE oracle-checked plan —
    * the media-lake sibling of p03 (text curation) / p06 (export) /
    * p02 (market loop): every payload gets a PROVENANCE VERDICT from
    * the two-stage chain a binary lake actually runs, stage 2 ON
    * stage 1's survivors (the p03 wiring rule):
    *   'dropped_qc'   byte entropy < 3.0 bits (m08's signal — the
    *                  corpus floor is 3.68, so only degenerate
    *                  payloads fail; planted constant-byte payloads
    *                  ids 70000–70004 read exactly 0.0);
    *   'dropped_dup'  QC survivor with an m11 keyframe-containment
    *                  pair against ANY smaller id (the d11 greedy
    *                  keep-lowest rule; `dup_of` = the smallest such
    *                  match — planted byte-copies ids+60000 must
    *                  resolve to their originals);
    *   'kept'         everything else.
    * One row per payload: (vid, verdict, entropy_bits, dup_of). The
    * oracle replays entropy chain + survivor filter + keyframe chain
    * as one CTE stack, so dedup run on the wrong survivor set
    * hash-fails. Scale shape: stage 1 is one byte-histogram shuffle
    * (≤256 rows per payload); stage 2 is the m11 banded join —
    * nothing all-pairs, payloads never shuffle twice. */
  private val p07: Q = (s, dir) => {
    import s.implicits._
    val base = t(s, dir, "documents").select(col("doc_id"), col("text"))
    val copies = base.filter(col("doc_id") < 5)
      .select((col("doc_id") + 60000L).as("doc_id"), col("text"))
    val lows = (0 until 5).map(i => (70000L + i, "a" * 200)).toDF("doc_id", "text")
    val aug = base.union(copies).union(lows)
      .withColumn("payload", col("text").cast("binary"))
    // ent feeds BOTH the QC-survivor filter and the final verdict join
    // — checkpoint the (vid, entropy) rows so the byte-histogram chain
    // runs once, not per reference (round-17; bit-identical).
    val ent = graft.Checkpoints.stabilize(
      byteEntropyOf(aug, "doc_id", "payload")
        .select(col("doc_id").as("vid"), col("entropy_bits")))
    val pass = aug.select(col("doc_id").as("vid"), col("payload"))
      .join(ent, "vid").filter(col("entropy_bits") >= 3.0)
    val pairs = keyframeDupPairsOf(
      pass.select(col("vid").as("doc_id"), col("payload")), "doc_id", "payload")
    val dupOf = pairs.groupBy(col("vid_b").as("vid")).agg(min(col("vid_a")).as("dup_of"))
    ent.join(dupOf, Seq("vid"), "left")
      .withColumn("verdict",
        when(col("entropy_bits") < 3.0, lit("dropped_qc"))
          .when(col("dup_of").isNotNull, lit("dropped_dup"))
          .otherwise(lit("kept")))
      .select(col("vid"), col("verdict"),
        graft.F.r6(col("entropy_bits")).as("entropy_bits"), col("dup_of"))
      .orderBy("vid")
  }

  private val p07Sql = {
    val ln2 = math.log(2.0)
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 60000, text FROM documents WHERE doc_id < 5
       |  UNION ALL SELECT doc_id + 70000, repeat('a', 200) FROM documents WHERE doc_id < 5),
       |b AS (
       |  SELECT doc_id, unnest(regexp_extract_all(hex(encode(text)), '..')) AS byte
       |  FROM aug),
       |cc AS (SELECT doc_id, byte, count(*) AS c FROM b GROUP BY 1, 2),
       |w AS (
       |  SELECT doc_id, byte, c,
       |    sum(c) OVER (PARTITION BY doc_id) AS n
       |  FROM cc),
       |hh AS (
       |  SELECT doc_id,
       |    sum(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
       |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))) OVER o AS ch,
       |    lead(byte, 1) OVER po IS NULL AS is_last
       |  FROM w
       |  WINDOW po AS (PARTITION BY doc_id ORDER BY byte),
       |    o AS (PARTITION BY doc_id ORDER BY byte
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |ent AS (SELECT doc_id AS vid, ch / $ln2 AS entropy_bits FROM hh WHERE is_last),
       |pass AS (
       |  SELECT a.doc_id AS vid, a.text
       |  FROM aug a JOIN ent e ON a.doc_id = e.vid
       |  WHERE e.entropy_bits >= 3.0),
       |h AS (SELECT vid, hex(encode(text)) AS hx FROM pass),
       |f AS (SELECT vid, hx, CAST(ceil(length(hx) / 64.0) AS BIGINT) AS nf FROM h),
       |e2 AS (SELECT vid, hx, unnest(generate_series(0, nf - 1)) AS fi FROM f),
       |sg AS (SELECT DISTINCT vid,
       |    CAST(('0x' || substr(md5(substr(hx, CAST(fi * 64 + 1 AS INTEGER), 64)), 1, 15)) AS BIGINT) AS fsig
       |  FROM e2 WHERE fi % 4 = 0),
       |np AS (SELECT vid, count(*) AS n_frames FROM sg GROUP BY vid),
       |capped AS (
       |  SELECT vid, fsig FROM (
       |    SELECT vid, fsig, count(*) OVER (PARTITION BY fsig) AS df FROM sg)
       |  WHERE df <= 50),
       |pr AS (
       |  SELECT a.vid AS vid_a, b.vid AS vid_b, count(*) AS n_shared
       |  FROM capped a JOIN capped b ON a.fsig = b.fsig AND a.vid < b.vid
       |  GROUP BY 1, 2),
       |pj AS (
       |  SELECT pr.vid_a, pr.vid_b,
       |    CAST(pr.n_shared AS DOUBLE) / CAST(least(na.n_frames, nb.n_frames) AS DOUBLE) AS containment
       |  FROM pr JOIN np na ON pr.vid_a = na.vid JOIN np nb ON pr.vid_b = nb.vid),
       |dup AS (
       |  SELECT vid_b AS vid, min(vid_a) AS dup_of
       |  FROM pj WHERE containment >= 0.5 GROUP BY vid_b)
       |SELECT ent.vid,
       |  CASE WHEN ent.entropy_bits < 3.0 THEN 'dropped_qc'
       |       WHEN dup.dup_of IS NOT NULL THEN 'dropped_dup'
       |       ELSE 'kept' END AS verdict,
       |  round(ent.entropy_bits, 6) AS entropy_bits,
       |  dup.dup_of
       |FROM ent LEFT JOIN dup ON ent.vid = dup.vid
       |ORDER BY ent.vid""".stripMargin
  }

  /** Deterministic "shared-encoder" embedding for a binary payload —
    * the m02 stub contract applied to the CLIP tower: a real encoder
    * maps media bytes and query text into one vector space; the
    * container has no model runtime, so the stand-in encoder is a
    * `dims`-bucket byte histogram (count of bytes with value ≡ j mod
    * `dims`, as doubles) — deterministic, content-sensitive, and
    * identical plumbing to a real embedding column. Plan shape: the
    * m08 rule — one hex-pair explode collapses to ≤ `dims` integer
    * rows per payload at the map-side combine, one (id, bucket)
    * shuffle, and the dense vector assembles order-independently via
    * a bucket→count map lookup (collect_list order cannot matter).
    * Payload bytes never shuffle. Returns (idCol, v: array<double>). */
  def payloadEmbeddingOf(df: DataFrame, idCol: String, binCol: String,
                         dims: Int = 64): DataFrame = {
    require(dims >= 1 && dims <= 256, s"dims must be in [1, 256], got $dims")
    df.select(col(idCol),
        explode(expr(s"regexp_extract_all(hex($binCol), '..', 0)")).as("__hexb"))
      .withColumn("__b", pmod(conv(col("__hexb"), 16, 10).cast("int"), lit(dims)))
      .groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__c"))
      .groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("__b"), col("__c")))).as("__m"))
      .select(col(idCol),
        expr(s"transform(sequence(0, ${dims - 1}), j -> CAST(coalesce(__m[j], 0) AS DOUBLE))")
          .as("v"))
  }

  /** #32i CROSS-MODAL retrieval (similarity × multimodal, the CLIP
    * shape): text-tower QUERY vectors searched against MEDIA-tower
    * corpus vectors derived from the payload column — the retrieval a
    * caption→image training pipeline runs to mine pairs. Both towers
    * are [[payloadEmbeddingOf]] stub encoders into one 64-dim space;
    * the text tower encodes the NORMALIZED query text (lowercase — a
    * genuinely different encoding of the same underlying content, so
    * a matching payload scores high but not trivially 1.0 unless the
    * doc is already lowercase). Search is the verified s01 machinery
    * ([[graft.Graft.knnBrute]]: queries broadcast, one corpus scan, no
    * corpus shuffle) with `excludeSelf = false` — the query's OWN
    * payload is the contrastive "matching pair" and must be allowed to
    * rank; [[graft.Graft.annLsh]]/[[graft.Graft.annIvf]] accept the
    * same (id, v) frames as the documented scale swap. The oracle
    * replays tower featurization (conditional-aggregation pivot to a
    * dense 64-list — exact integer counts) and the seqCosine ranking. */
  private val m12: Q = (s, dir) => {
    val docs = t(s, dir, "documents")
    val corpus = payloadEmbeddingOf(
      docs.withColumn("payload", col("text").cast("binary")), "doc_id", "payload")
    val queries = payloadEmbeddingOf(
      docs.filter(col("doc_id") < 5)
        .withColumn("payload", lower(col("text")).cast("binary")),
      "doc_id", "payload")
    graft.Graft.knnBrute(corpus, queries, "doc_id", "v", k = 10, excludeSelf = false)
      .select(col("q_id"), col("rank"), col("doc_id"), r6(col("cos_sim")).as("cos_sim"))
      .orderBy("q_id", "rank")
  }

  private val m12Sql = {
    val vecExpr = (0 until 64)
      .map(j => s"CAST(coalesce(sum(CASE WHEN b = $j THEN c END), 0) AS DOUBLE)")
      .mkString("[", ", ", "]")
    def bucketed(src: String, where: String) =
      s"""SELECT doc_id,
         |    ((strpos('0123456789ABCDEF', substr(hexs, CAST(i * 2 + 1 AS INTEGER), 1)) - 1) * 16
         |     + strpos('0123456789ABCDEF', substr(hexs, CAST(i * 2 + 2 AS INTEGER), 1)) - 1) % 64 AS b
         |  FROM (SELECT doc_id, hex(encode($src)) AS hexs FROM documents$where),
         |    LATERAL (SELECT unnest(generate_series(0, length(hexs) // 2 - 1)) AS i)""".stripMargin
    s"""WITH mb AS (${bucketed("text", "")}),
       |mh AS (SELECT doc_id, b, count(*) AS c FROM mb GROUP BY 1, 2),
       |mv AS (SELECT doc_id, $vecExpr AS v FROM mh GROUP BY doc_id),
       |qb AS (${bucketed("lower(text)", " WHERE doc_id < 5")}),
       |qh AS (SELECT doc_id, b, count(*) AS c FROM qb GROUP BY 1, 2),
       |qv AS (SELECT doc_id AS q_id, $vecExpr AS qv FROM qh GROUP BY doc_id),
       |c AS (SELECT qv.q_id, mv.doc_id, ${graft.OracleSql.seqCosine("qv", "v", 64)} AS cos
       |  FROM qv CROSS JOIN mv),
       |r AS (SELECT q_id, doc_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, doc_id) AS BIGINT) AS rank
       |  FROM c)
       |SELECT q_id, rank, doc_id, round(cos, 6) AS cos_sim
       |FROM r WHERE rank <= 10
       |ORDER BY q_id, rank""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "m12_crossmodal_retrieval" -> m12,
    "m13_vad_segments" -> m13,
    "p07_media_pipeline" -> p07,
    "m11_keyframe_dedup" -> m11,
    "m10_signal_quality" -> m10,
    "m09_av_align" -> m09,
    "m08_byte_entropy" -> m08,
    "m07_phash_dedup" -> m07,
    "m06_cdc_dedup" -> m06,
    "m01_binary_meta" -> m01,
    "m02_feature_batch" -> m02,
    "m03_frame_sample" -> m03,
    "m04_patch_grid" -> m04,
    "m05_overlap_windows" -> m05)

  /** m02 is intentionally absent: mapPartitions output is rows-only. */
  val oracle: Map[String, String] = Map(
    "m12_crossmodal_retrieval" -> m12Sql,
    "m13_vad_segments" -> m13Sql,
    "p07_media_pipeline" -> p07Sql,
    "m11_keyframe_dedup" -> m11Sql,
    "m10_signal_quality" -> m10Sql,
    "m09_av_align" -> m09Sql,
    "m08_byte_entropy" -> m08Sql,
    "m07_phash_dedup" -> m07Sql,
    "m01_binary_meta" -> m01Sql,
    "m03_frame_sample" -> m03Sql,
    "m04_patch_grid" -> m04Sql,
    "m05_overlap_windows" -> m05Sql)
}
