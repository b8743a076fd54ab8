package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's incremental update loop as a library component.
  *
  * The reference drives each table with: read the stored
  * `MAX(time_col)` per series → fetch [watermark − overlap, now) →
  * dedup-keep-last by PK → upsert
  * (crypto_data_pipeline_duckdb.py:1523-1630). This generalizes that
  * to any source: the caller supplies `fetch(lowerBound)` (REST pages,
  * a raw landing table, a CDC feed) and the pipeline handles the
  * watermark read, the overlap buffer, PK dedup and the partitioned
  * merge.
  *
  * Scale: the watermark read aggregates only the store's time column
  * (columnar scan, min/max pruned via parquet footers); dedup is one
  * window over the delta (small); merge rewrites only impacted
  * partitions ([[MergeWriter]]). Cost per tick scales with the delta.
  */
object IncrementalPipeline {

  /** Current high-watermark of the store, or None for an empty/missing
    * store. Mirrors the reference's `get_latest_update`. */
  def watermark(spark: SparkSession, path: String, tsCol: String): Option[java.sql.Timestamp] =
    try {
      val row = spark.read.parquet(path).agg(max(col(tsCol))).head()
      if (row.isNullAt(0)) None else Some(row.getTimestamp(0))
    } catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** One incremental tick: fetch from (watermark − overlap), dedup the
    * delta keep-last per PK, merge into the partitioned store.
    *
    * @param fetch        source function: lower bound (None = full load) → raw delta
    * @param keys         primary key columns
    * @param tsCol        event-time column driving the watermark
    * @param overlap      re-fetch buffer (the reference re-pulls a few
    *                     periods to heal late/fixed-up rows)
    * @param partitionCol physical partition column of the store
    * @return number of delta rows merged
    */
  def tick(spark: SparkSession, path: String,
           fetch: Option[java.sql.Timestamp] => DataFrame,
           keys: Seq[String], tsCol: String,
           overlap: java.time.Duration,
           partitionCol: String): Long = {
    val wm = watermark(spark, path, tsCol)
    val lower = wm.map(t => java.sql.Timestamp.from(t.toInstant.minus(overlap)))
    val raw = fetch(lower)
    val bounded = lower match {
      case Some(lb) => raw.filter(col(tsCol) >= lit(lb))
      case None => raw
    }
    // dedup-keep-last per PK (reference: drop_duplicates(subset=PK, keep='last'))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol).desc)
    val delta = bounded
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
    val n = delta.count()
    // a first load is a merge against an empty base
    if (n > 0) MergeWriter.merge(spark, path, delta, keys, partitionCol)
    n
  }

  /** [[tick]] + periodic maintenance: after merging, compact any
    * partition the stream of merges has fragmented past
    * `maxFilesPerPartition` — the reference pairs its upsert loop with
    * `OPTIMIZE TABLE` the same way. Compaction cost is bounded by the
    * fragmented partitions only, so the maintenance amortizes to a
    * constant factor of the merge traffic. */
  def tickAndCompact(spark: SparkSession, path: String,
                     fetch: Option[java.sql.Timestamp] => DataFrame,
                     keys: Seq[String], tsCol: String,
                     overlap: java.time.Duration,
                     partitionCol: String,
                     maxFilesPerPartition: Int = 8): Long = {
    val n = tick(spark, path, fetch, keys, tsCol, overlap, partitionCol)
    if (n > 0) MergeWriter.compact(spark, path, partitionCol, maxFilesPerPartition)
    n
  }
}
