package graft

import org.apache.spark.sql.SparkSession

/** Standard session factory: every graft entrypoint (Verify, Bench,
  * specs) builds its session here so the graft extensions
  * (native vector expressions) and the engine configs are always on.
  * On a cluster the same settings apply minus `master`. */
object Sessions {
  /** Local cores of an entry point's session: `SPARK_GRAFT_CPUS`, else
    * the host's available processors. The session's shuffle parallelism
    * is this value, and through it the bucket count of every ANN store
    * the session first lands ([[graft.sinks.AnnStore]]). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // fresh warehouse per JVM: the in-memory catalog dies with the
      // session, so a persistent ./spark-warehouse would orphan table dirs
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // testdata `ts` is parquet TIMESTAMP(isAdjustedToUTC=false); without
      // this, Spark 4 reads it as TIMESTAMP_NTZ and every unix_millis /
      // window() call on it fails. With the session timezone pinned to
      // UTC above, reading it as LTZ yields the identical instants.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
}
