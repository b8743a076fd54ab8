package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BUCKETED landing store for the continuous ANN index
  * ([[graft.streaming.StreamOps.annIndexTick]]) — the [[BucketedStore]]
  * co-location rule applied to delta-landed state.
  *
  * Layout: one external parquet table per sub-store
  * (`vectors`/`edges`/`asg`/`deletes`), PARTITIONED BY `__landing`
  * (dynamic overwrite per tick — replaying a landing replaces exactly
  * its partition, the SketchStore idempotency contract) and CLUSTERED
  * BY the row key (`vec_id`, `src`) into [[Buckets]] buckets. The
  * bucketed scan reports its hash distribution to Catalyst, so the
  * merged-view reads that serve the index — latest-landing-per-src
  * over `edges`, latest-op-wins over `vectors`⋈`deletes`,
  * latest-per-node over `asg` — run their windows/aggregations
  * PARTITION-LOCAL and their cross-store joins co-located: ZERO
  * shuffles where the path-based store paid one full-store exchange
  * per view per read (round-16 verdict finding 2; AnnStoreSpec pins
  * the shuffle counts).
  *
  * At 100 TB the windows' input is always index-sized (that is what
  * serving an index means) — bucketing makes the cost one LOCAL sort
  * per bucket with no network movement, and the bucket count is the
  * deployment's parallelism knob (size so one bucket ≈ one task's
  * working set; keep it identical across sub-stores, co-location
  * requires equal bucket counts).
  *
  * The catalog entry is session-lifetime (in-memory catalog); the
  * FILES are the durable artifact. A fresh session re-registers the
  * table over the existing files (`CREATE TABLE … LOCATION` + partition
  * recovery) — bucketed file names carry their bucket id, so the spec
  * survives re-registration. A legacy (pre-bucketing) store is
  * detected by its file names and served as a plain parquet read —
  * correct, just without the co-location. */
object AnnStore {

  /** Bucket count for every ANN sub-store (equal across stores — a
    * co-located join requires it). 32 = the local session's shuffle
    * parallelism; a cluster deployment sizes this to corpus/task. */
  val Buckets = 32

  private def tableName(storePath: String, sub: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(storePath.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    s"graft_ann_${h}_$sub"
  }

  private def subPath(storePath: String, sub: String) = s"$storePath/$sub"

  private def fs(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def hasLandings(spark: SparkSession, p: String): Boolean =
    PartitionDirs.list(spark, p, "__landing").nonEmpty

  /** Run `body` with dynamic partition overwrite on, restoring the
    * prior session value after (insertInto reads the SESSION conf, not
    * writer options — a writer-level option is silently ignored and
    * static overwrite would wipe the whole table). */
  private def withDynamicOverwrite[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "dynamic")
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** True when the landed files carry bucket ids in their names
    * (`part-NNNNN-uuid_BBBBB.c000…`) — the marker Spark itself uses to
    * map a file to its bucket, so it is exactly the "safe to declare
    * CLUSTERED BY over these files" test. */
  private def filesAreBucketed(spark: SparkSession, p: String): Boolean =
    PartitionDirs.list(spark, p, "__landing").headOption.exists { case (_, dir) =>
      fs(spark, p).listStatus(dir).exists { st =>
        val nm = st.getPath.getName
        nm.startsWith("part-") && nm.matches(""".*_\d{5}\.c000.*""")
      }
    }

  /** Register the catalog table over existing landed files (fresh
    * session reading a durable store). Returns false when the files
    * predate bucketing — the caller falls back to a plain path read. */
  private def registerOverFiles(spark: SparkSession, storePath: String,
                                sub: String, bucketCol: String): Boolean = {
    val p = subPath(storePath, sub)
    if (!filesAreBucketed(spark, p)) return false
    val t = tableName(storePath, sub)
    val dataSchema = org.apache.spark.sql.types.StructType(
      spark.read.parquet(p).schema.filterNot(_.name == "__landing"))
    val cols = dataSchema.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(s"""CREATE TABLE $t ($cols, `__landing` BIGINT)
      |USING parquet PARTITIONED BY (__landing)
      |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $Buckets BUCKETS
      |LOCATION '$p'""".stripMargin)
    spark.sql(s"MSCK REPAIR TABLE $t")
    true
  }

  /** Land one landing of `df` into the `sub` store, bucketed by
    * `bucketCol` (idempotent per landing id — dynamic overwrite). */
  def land(spark: SparkSession, storePath: String, sub: String,
           df: DataFrame, landingId: Long, bucketCol: String): Unit = {
    val t = tableName(storePath, sub)
    val p = subPath(storePath, sub)
    val out = df.withColumn("__landing", lit(landingId))
    val inCatalog = spark.catalog.tableExists(t)
    if (!inCatalog && hasLandings(spark, p) &&
        !registerOverFiles(spark, storePath, sub, bucketCol)) {
      // legacy (non-bucketed) files under this path: refuse to mix —
      // a bucketed table over unbucketed files mis-routes reads
      throw new IllegalStateException(
        s"store $p holds pre-bucketing landings; rebuild the store " +
          "(AnnStore cannot append bucketed landings to legacy files)")
    }
    if (!spark.catalog.tableExists(t) || !hasLandings(spark, p)) {
      // fresh store — or a stale catalog entry whose files are gone (a
      // dropped temp store, a crash before the first files landed, or a
      // compaction that dropped every landing): (re)create table + files
      // in one bucketed write. No landing is listed here (a listed one
      // would have registered the table above), so clear what the
      // directory still holds (`_SUCCESS`, `_temporary`): a CREATE TABLE
      // AS SELECT refuses a non-empty location
      spark.sql(s"DROP TABLE IF EXISTS $t")
      fs(spark, p).delete(new org.apache.hadoop.fs.Path(p), true)
      out.write
        .partitionBy("__landing")
        .bucketBy(Buckets, bucketCol).sortBy(bucketCol)
        .option("path", p)
        .saveAsTable(t)
    } else {
      val order = spark.table(t).schema.fieldNames
      // the conf must be set on the session that EXECUTES the write —
      // inside foreachBatch the batch frame belongs to a cloned
      // micro-batch session whose conf the outer session's set() never
      // reaches (static mode there would wipe every prior landing)
      withDynamicOverwrite(out.sparkSession) {
        out.select(order.map(col): _*).write.mode("overwrite").insertInto(t)
      }
    }
    spark.catalog.refreshTable(t)
  }

  /** Run `body` while PINNING dynamic partition overwrite on every
    * session in `sessions` — the guard that makes CONCURRENT [[land]]
    * calls safe: each land's own [[withDynamicOverwrite]] then reads
    * AND restores "dynamic" under every interleaving, so no write can
    * observe the static mode mid-flight (a static insertInto would
    * wipe every prior landing). Without this pin, two overlapping
    * lands race their conf restores. */
  private[graft] def landScope[T](sessions: Seq[SparkSession])(body: => T): T = {
    def nest(rest: List[SparkSession]): T = rest match {
      case Nil => body
      case s :: tail => withDynamicOverwrite(s)(nest(tail))
    }
    nest(sessions.distinct.toList)
  }

  /** Land several sub-stores of ONE landing concurrently (guide §2.6:
    * the lands are independent sinks — small write jobs whose task
    * waves and commit constants otherwise serialize). Files, catalog
    * state and crash behaviour are identical to sequential [[land]]
    * calls (each sub-store is a distinct table; a failure propagates
    * after every thread finishes, leaving the same
    * some-landings-without-manifest state a sequential crash leaves). */
  def landMany(spark: SparkSession, storePath: String, landingId: Long,
               lands: Seq[(String, DataFrame, String)]): Unit = {
    if (lands.isEmpty) return
    if (lands.size == 1) {
      val (sub, df, bc) = lands.head
      land(spark, storePath, sub, df, landingId, bc)
      return
    }
    landScope(spark +: lands.map(_._2.sparkSession)) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(lands.size)
      try {
        val futs = lands.map { case (sub, df, bc) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit =
              land(spark, storePath, sub, df, landingId, bc)
          })
        }
        futs.foreach(_.get()) // propagate the first failure
      } finally { pool.shutdown(); () }
    }
  }

  /** The `sub` store as a DataFrame whose scan reports the bucketed
    * distribution. Falls back to a plain parquet read for a legacy
    * store. Throws when the store is absent (same contract as the old
    * direct path read). */
  def read(spark: SparkSession, storePath: String, sub: String,
           bucketCol: String): DataFrame = {
    val t = tableName(storePath, sub)
    if (spark.catalog.tableExists(t)) spark.table(t)
    else if (hasLandings(spark, subPath(storePath, sub)) &&
             registerOverFiles(spark, storePath, sub, bucketCol)) spark.table(t)
    else spark.read.parquet(subPath(storePath, sub))
  }

  /** [[read]] that tolerates a missing/empty store: None. */
  def readOpt(spark: SparkSession, storePath: String, sub: String,
              bucketCol: String): Option[DataFrame] =
    if (!hasLandings(spark, subPath(storePath, sub))) None
    else Some(read(spark, storePath, sub, bucketCol))

  /** Drop every landing `< before` from the `sub` store — catalog
    * partition AND files (compaction's history drop). */
  def dropLandings(spark: SparkSession, storePath: String, sub: String,
                   before: Long): Unit = {
    val t = tableName(storePath, sub)
    val dropped = PartitionDirs.drop(spark, subPath(storePath, sub), "__landing")(_.toLong < before)
    if (spark.catalog.tableExists(t)) {
      dropped.foreach(id =>
        spark.sql(s"ALTER TABLE $t DROP IF EXISTS PARTITION (__landing=$id)"))
      spark.catalog.refreshTable(t)
    }
  }

  /** Drop the catalog entries for a store (the files' owner deletes
    * the files — used when a temp store is removed after its report is
    * materialized). */
  def dropTables(spark: SparkSession, storePath: String): Unit =
    Seq("vectors", "edges", "asg", "deletes").foreach { sub =>
      spark.sql(s"DROP TABLE IF EXISTS ${tableName(storePath, sub)}")
    }
}
