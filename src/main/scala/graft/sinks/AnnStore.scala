package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** BUCKETED landing store for the continuous ANN index
  * ([[graft.streaming.StreamOps.annIndexTick]]) — the [[BucketedStore]]
  * co-location rule applied to delta-landed state.
  *
  * Layout: one external parquet table per sub-store
  * (`vectors`/`edges`/`asg`/`deletes`), PARTITIONED BY `__landing`
  * (dynamic overwrite per tick — replaying a landing replaces exactly
  * its partition, the SketchStore idempotency contract) and CLUSTERED
  * BY the row key (`vec_id`, `src`) into the store's bucket count. The
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
  * per bucket with no network movement.
  *
  * Bucket count: ONE per store, shared by its four sub-stores (a
  * co-located join requires equal counts). The store's first landing
  * fixes it at the writing session's `spark.sql.shuffle.partitions` and
  * records it in the store's `_buckets` file; every later
  * (re)registration — a fresh session, [[dropTables]] then [[read]], or
  * [[land]] re-creating a sub-store a compaction emptied — declares the
  * recorded count, the one the files were written with, whatever the
  * current session's parallelism. The record is read through the Hadoop
  * FileSystem only when a table is (re)registered: no Spark job, and
  * nothing per view read. Why the session's parallelism: every bucketed
  * scan runs one task per bucket, and a join of a store with a side
  * that needs an exchange keeps the bucketed side and has
  * EnsureRequirements re-shuffle the other side into the bucket count
  * (into `spark.sql.shuffle.partitions`, re-shuffling the store side
  * too, when the count is below it). A count equal to the exchange
  * parallelism keeps the co-location and sizes the tick, its compaction
  * and the serve views by the session that runs them; a fixed count
  * above it runs them all in more, smaller task waves.
  *
  * Replay idempotency lives in the TABLE: every sub-store is created
  * with `OPTIONS (partitionOverwriteMode 'dynamic')`, so an overwriting
  * `insertInto` replaces exactly the landings it writes under ANY
  * session — the one the caller holds, a `foreachBatch` micro-batch
  * clone, or a foreign writer on the same session — and no land touches
  * a session conf. Measured on Spark 4.1.2 (`local[2]`, AQE on):
  * a writer-level `.option("partitionOverwriteMode", "dynamic")` on
  * `insertInto` is ignored (a static-session overwrite wiped the other
  * landing); the table storage property overwrote only its own landing
  * with the session explicitly `static`, for a table made by either a
  * CTAS write carrying the option or `CREATE TABLE … OPTIONS`; and
  * `CREATE TABLE … CLUSTERED BY … LOCATION` succeeds over a directory
  * that holds only `_SUCCESS`, so a first landing is a plain
  * `insertInto` too (1 job, bucket-id file names, a co-located join
  * of two such tables planned 0 Exchanges).
  *
  * The catalog entry is session-lifetime (in-memory catalog); the
  * FILES and the bucket record are the durable artifact. A fresh
  * session re-registers the table over the existing files (the same
  * `CREATE TABLE … LOCATION` at the recorded count + partition
  * recovery). A store with landings but no record predates the record
  * (unbucketed files, or files bucketed by a count nobody wrote down):
  * it is served as a plain parquet read — correct, just without the
  * co-location — and [[land]] refuses it. */
object AnnStore {

  private val Subs = Seq("vectors", "edges", "asg", "deletes")

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

  /** The store's bucket record (see the object doc). */
  private def recordPath(storePath: String) =
    new org.apache.hadoop.fs.Path(s"$storePath/_buckets")

  /** The recorded bucket count, or None for a store with no record. */
  private def recordedBuckets(spark: SparkSession, storePath: String): Option[Int] = {
    val (f, rec) = (fs(spark, storePath), recordPath(storePath))
    if (!f.exists(rec)) None
    else {
      val in = f.open(rec)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toInt) finally in.close()
    }
  }

  private def legacy(p: String) = new IllegalStateException(
    s"store $p holds landings but the store has no bucket record (a " +
      "pre-bucketing store, or one bucketed before the record); rebuild " +
      "the store (AnnStore cannot append bucketed landings to it)")

  /** The bucket count of a sub-store created over no landings: the
    * recorded one, else — the store's first landing — the writing
    * session's shuffle parallelism, recorded first (written aside and
    * renamed into place, so a crash leaves no partial record). A store
    * that has landings but no record predates the record: refused. */
  private def bucketsForLanding(spark: SparkSession, storePath: String): Int =
    synchronized { // landMany's first landing: one record for all its threads
      recordedBuckets(spark, storePath).getOrElse {
        Subs.find(sub => hasLandings(spark, subPath(storePath, sub)))
          .foreach(sub => throw legacy(subPath(storePath, sub)))
        val (f, rec) = (fs(spark, storePath), recordPath(storePath))
        val tmp = rec.suffix(s".${java.util.UUID.randomUUID}")
        val out = f.create(tmp, false)
        try out.write(spark.conf.get("spark.sql.shuffle.partitions").getBytes("UTF-8"))
        finally out.close()
        if (!f.rename(tmp, rec)) f.delete(tmp, false)
        recordedBuckets(spark, storePath).get
      }
    }

  /** The one DDL of a sub-store: an external bucketed parquet table
    * over `p`, partitioned by `__landing` and dynamic-overwrite by its
    * own storage property (see the object doc). */
  private def createTable(spark: SparkSession, t: String, p: String,
                          dataSchema: StructType, bucketCol: String, buckets: Int): Unit = {
    val cols = dataSchema.map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(s"""CREATE TABLE $t ($cols, `__landing` BIGINT)
      |USING parquet PARTITIONED BY (__landing)
      |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $buckets BUCKETS
      |OPTIONS (partitionOverwriteMode 'dynamic')
      |LOCATION '$p'""".stripMargin)
  }

  /** Register the catalog table over existing landed files (fresh
    * session reading a durable store) at the recorded bucket count.
    * Returns false when the store has no record — the caller falls
    * back to a plain path read. */
  private def registerOverFiles(spark: SparkSession, storePath: String,
                                sub: String, bucketCol: String): Boolean =
    recordedBuckets(spark, storePath).exists { buckets =>
      val (t, p) = (tableName(storePath, sub), subPath(storePath, sub))
      createTable(spark, t, p,
        StructType(spark.read.parquet(p).schema.filterNot(_.name == "__landing")),
        bucketCol, buckets)
      spark.sql(s"MSCK REPAIR TABLE $t")
      true
    }

  /** Land one landing of `df` into the `sub` store, bucketed by
    * `bucketCol` (idempotent per landing id — the table's dynamic
    * overwrite). */
  def land(spark: SparkSession, storePath: String, sub: String,
           df: DataFrame, landingId: Long, bucketCol: String): Unit = {
    val t = tableName(storePath, sub)
    val p = subPath(storePath, sub)
    val landed = hasLandings(spark, p)
    // a stale catalog entry whose files are gone (a dropped temp store,
    // a crash before the first files landed, or a compaction that
    // dropped every landing) is re-created over the empty directory
    if (!landed) spark.sql(s"DROP TABLE IF EXISTS $t")
    if (!spark.catalog.tableExists(t)) {
      if (!landed)
        createTable(spark, t, p, df.schema, bucketCol, bucketsForLanding(spark, storePath))
      else if (!registerOverFiles(spark, storePath, sub, bucketCol))
        // legacy files under this path: refuse to mix — a table declared
        // at a count the files were not written with mis-routes reads
        throw legacy(p)
    }
    val order = spark.table(t).schema.fieldNames
    df.withColumn("__landing", lit(landingId))
      .select(order.map(col): _*).write.mode("overwrite").insertInto(t)
    spark.catalog.refreshTable(t)
  }

  /** Runs lands off the calling thread on `threads` threads, started in
    * submission order — the tick's overlapped sinks (1 thread: FIFO, so
    * its manifest still lands last) and [[landMany]]'s concurrent group
    * (one thread per sub-store). One failure contract, for a failed
    * land and for a failure of the submitting body alike: the lands not
    * yet started are skipped, the running ones are WAITED for (never
    * interrupted — a caller's `scoped` block must not free checkpoint
    * blocks a running write still reads, and a retry must not overlap
    * it), then the first failure is rethrown. */
  private[graft] final class Lander private (threads: Int) {
    private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    private val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()

    private def fail(e: Throwable): Unit = { failure.compareAndSet(null, e); () }

    def submit(land: => Unit): Unit =
      pool.execute(new Runnable {
        override def run(): Unit =
          if (failure.get == null) try land catch { case e: Throwable => fail(e) }
      })

    /** Wait for every submitted land to finish or be skipped, then
      * rethrow the first failure. */
    def drain(): Unit = {
      pool.shutdown()
      while (!pool.awaitTermination(1, java.util.concurrent.TimeUnit.MINUTES)) ()
      Option(failure.get).foreach(e => throw e)
    }
  }

  private[graft] object Lander {
    /** Run `body` with a fresh lander, then drain it. */
    def apply(threads: Int)(body: Lander => Unit): Unit = {
      val lander = new Lander(threads)
      try body(lander) catch { case e: Throwable => lander.fail(e) }
      lander.drain()
    }
  }

  /** Land several sub-stores of ONE landing concurrently, one thread
    * per sub-store (guide §2.6: the lands are independent sinks — small
    * write jobs whose task waves and commit constants otherwise
    * serialize). Files, catalog state and crash behaviour are identical
    * to sequential [[land]] calls: each sub-store is a distinct table,
    * and a failure propagates only after every other land has finished
    * ([[Lander]]), leaving the same some-landings-without-manifest state
    * a sequential crash leaves. */
  def landMany(spark: SparkSession, storePath: String, landingId: Long,
               lands: Seq[(String, DataFrame, String)]): Unit =
    if (lands.nonEmpty) Lander(lands.size) { lander =>
      lands.foreach { case (sub, df, bc) =>
        lander.submit(land(spark, storePath, sub, df, landingId, bc))
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
    Subs.foreach { sub =>
      spark.sql(s"DROP TABLE IF EXISTS ${tableName(storePath, sub)}")
    }
}
