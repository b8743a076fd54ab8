package graft

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** The one way `src/main` materializes a frame (a lineage cut).
  *
  * [[stabilize]] is the materialization call: `localCheckpoint` by
  * default, reliable `checkpoint` when [[ReliableKey]] is set, and the
  * result is always registered with the enclosing [[scoped]] block, so
  * a block that materializes frames releases their storage when it
  * exits. [[fresh]] is `stabilize` followed by an `RDD[Row]` round
  * trip, for the few plans that must not carry the origin's
  * constraints (see its doc). No other code in `src/main` calls
  * `localCheckpoint` or `checkpoint` — CheckpointsSpec enforces it.
  *
  * Both calls EXECUTE the frame before they return: every job of the
  * frame runs, and its rows are in storage, when the call returns. An
  * operator that stabilizes an intermediate therefore executes while
  * it is built, not when its result is first read. Stabilize a frame
  * only on the paths that read it: a frame stabilized on a path that
  * never reads it is computed for nothing.
  *
  * Storage release: `Dataset.unpersist()` only clears CacheManager
  * entries; a local checkpoint's blocks live on the underlying RDD and
  * otherwise stay pinned in executor storage until the session ends.
  * [[scoped]] frees what was materialized inside it; call [[free]]
  * directly only where a frame's end of life comes before the scope's
  * — a temporary that a returned result must outlive, or the previous
  * round of an iterative loop once the next round has materialized.
  * Either way the frame's lineage is truncated, so a later access
  * WOULD fail: freeing is deliberate end-of-life.
  *
  * The scope is thread-local: a frame materialized on another thread
  * (e.g. the tick's background lander) is not captured by the
  * caller's [[scoped]] block.
  *
  * Reliable mode writes files under `SparkContext.setCheckpointDir`
  * that [[free]] does not delete. A continuous loop in reliable mode
  * should run with Spark's
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, so the
  * files of collected checkpoints are removed — a deployment setting,
  * not a graft option. */
object Checkpoints {

  /** Session conf key: when `true`, [[stabilize]] uses RELIABLE
    * `Dataset.checkpoint` (files under `SparkContext.setCheckpointDir`,
    * which must be set — on a cluster, a DFS path) instead of
    * `localCheckpoint`. Local checkpoints pin blocks in executor
    * storage and are LOST on executor death — fine for a dev loop,
    * a reliability risk for a long 100 TB iterative job, where one
    * preempted executor would fail the whole computation. */
  val ReliableKey = "spark.graft.checkpoint.reliable"

  /** Materialize `ds` now and truncate its lineage: `localCheckpoint`
    * by default, reliable `checkpoint` when [[ReliableKey]] is set, and
    * registered with the enclosing [[scoped]] block (none active: the
    * blocks stay until GC). The result is plan-identical either way (a
    * LogicalRDD leaf), so operator output does not depend on the mode
    * — only failure recovery does (spec-pinned in Round9Spec). */
  def stabilize[T](ds: Dataset[T]): Dataset[T] = {
    val s = ds.sparkSession
    val ck =
      if (s.conf.get(ReliableKey, "false").toBoolean) {
        require(s.sparkContext.getCheckpointDir.isDefined,
          s"$ReliableKey=true requires SparkContext.setCheckpointDir " +
            "(a DFS path on a cluster) before running iterative operators")
        ds.checkpoint()
      } else ds.localCheckpoint()
    val b = scope.get()
    if (b != null) b += ck
    ck
  }

  /** [[stabilize]] that deliberately DROPS the origin plan's
    * statistics and constraints: Spark 4.1's `LogicalRDD` carries the
    * checkpointed plan's constraints rewritten to the new output, and
    * a Union over such leaves inside a deep composed plan can crash
    * constraint rewriting with `key not found: attr#N` (observed at
    * probe scale in the tick's delete+insert composition; AQE
    * re-optimization walks the constraints the gate-scale plan never
    * touches). Round-tripping through an `RDD[Row]` yields a clean
    * leaf with the same materialize-once behavior. It is a separate
    * function, not a flag of [[stabilize]]: the round trip also drops
    * the statistics and output partitioning, which would change the
    * plans of every other site. */
  def fresh(df: DataFrame): DataFrame = {
    val ck = stabilize(df)
    ck.sparkSession.createDataFrame(ck.rdd, ck.schema)
  }

  def free(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ => ()
    }

  private val scope =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[Dataset[_]]]()

  /** Run `body` with a checkpoint-tracking scope: every frame
    * [[stabilize]]d inside it on this thread is [[free]]d when the
    * block exits. A CONTINUOUS loop calls bounded ticks and
    * micro-batches forever — without this, each one's checkpoint
    * blocks pin executor storage until a GC happens to collect the
    * driver-side references, and a day of micro-batches fills the
    * store's disk with dead blocks (observed: the ×100 anntick probe
    * transiently eating ~76 GB). So a block must consume everything it
    * materialized before it returns (a tick lands it, a micro-batch
    * writes it): its result must not be a frame built on them. */
  def scoped[T](body: => T): T = {
    val prev = scope.get()
    val buf = new scala.collection.mutable.ArrayBuffer[Dataset[_]]()
    scope.set(buf)
    try body finally {
      buf.foreach(ds => try free(ds) catch { case _: Throwable => () })
      scope.set(prev)
    }
  }
}
