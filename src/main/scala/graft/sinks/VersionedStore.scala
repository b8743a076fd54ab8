package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Versioned dataset store with time travel — the storage layer the
  * ds14 snapshot-diff audit reads FROM: every `commit` lands only the
  * rows that changed (the Delta-lake delta-log idea on plain
  * partitioned parquet), and `read(v)` reconstructs ANY historical
  * version exactly. What a curation pipeline needs to answer "which
  * corpus version trained run X, and what changed since?" without
  * copying 100 TB per version.
  *
  * Layout: one parquet table partitioned by `__v`, each row tagged
  * `__op` ∈ {u, d} (upsert / delete); a version exists only once its
  * `_commit_<v>` marker file does (two-phase: files first, marker
  * after — crashed half-writes are invisible and get wiped by the
  * retry). Version 0 is the full initial corpus; version N stores
  *   - rows of `df` whose (key, content-hash) pair is NOT in version
  *     N−1 (new or changed rows, op `u`), and
  *   - version-N−1 rows whose key left the dataset (op `d`).
  * `checkpoint()` additionally lands the FULL reconstructed state as
  * one version and drops a `_ck_<v>` marker so later reads fold only
  * from the latest checkpoint — the cost bound for long histories.
  *
  * Scale stance: the commit diff maps each side to (keys, md5(json of
  * the non-key struct)) BEFORE its anti joins, so full rows cross a
  * shuffle only when they actually changed; `read` is one window pass
  * over the deltas since the last checkpoint (≤ corpus + changes), one
  * shuffle on the key. Commit cost includes one reconstruction of the
  * previous version — bounded by the same checkpoint cadence. All
  * hashes are md5 (deterministic: re-running a commit of identical
  * data produces an EMPTY delta, which is skipped — committing the
  * same corpus twice is a no-op, the property that makes retried
  * pipeline runs safe).
  */
/** A concurrent committer landed (or marker-claimed) the same version
  * number first. The store's data is intact — the winning commit is
  * fully visible; the losing writer should re-read `versions()` and
  * re-commit its delta on top. */
class VersionConflictException(msg: String) extends RuntimeException(msg)

object VersionedStore {

  /** Content hash over the non-key columns in a FIXED (sorted-name)
    * order; to_json is null-safe and type-tagged. */
  private def hashed(df: DataFrame, keys: Seq[String]) = {
    val content = df.columns.filterNot(keys.contains).sorted
    df.withColumn("__h", md5(to_json(struct(content.map(col).toIndexedSeq: _*))))
  }

  private def fs(spark: SparkSession, path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed version numbers, ascending (empty for a fresh path).
    * A version COUNTS only once its `_commit_<v>` marker exists — the
    * marker is dropped strictly AFTER the partition's parquet files
    * land, so a crashed half-written `__v=N` directory is invisible
    * here (and is wiped and rewritten by the retrying commit): the
    * two-phase rule that keeps retried pipeline runs safe. */
  def versions(spark: SparkSession, path: String): Seq[Int] = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_commit_")).map(_.stripPrefix("_commit_").toInt).sorted
  }

  /** Write one version partition with single-winner semantics: land
    * the files in a private temp dir, atomically RENAME it to
    * `__v=<v>` (the CAS — rename fails if a concurrent committer
    * already landed that version), then drop the commit marker with
    * create-if-absent. Two committers that both computed `next = v`
    * can no longer interleave files under one version: exactly one
    * rename wins, the loser gets a VersionConflictException and its
    * temp dir is removed. A crashed prior attempt (directory present,
    * no marker) is wiped before the rename as before. */
  private[graft] def writeVersion(spark: SparkSession, path: String, df: DataFrame,
                                  v: Int): Unit = {
    val f = fs(spark, path)
    val dir = new Path(path, s"__v=$v")
    val marker = new Path(path, s"_commit_$v")
    if (f.exists(marker))
      throw new VersionConflictException(s"version $v already committed at $path")
    if (f.exists(dir)) f.delete(dir, true) // crashed, unmarked attempt
    val tmp = new Path(path, s"_tmp_${v}_${java.util.UUID.randomUUID}")
    // plain (un-partitioned) parquet in the temp dir; the __v value is
    // carried by the final directory name, exactly as partitionBy laid
    // it out before — partition discovery infers it on read
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (!f.rename(tmp, dir)) {
      f.delete(tmp, true)
      throw new VersionConflictException(
        s"version $v at $path was committed concurrently; retry on top of it")
    }
    try f.create(marker, false).close()
    catch { case _: java.io.IOException =>
      throw new VersionConflictException(
        s"version $v at $path was marker-claimed concurrently")
    }
  }

  /** Checkpointed versions (those whose `_ck_<v>` marker exists). */
  private def checkpoints(spark: SparkSession, path: String): Seq[Int] = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("_ck_")).map(_.stripPrefix("_ck_").toInt).sorted
  }

  /** Commit `df` as the next version; returns its version number, or
    * the current latest if nothing changed (empty deltas are not
    * committed). `df` must be unique on `keys`. */
  def commit(spark: SparkSession, path: String, df: DataFrame,
             keys: Seq[String]): Int = {
    require(keys.nonEmpty && keys.forall(df.columns.contains),
      s"keys $keys must be columns of ${df.columns.toSeq}")
    val vs = versions(spark, path)
    val dataCols = df.columns.toSeq
    if (vs.isEmpty) {
      writeVersion(spark, path, df.withColumn("__op", lit("u")), 0)
      return 0
    }
    val prev = read(spark, path, vs.last, keys)
    val newH = hashed(df, keys)
    val oldH = hashed(prev, keys)
    val hashKeys = keys :+ "__h"
    // new or changed full rows
    val upserts = newH.join(oldH.select(hashKeys.map(col): _*), hashKeys, "left_anti")
      .select(dataCols.map(col): _*).withColumn("__op", lit("u"))
    // departed keys: previous row retagged as a delete (values ignored)
    val deletes = prev.join(df.select(keys.map(col): _*), keys, "left_anti")
      .select(dataCols.map(col): _*).withColumn("__op", lit("d"))
    // materialize ONCE: the emptiness probe and the write would
    // otherwise each run the full reconstruction + diff pipeline
    graft.Checkpoints.scoped {
      val delta = graft.Checkpoints.stabilize(upserts.unionByName(deletes))
      if (delta.isEmpty) vs.last
      else {
        val next = vs.last + 1
        writeVersion(spark, path, delta, next)
        next
      }
    }
  }

  /** Reconstruct version `version` exactly: fold the deltas since the
    * newest checkpoint ≤ `version` — per key the latest row wins,
    * deletes drop the key. One shuffle on the key. */
  def read(spark: SparkSession, path: String, version: Int,
           keys: Seq[String]): DataFrame = {
    val vs = versions(spark, path)
    require(vs.contains(version), s"version $version not in $vs")
    val from = checkpoints(spark, path).filter(_ <= version).lastOption.getOrElse(0)
    // committed versions only: an uncommitted tip directory (crashed
    // writer) must not leak into reconstruction
    val live = vs.filter(v => v >= from && v <= version)
    val all = spark.read.parquet(path)
      .filter(col("__v").isin(live: _*))
    val w = Window.partitionBy(keys.map(col).toIndexedSeq: _*).orderBy(col("__v").desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && col("__op") === "u")
      .drop("__rn", "__op", "__v")
  }

  /** Land the CURRENT state as a full version + checkpoint marker, so
    * later reads fold from here instead of version 0. Returns the
    * checkpoint's version number. */
  def checkpoint(spark: SparkSession, path: String, keys: Seq[String]): Int = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, "nothing committed yet")
    val next = vs.last + 1
    graft.Checkpoints.scoped {
      val cur = graft.Checkpoints.stabilize(read(spark, path, vs.last, keys))
      writeVersion(spark, path, cur.withColumn("__op", lit("u")), next)
    }
    fs(spark, path).create(new Path(path, s"_ck_$next"), true).close()
    next
  }
}
