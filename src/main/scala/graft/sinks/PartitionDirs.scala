package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

/** The one owner of the partitioned stores' directory layout: a store
  * root holds one `col=value` directory per partition value — the unit
  * of pruning ([[MergeWriter.prunedRead]]), merge, compaction and
  * landing ([[AnnStore]], the `__landing=N` stores). Every listing,
  * parse and build of such a name goes through here.
  *
  * Encode/decode contract: a directory name is
  * `col=escapePathName(String.valueOf(value))`, the encoding Spark's
  * own partitioned writer uses, and a listed name decodes with
  * `unescapePathName`, its exact inverse (the one Spark's partition
  * discovery applies). `escapePathName` percent-encodes only a fixed
  * set of path-hostile characters (`/`, `=`, `%`, `:`, …) and leaves
  * everything else, `+` included, as it is.
  * `java.net.URLDecoder` is NOT its inverse: it decodes form encoding,
  * where `+` means space, so a `sym=A+B` directory would decode to
  * `A B`, a value that names no directory: a compaction looking it up
  * finds nothing, and one writing it back duplicates the partition. */
private[graft] object PartitionDirs {

  /** The directory name holding `value`'s rows of partition column `col`. */
  def dirName(col: String, value: Any): String =
    s"$col=${ExternalCatalogUtils.escapePathName(String.valueOf(value))}"

  /** The `col=value` directories directly under `root` as (decoded
    * value, path); empty when `root` is missing. Other entries
    * (`_SUCCESS`, `_temporary`, another column's dirs) are skipped. */
  def list(spark: SparkSession, root: String, col: String): Seq[(String, Path)] = {
    val dir = new Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val prefix = col + "="
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(prefix) =>
        (ExternalCatalogUtils.unescapePathName(st.getPath.getName.drop(prefix.length)),
          st.getPath)
    }
  }

  /** Delete the `col=value` directories under `root` whose decoded value
    * satisfies `doomed`.
    * @return the values dropped */
  def drop(spark: SparkSession, root: String, col: String)
          (doomed: String => Boolean): Seq[String] =
    list(spark, root, col).collect { case (v, p) if doomed(v) =>
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      v
    }
}
