package graft
import java.nio.file.{Files, Paths}

/** Plan dumper for the optimization-round evidence trail: writes
  * `.explain("formatted")` of each named query (every query when none
  * named) to `<outDir>/<query>_<tag>.txt`. Usage:
  *
  *   runMain graft.Plans <sfDir> <outDir> <tag> [query ...]
  *
  * The dump is the PRE-execution plan (AdaptiveSparkPlan
  * isFinalPlan=false) — shape claims (Exchange count, join strategy,
  * PushedFilters/ReadSchema) are all visible there; AQE-final runtime
  * plan shapes live in AUDIT.json (graft.Audit). */
object Plans {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, tag) = (args(0), args(1), args(2))
    val only = args.drop(3).toSet
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), txt)
          println(s"PLANOK $name")
        } catch { case e: Throwable =>
          System.err.println(s"[plans] $name failed: ${e.getMessage}")
        }
      }
    spark.stop()
  }
}
