package graft

/** Plan-audit main: one JSON line per query with the AQE-final
  * physical-plan statistics the SURVEY §6 audits track — shuffle
  * exchanges, broadcast exchanges, BroadcastNestedLoopJoins and scan
  * read-schemas. Replays the audit reproducibly:
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 sbt "runMain graft.Audit" | grep '"query"'
  *
  * Each query is fully executed (collect) so `executedPlan` holds the
  * adaptive FINAL plan, not the pre-execution guess; run at sf0.01 —
  * audit shapes, not timings. A BroadcastNestedLoopJoin is not
  * automatically a defect (1-row/k-row broadcast build sides ride one
  * intentionally — q28/t08/s04); a RISE in these counts between
  * rounds is what to investigate. */
object Audit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.builder(Sessions.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val only = args.toSet
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.isEmpty || only(n))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.collect() // finalize AQE on THIS QueryExecution
        // AdaptiveSparkPlanExec.toString prints the final plan AND the
        // initial plan — keep only the final section or every count doubles
        val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
        def n(re: String): Int = re.r.findAllIn(plan).size
        val shuffles = n("Exchange (hash|range)partitioning")
        // a single-partition exchange funnels everything through one
        // task — the classic scale hazard; tracked as its own field so
        // a regression that introduces one shows in the AUDIT.json diff
        val single = n("Exchange SinglePartition")
        val bcasts = n("BroadcastExchange")
        val bnlj = n("BroadcastNestedLoopJoin")
        // a localCheckpoint()ed subtree surfaces as `Scan ExistingRDD`
        // and HIDES its upstream exchanges/parquet scans from this
        // final plan (they ran when the checkpoint materialized).
        // Count those roots explicitly — a query whose whole plan sits
        // on a checkpoint (s11, t10, d10, d11, q50) must not audit as
        // "0 scans / 0 shuffles" as if it read nothing.
        val rddScans = n("Scan ExistingRDD")
        val scans = n("Scan parquet") + rddScans
        // driver-built literal tables (VALUES weights, t12's vocab-sized
        // BPE merge table) — kept OUT of `scans` so literal-table rows
        // elsewhere don't shift, but reported so a plan rooted on one
        // (t12) doesn't audit as reading nothing at all
        val local = n("LocalTableScan")
        println(s"""{"query":"$name","shuffles":$shuffles,"single":$single,"broadcasts":$bcasts,"bnlj":$bnlj,"scans":$scans,"rdd":$rddScans,"local":$local}""")
      } catch {
        case e: Throwable =>
          println(s"""{"query":"$name","error":"${e.getClass.getSimpleName}"}""")
      }
    }
    spark.stop()
  }
}
