package graft

import org.apache.spark.sql.functions._

/** Scratch phase-timer for the st16/st17/st18 tick walls (round-17
  * optimization evidence; not part of the query surface). */
object TickProbe {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val s = Sessions.builder(Sessions.cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    def t[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"PHASE $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val all = Tables.t(s, dir, "embeddings")
      .select(col("vec_id"), F.asDouble(col("embedding")).as("v"))
    val m10 = pmod(col("vec_id"), lit(10))
    // warm pass (footers, codegen) — mirror of the bench's warm+timed
    (1 to 2).foreach { pass =>
      println(s"== pass $pass")
      val store = java.nio.file.Files.createTempDirectory("graft_probe_ann_").toString
      t("tick0_build")(graft.streaming.StreamOps.annIndexTick(s, store,
        all.filter(m10 =!= 7 && m10 =!= 8), "vec_id", "v",
        r = 8, beam = 4, hops = 3, landingId = 0L))
      t("tick1_del_ins")(graft.streaming.StreamOps.annIndexTick(s, store,
        all.filter(m10 === 8), "vec_id", "v",
        r = 8, beam = 4, hops = 3, landingId = 1L,
        deletes = all.filter(m10 === 9)))
      t("compact")(graft.streaming.StreamOps.annIndexCompact(s, store, upTo = 2L))
      t("tick2_ins")(graft.streaming.StreamOps.annIndexTick(s, store,
        all.filter(m10 === 7), "vec_id", "v",
        r = 8, beam = 4, hops = 3, landingId = 2L))
      t("report") {
        graft.streaming.StreamOps.annIndexReport(s, store)
          .select(col("src"), col("dst"), F.r6(col("cos")).as("cos_sim"))
          .orderBy("src", "dst")
          .write.format("noop").mode("overwrite").save()
      }
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(store))
      graft.sinks.AnnStore.dropTables(s, store)
    }
    s.stop()
  }
}
