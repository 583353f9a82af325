package graft.tools

import graft.Env
import org.apache.spark.sql.SparkSession

/** Dev profiler: phase-level wall times of the LSH append lifecycle
  * (build commit / append commit / serve action) — attributes the
  * driver-side time JobProfile's per-job listener cannot see (job
  * commit, partition discovery, planning). */
object LshPhaseProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.Tuning(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val env = Env(spark, sfDir)
    import org.apache.spark.sql.functions.col
    def phase[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[phase] $name%-28s ${(System.nanoTime() - t0) / 1e9}%7.3f s")
      r
    }
    for (rep <- 1 to 2) {
      println(s"===== rep$rep =====")
      val dir = graft.queries.StreamQueries.freshScratch("lsh_phase_profile")
      phase("warm-src-count") {
        env.embeddings.filter(col("vec_id") % 7 =!= 0).count()
      }
      phase("build(lshWriteIndex)") {
        graft.operators.VectorSearch.lshWriteIndex(
          env.embeddings.filter(col("vec_id") % 7 =!= 0), dir)
      }
      phase("append(lshAppendIndex)") {
        graft.operators.VectorSearch.lshAppendIndex(spark, dir,
          env.embeddings.filter(col("vec_id") % 7 === 0))
      }
      phase("serve(lshServe+noop)") {
        graft.operators.VectorSearch.lshServe(spark, dir,
            graft.queries.AnnQueries.queriesDf(env), k = 5)
          .orderBy(col("qid"), col("rank"))
          .write.format("noop").mode("overwrite").save()
      }
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
