package graft.tools

import graft.{Env, SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

/** Dev micro-bench: time the named registered queries (2 reps each, warm
  * session) at SPARK_GRAFT_SF_DIR. `runMain graft.tools.BenchSome q1 q2 …`
  */
object BenchSome {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.Tuning(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val warmEnv = Env(spark, sfDir)
    Tables.names.foreach(t => try warmEnv.table(t).count() catch { case _: Throwable => () })
    for (name <- args.toSeq; rep <- 1 to 2) {
      val t0 = System.nanoTime()
      // noop write, matching graft.Bench: evaluates every output row
      // (count() would let the optimizer delete unused joins/sorts)
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(f"$name rep$rep: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      // same between-runs hygiene as graft.Bench (outside the timed
      // window): drop leaked checkpoint blocks, keep the cleaner fed
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
