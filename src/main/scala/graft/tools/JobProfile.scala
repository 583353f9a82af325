package graft.tools

import graft.{Env, SparkEntry, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev profiler: run named registered queries (noop sink, warm session,
  * 2 reps) with a listener that prints every Spark JOB's wall time,
  * task count and the callsite/description — the measure-first step
  * for multi-job lifecycle entries (index build + mutate + audit),
  * where per-query totals hide WHICH of the ~dozens of jobs carry the
  * cost. Usage: SPARK_GRAFT_SF_DIR=… runMain graft.tools.JobProfile q…
  */
object JobProfile {
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

    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobTasks = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var enabled = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (enabled) {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobStart.put(js.jobId, (System.nanoTime(), desc))
        js.stageIds.foreach(sid => stageJob.put(sid, js.jobId))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (enabled) {
          val jid = stageJob.getOrDefault(sc.stageInfo.stageId, -1)
          if (jid >= 0)
            jobTasks.merge(jid, sc.stageInfo.numTasks, (a, b) => a + b)
        }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = if (enabled) {
        Option(jobStart.remove(je.jobId)).foreach { case (t0, desc) =>
          val sec = (System.nanoTime() - t0) / 1e9
          val nt = jobTasks.getOrDefault(je.jobId, 0)
          if (sec >= 0.02)
            println(f"[job] ${je.jobId}%4d ${sec}%7.3f s  tasks=$nt%4d  $desc")
        }
      }
    })

    val warmEnv = Env(spark, sfDir)
    Tables.names.foreach(t =>
      try warmEnv.table(t).count() catch { case _: Throwable => () })
    for (name <- args.toSeq; rep <- 1 to 2) {
      println(s"===== $name rep$rep =====")
      enabled = true
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      enabled = false
      println(f"[total] $name rep$rep: $sec%.2f s")
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.sharedState.cacheManager.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
