package graft.tools

import scala.collection.mutable

import graft.{Bench, SparkEntry, Tuning}
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Dev profiler: runs the named registry entries at SPARK_GRAFT_SF_DIR,
  * 2 reps each, with Bench's session, warm-up, noop sink and
  * between-entry reset, and splits each rep's wall time into Spark jobs
  * and the driver work between them. It prints a `[job]` line for every
  * job of ≥ 20 ms (id, seconds, tasks, description) — where per-entry
  * totals hide WHICH of a lifecycle entry's dozens of jobs carry the
  * cost — and one `[total]` line per rep: wall time; driver-only time,
  * i.e. wall minus the union of job intervals (planning, job commit,
  * partition discovery, driver-side FS work); jobs; tasks; shuffle
  * write/read; the peak single stage's shuffle write (that stage's
  * per-task slice must fit executor memory); memory and disk spill.
  * Usage: SPARK_GRAFT_SF_DIR=… runMain graft.tools.Profile q1 q2 …
  */
object Profile {
  /** Everything one rep's jobs and stages did. Callbacks run on the
    * listener-bus thread; the main thread reads after a drain. */
  private final class Rep extends SparkListener {
    private val started = mutable.Map[Int, (Long, String)]()
    private val stageJob = mutable.Map[Int, Int]()
    private val jobTasks = mutable.Map[Int, Long]().withDefaultValue(0L)
    private val intervals = mutable.ArrayBuffer[(Long, Long)]()
    private val sqlDesc = mutable.Map[String, String]()
    var tasks, shuffleW, shuffleR, peakW, memSpill, diskSpill = 0L

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized(sqlDesc(s.executionId.toString) = s.description)
      case _ =>
    }

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      // A job names the query action it serves (e.g. "collect at
      // IndexCommit.scala:530"): AQE runs broadcast and subquery jobs
      // on pool threads whose own call site is a JDK future, so the
      // SQL execution's description comes first, then the job's
      // result (last) stage's call site.
      def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
      val desc = prop("spark.job.description")
        .orElse(prop("spark.sql.execution.id").flatMap(sqlDesc.get))
        .getOrElse(js.stageInfos.map(s => (s.stageId, s.name)).maxOption.fold("")(_._2))
      started(js.jobId) = (js.time, desc)
      js.stageIds.foreach(stageJob(_) = js.jobId)
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
      val si = sc.stageInfo
      stageJob.get(si.stageId).foreach(jobTasks(_) += si.numTasks)
      tasks += si.numTasks
      Option(si.taskMetrics).foreach { m =>
        val w = m.shuffleWriteMetrics.bytesWritten
        shuffleW += w; peakW = peakW max w
        shuffleR += m.shuffleReadMetrics.totalBytesRead
        memSpill += m.memoryBytesSpilled; diskSpill += m.diskBytesSpilled
      }
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      started.remove(je.jobId).foreach { case (t0, desc) =>
        intervals += ((t0, je.time))
        val sec = (je.time - t0) / 1e3
        if (sec >= 0.02)
          println(f"[job] ${je.jobId}%4d $sec%7.3f s  tasks=${jobTasks(je.jobId)}%4d  $desc")
      }
    }

    def jobs: Int = synchronized(intervals.size)

    /** Milliseconds of [t0, t1] during which at least one job ran. */
    def jobMs(t0: Long, t1: Long): Long = synchronized {
      var covered = 0L
      var reach = t0
      for ((s, e) <- intervals.sortBy(_._1)) {
        val a = s max reach; val b = e min t1
        if (b > a) { covered += b - a; reach = b }
      }
      covered
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the SF data directory to profile"))
    val spark = Tuning.session()
    Bench.warm(spark, sfDir)
    val queries = SparkEntry.queries
    def mb(b: Long): String = f"${b / 1e6}%.1f"
    for (name <- args.toSeq; rep <- 1 to 2) {
      println(s"===== $name rep$rep =====")
      val r = new Rep
      spark.sparkContext.addSparkListener(r)
      val t0 = System.currentTimeMillis()
      Bench.noopWrite(queries(name)(spark, sfDir))
      val t1 = System.currentTimeMillis()
      ListenerBus.drain(spark)
      spark.sparkContext.removeSparkListener(r)
      println(f"[total] $name rep$rep: wall=${(t1 - t0) / 1e3}%.2f s " +
        f"driver_only=${(t1 - t0 - r.jobMs(t0, t1)) / 1e3}%.2f s " +
        s"jobs=${r.jobs} tasks=${r.tasks} " +
        s"shuffle_write_mb=${mb(r.shuffleW)} shuffle_read_mb=${mb(r.shuffleR)} " +
        s"peak_stage_write_mb=${mb(r.peakW)} " +
        s"mem_spill_mb=${mb(r.memSpill)} disk_spill_mb=${mb(r.diskSpill)}")
      Tuning.reset(spark)
      System.gc()
    }
    spark.stop()
  }
}
