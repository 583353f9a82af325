package graft.tools

import graft.{Env, SparkEntry, Tables}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Dev measurement: shuffle volume and spill per query, via a
  * SparkListener over completed stages — the memory axis of the
  * 100× story (plan shapes argue it; this measures it). For each
  * named query: total shuffle bytes written/read, the PEAK single
  * stage's shuffle write (the partition-sizing constraint — that
  * stage's per-task slice must fit executor memory), and memory/disk
  * spill (nonzero spill at local scale means the shape is already
  * memory-tight).
  *
  * Usage: runMain graft.tools.ShuffleStats <sfDir> [query ...]
  */
object ShuffleStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("text_prep_pipeline", "dedup_minhash", "j9_equiv_closure")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.Tuning(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    final case class StageRow(id: Int, write: Long, read: Long,
                              memSpill: Long, diskSpill: Long)
    val stages = ArrayBuffer.empty[StageRow]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        stages.synchronized {
          stages += StageRow(sc.stageInfo.stageId,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead,
            m.memoryBytesSpilled, m.diskBytesSpilled)
        }
      }
    })

    val warmEnv = Env(spark, sfDir)
    Tables.names.foreach(t =>
      try warmEnv.table(t).count() catch { case _: Throwable => () })

    // Deliberately hub-skewed closure (pseudo-query "j9_hub_skew"):
    // the sf-derived equivalency graph PLUS one celebrity identifier
    // owning 10^4 edges — the skew shape the closure's Scaladoc argues
    // AQE absorbs; this measures it (SCALING.md row). Seeds include
    // the hub so its edges sit on the hot path at every level.
    def hubSkewClosure(): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions.{col, lit, max => smax}
      val env = Env(spark, sfDir)
      val n = env.customer.agg(smax(col("c_custkey"))).head().getLong(0) + 1
      val base = env.customer.select(
        col("c_custkey").as("src"),
        ((col("c_custkey") * 3 + 7) % n).as("dst"),
        (lit(0.75) + (col("c_custkey") % 5).cast("double") * 0.05)
          .as("strength"))
      val hub = spark.range(1, 10001).select(
        lit(0L).as("src"), ((col("id") * 37 + 11) % n).as("dst"),
        lit(0.9).as("strength"))
      val seeds = env.customer.filter(col("c_custkey") % 100 === 0)
        .select(col("c_custkey").as("seed"))
      graft.operators.EquivalencyClosure.closure(
        base.unionByName(hub), seeds, levels = 6, threshold = 0.5)
    }

    def mb(b: Long): String = f"${b / 1e6}%.1f"
    for (name <- names) {
      stages.synchronized(stages.clear())
      val t0 = System.nanoTime()
      (if (name == "j9_hub_skew") hubSkewClosure()
       else SparkEntry.queries(name)(spark, sfDir)).count()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1000) // listener bus drains asynchronously
      val rows = stages.synchronized(stages.toVector)
      val peak = if (rows.isEmpty) 0L else rows.map(_.write).max
      println(f"[shuffle] $name @ $sfDir: $sec%.2f s, " +
        s"stages=${rows.size}, " +
        s"shuffle_write_mb=${mb(rows.map(_.write).sum)}, " +
        s"shuffle_read_mb=${mb(rows.map(_.read).sum)}, " +
        s"peak_stage_write_mb=${mb(peak)}, " +
        s"mem_spill_mb=${mb(rows.map(_.memSpill).sum)}, " +
        s"disk_spill_mb=${mb(rows.map(_.diskSpill).sum)}")
    }
    spark.stop()
  }
}
