package graft.tools

import graft.Env
import org.apache.spark.sql.SparkSession

/** Dev tool: time the constructive media generators vs their full
  * queries and report stage parallelism — separates codec-kernel cost
  * from harness/generator cost when reading media bench numbers.
  *
  * Usage: runMain graft.tools.MediaProbe <sfDir>
  */
object MediaProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.Tuning(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val env = Env(spark, sfDir)
    def time(label: String)(f: => Long): Unit = {
      for (rep <- 1 to 2) {
        val t0 = System.nanoTime()
        val n = f
        println(f"$label rep$rep: ${(System.nanoTime() - t0) / 1e9}%.2f s (n=$n)")
      }
    }
    val audioDf = graft.queries.MultimodalQueries.audioMedia(env)
    println(s"audio generator partitions: ${audioDf.rdd.getNumPartitions}")
    time("audio generator only")(audioDf.count())
    val cached = audioDf.persist()
    cached.count()
    time("decodeAudio over cached media")(
      graft.operators.Multimodal.decodeAudio(cached).count())
    time("decodeAudio + orderBy over cached media")(
      graft.operators.Multimodal.decodeAudio(cached).orderBy("mediaId").count())
    cached.unpersist()
    time("mm_audio_stats full")(
      graft.queries.MultimodalQueries.mmAudioStats(env).count())
    val videoDf = graft.queries.MultimodalQueries.videoMedia(env)
    time("video generator only")(videoDf.count())
    time("mm_video_frames full")(
      graft.queries.MultimodalQueries.mmVideoFrames(env).count())
    spark.stop()
  }
}
