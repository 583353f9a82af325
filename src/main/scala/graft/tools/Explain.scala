package graft.tools

import graft.{Env, SparkEntry}
import org.apache.spark.sql.SparkSession

/** Dev tool: print the formatted physical plan for one or more
  * registered queries (plan audits per the 100 TB posture).
  * Usage: runMain graft.tools.Explain <sfDir> <queryName>...
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.Tuning(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val qs = SparkEntry.queries
    args.drop(1).foreach { name =>
      println(s"===== $name =====")
      val df = qs(name)(spark, sfDir)
      df.explain()
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"[time] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s, $n rows")
    }
    spark.stop()
  }
}
