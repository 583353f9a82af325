package graft.tools

import graft.SparkEntry

/** Dev tool: print the formatted physical plan for one or more
  * registered queries (plan audits per the 100 TB posture).
  * Usage: runMain graft.tools.Explain <sfDir> <queryName>...
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Tuning.session()
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
