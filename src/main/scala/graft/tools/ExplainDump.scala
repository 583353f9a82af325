package graft.tools

import graft.SparkEntry

/** Dump `.explain("formatted")` for named registered queries to files —
  * the plan-evidence capture for optimization rounds (one
  * `<outDir>/<query>_<tag>.txt` per query). Constructing a lifecycle
  * query's DataFrame runs its eager build phase; the final plan is
  * captured without executing the returned frame.
  * Usage: runMain graft.tools.ExplainDump <sfDir> <outDir> <tag> <q>...
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val tag = args(2)
    val spark = graft.Tuning.session()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val qs = SparkEntry.queries
    args.drop(3).foreach { name =>
      try {
        val df = qs(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"), plan)
        println(s"[explain] $name -> $outDir/${name}_$tag.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
      }
      graft.Tuning.reset(spark)
    }
    spark.stop()
  }
}
