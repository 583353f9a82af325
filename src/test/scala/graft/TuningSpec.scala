package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The suite tests the engine Bench, Verify and perfbench run: the
  * shared test session is [[Tuning.session]]'s, down to the `file://`
  * filesystem and the output committer. */
class TuningSpec extends SparkSpec {
  test("the test session is Tuning.session(4): shipped filesystem, committer and confs") {
    val hadoop = spark.sparkContext.hadoopConfiguration
    val fs = new Path("file:///").getFileSystem(hadoop)
    assert(fs.isInstanceOf[FastLocalFileSystem], fs.getClass.getName)
    assert(hadoop.get("mapreduce.fileoutputcommitter.algorithm.version") == "2")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") == "1024")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    Seq("spark.ui.retainedJobs", "spark.ui.retainedStages",
      "spark.sql.ui.retainedExecutions")
      .foreach(k => assert(spark.sparkContext.getConf.get(k) == "50", k))
    // the extension-session specs switch the thread's active session
    SparkSession.setActiveSession(spark)
    assert(Tuning.session(4) eq spark)
  }
}
