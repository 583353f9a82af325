package graft.tools

import graft.Env
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: output-pair counts and block-size profile for the f3/m5
  * similarity joins at one or more SF dirs — separates true output
  * growth (pairs the oracle itself emits) from candidate-iteration
  * growth when reading sf1 scaling numbers.
  *
  * Usage: runMain graft.tools.BlockStats <sfDir> [<sfDir> ...]
  */
object BlockStats {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.Tuning(SparkSession.builder()).master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (dir <- args.toSeq) {
      val env = Env(spark, dir)
      val f3 = graft.queries.Functions.f3BlockedSimilarity(env).count()
      val m5 = graft.queries.ScoringQueries.m5EquivStrength(env).count()
      val blocks = env.part
        .groupBy(col("p_brand"), split(col("p_name"), " ").getItem(0)).count()
      val s = blocks.agg(count(lit(1)), max("count"),
        sum(col("count") * col("count"))).collect()(0)
      println(s"DIR=$dir f3_pairs=$f3 m5_pairs=$m5 " +
        s"blocks=${s.getLong(0)} max_block=${s.getLong(1)} sum_m2=${s.getLong(2)}")
    }
    spark.stop()
  }
}
